"""The ROC-family metrics (A10/A12) against a brute-force numpy sweep."""

import numpy as np
import pytest

from photon_ml_spark.functions import metrics


def _brute(score, label, weight):
    """Tie-grouped sweep in descending score order: trapezoid AUROC,
    trapezoid AUPR from (recall 0, precision 1), and peak F1."""
    P = float(np.sum(weight * label))
    N = float(np.sum(weight * (1 - label)))
    tp = fp = area = pr = 0.0
    best = 0.0
    for s in np.unique(score)[::-1]:
        m = score == s
        pos = float(np.sum(weight[m] * label[m]))
        neg = float(np.sum(weight[m] * (1 - label[m])))
        ptp, pfp = tp, fp
        tp, fp = tp + pos, fp + neg
        area += neg * (ptp + tp) / 2
        pprec = ptp / (ptp + pfp) if ptp + pfp > 0 else 1.0
        pr += pos * (tp / (tp + fp) + pprec) / 2
        best = max(best, 2 * tp / (tp + fp + P))
    return area / (P * N), pr / P, best


def _cases():
    rng = np.random.default_rng(7)
    n = 400
    cont = rng.normal(size=n)
    yield "weighted", cont, (rng.random(n) < 1 / (1 + np.exp(-cont))), \
        rng.random(n) * 3 + 0.05
    ties = rng.integers(0, 6, size=n).astype(float)
    yield "heavy_ties", ties, rng.random(n) < ties / 6, rng.random(n) + 0.5
    yield "one_score", np.full(60, 0.25), np.arange(60) % 3 == 0, \
        np.ones(60)
    yield "unweighted", np.round(cont, 1), rng.random(n) < 0.4, np.ones(n)


@pytest.mark.parametrize("buckets", [4096, 3], ids=["one_per_bucket",
                                                   "many_per_bucket"])
def test_roc_metrics_match_brute_force(spark, monkeypatch, buckets):
    monkeypatch.setattr(metrics, "ROC_BUCKETS", buckets)
    for name, s, y, w in _cases():
        y = y.astype(float)
        df = spark.createDataFrame(
            [(float(a), float(b), float(c)) for a, b, c in zip(s, y, w)],
            "score double, label double, weight double",
        )
        want = _brute(s, y, w)
        got = (
            metrics.auroc(df, weight="weight").first()[0],
            metrics.aupr(df, weight="weight").first()[0],
            metrics.peak_f1(df, weight="weight").first()[0],
        )
        for metric, g, e in zip(("auroc", "aupr", "peak_f1"), got, want):
            assert g == pytest.approx(e, abs=1e-12), (name, metric)
