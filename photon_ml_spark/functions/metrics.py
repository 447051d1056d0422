"""Evaluation suite (SURVEY §2.4 A9–A13) as one-pass aggregations.

Every metric is a Catalyst aggregation / window computation over a
scored DataFrame with columns (score, label, weight) — no collect, no
Python in the hot path, so the same code evaluates 60k rows or 100 TB.

Mirrors photon-api/.../evaluation/{RMSE,SquaredLoss,LogisticLoss,
PoissonLoss,SmoothedHingeLoss}Evaluator.scala, AreaUnderROCCurveEvaluator
(local kernel AreaUnderROCCurveLocalEvaluator.scala:25-72),
PrecisionAtKLocalEvaluator.scala:29-53, MultiEvaluator.scala:36-90, and
the legacy suite photon-client/.../evaluation/Evaluation.scala:40-165.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from photon_ml_spark.functions import links


def _w(weight: str | None) -> Column:
    return F.col(weight) if weight else F.lit(1.0)


# ---------------------------------------------------------------- simple aggs

def weighted_rmse(df: DataFrame, score="score", label="label", weight=None) -> DataFrame:
    w = _w(weight)
    d = F.col(score) - F.col(label)
    return df.agg(F.sqrt(F.sum(w * d * d) / F.sum(w)).alias("rmse"))


def weighted_mae(df: DataFrame, score="score", label="label", weight=None) -> DataFrame:
    w = _w(weight)
    return df.agg((F.sum(w * F.abs(F.col(score) - F.col(label))) / F.sum(w)).alias("mae"))


def loss_metric(
    df: DataFrame, kind: str, margin="score", label="label", weight=None
) -> DataFrame:
    """Weighted-mean pointwise loss; kind ∈ {logistic, squared, poisson,
    smoothed_hinge} (A9). The margin column is the raw model score
    (score + offset at evaluation time, GameTransformer.scala:285-305)."""
    fns = {
        "logistic": links.logistic_loss,
        "squared": links.squared_loss,
        "poisson": links.poisson_loss,
        "smoothed_hinge": links.smoothed_hinge_loss,
    }
    loss = fns[kind](F.col(margin), F.col(label))
    w = _w(weight)
    return df.agg((F.sum(w * loss) / F.sum(w)).alias(f"{kind}_loss"))


# ------------------------------------------------------------------- AUC family

#: Number of equi-width score buckets ``_roc_fold`` splits the distinct
#: scores into. One task folds each bucket over its own sorted
#: (s, pos, neg) array, so per-task work and memory are O(distinct
#: scores in the bucket), never O(all distinct scores); the
#: cross-bucket step only sees the ≤ ROC_BUCKETS bucket totals (a
#: broadcast self-join of at most ROC_BUCKETS² pairs). Read at call
#: time.
ROC_BUCKETS = 4096


def _roc_fold(df: DataFrame, score, label, weight, term, combine,
              init) -> DataFrame:
    """Fold ``term`` over every tie-grouped ROC point in descending
    score order, in ONE plan; returns one row per non-empty bucket
    with the bucket's folded value ``v`` and the global totals
    ``total_pos``/``total_neg``.

    1. tie-group by exact score → (s, pos, neg) (the only shuffle of
       the scored rows);
    2. broadcast the global min/max/totals and assign each distinct
       score to one of ``ROC_BUCKETS`` equi-width ranges
       (``width_bucket`` — deterministic, no sampling; higher bucket =
       higher scores);
    3. per bucket: its totals, and its points as one array sorted by
       score descending;
    4. per bucket: positives/negatives of all strictly higher buckets
       (a broadcast join of the ≤ ``ROC_BUCKETS`` bucket totals with
       themselves) — the fold's starting point;
    5. per bucket: an ``F.aggregate`` fold over the sorted array that
       carries the cumulative (tp, fp) and combines
       ``term(prev_tp, prev_fp, tp, fp, pos, neg, total_pos)`` into
       ``v`` with ``combine(v, term)``, starting from ``init``.

    The stats, totals and points branches all read the tie-group
    exchange, and Spark runs it once for all of them, so nothing is
    cached between calls. (Adaptive execution shares that exchange
    only when the input is not a cached relation: over a ``persist``-ed
    frame each branch re-runs its scan and shuffle — evaluate a
    ``localCheckpoint`` instead.) Equi-width buckets can be uneven on
    very skewed score distributions: a bucket's sorted array is held by
    one task, so the densest score range bounds per-task memory.
    """
    w = _w(weight)
    g = df.groupBy(F.col(score).alias("s")).agg(
        F.sum(w * F.col(label)).cast("double").alias("pos"),
        F.sum(w * (F.lit(1.0) - F.col(label))).cast("double").alias("neg"),
    )
    buckets = ROC_BUCKETS
    stats = g.agg(
        F.min("s").alias("__lo"), F.max("s").alias("__hi"),
        F.sum("pos").alias("total_pos"), F.sum("neg").alias("total_neg"),
    )
    gb = g.join(F.broadcast(stats)).select(
        "s", "pos", "neg", "total_pos", "total_neg",
        F.when(
            F.col("__hi") > F.col("__lo"),
            F.least(
                F.lit(buckets),
                F.width_bucket("s", "__lo", "__hi", F.lit(buckets)),
            ),
        ).otherwise(F.lit(1)).alias("__bkt"),
    )
    keys = ["__bkt", "total_pos", "total_neg"]
    totals = gb.groupBy(*keys).agg(
        F.sum("pos").alias("__tp"), F.sum("neg").alias("__tn")
    )
    higher = totals.select(
        F.col("__bkt").alias("__hb"), F.col("__tp").alias("__htp"),
        F.col("__tn").alias("__htn"),
    )
    above = F.col("__hb") > F.col("__bkt")
    # grouping by the bucket's own totals too keeps both join sides the
    # same aggregate, so Spark runs it once
    offsets = (
        totals.crossJoin(F.broadcast(higher))
        .groupBy(*keys, "__tp", "__tn")
        .agg(
            F.sum(F.when(above, F.col("__htp")).otherwise(0.0)).alias("__op"),
            F.sum(F.when(above, F.col("__htn")).otherwise(0.0)).alias("__on"),
        )
        .drop("__tp", "__tn")
    )
    points = gb.groupBy(*keys).agg(
        F.sort_array(
            F.collect_list(F.struct("s", "pos", "neg")), asc=False
        ).alias("__pts")
    )
    P = F.col("total_pos")

    def step(acc, x):
        tp, fp = acc["tp"] + x["pos"], acc["fp"] + x["neg"]
        t = term(acc["tp"], acc["fp"], tp, fp, x["pos"], x["neg"], P)
        return F.struct(tp.alias("tp"), fp.alias("fp"),
                        combine(acc["v"], t).alias("v"))

    start = F.struct(F.col("__op").alias("tp"), F.col("__on").alias("fp"),
                     init.cast("double").alias("v"))
    return points.join(F.broadcast(offsets), keys).select(
        F.aggregate("__pts", start, step)["v"].alias("v"),
        "total_pos", "total_neg",
    )


def _sum_terms(v, t):
    # nulls (a 0/0 point) are skipped, like SQL SUM
    return v + F.coalesce(t, F.lit(0.0))


def auroc(df: DataFrame, score="score", label="label", weight=None) -> DataFrame:
    """Weighted AUROC via trapezoid sweep over tie-grouped score groups
    (AreaUnderROCCurveLocalEvaluator.scala:36-72): each point adds
    (fp − prev_fp)·(tp + prev_tp)/2, folded by ``_roc_fold``."""
    pts = _roc_fold(
        df, score, label, weight,
        lambda ptp, pfp, tp, fp, pos, neg, P: neg * (ptp + tp) / 2.0,
        _sum_terms, F.lit(0.0),
    )
    return pts.agg(
        (F.sum("v") / (F.max("total_pos") * F.max("total_neg"))).alias("auroc")
    )


def aupr(df: DataFrame, score="score", label="label", weight=None) -> DataFrame:
    """Weighted area under the precision-recall curve, trapezoid between
    consecutive tie-grouped points; curve starts at (recall=0,
    precision=1) by convention (AreaUnderPRCurveEvaluator)."""

    def term(ptp, pfp, tp, fp, pos, neg, P):
        pprec = F.when(ptp + pfp > 0, ptp / (ptp + pfp)).otherwise(F.lit(1.0))
        return pos * (tp / (tp + fp) + pprec) / 2.0

    pts = _roc_fold(df, score, label, weight, term, _sum_terms, F.lit(0.0))
    return pts.agg((F.sum("v") / F.max("total_pos")).alias("aupr"))


def peak_f1(df: DataFrame, score="score", label="label", weight=None) -> DataFrame:
    """Best F1 over all score thresholds (Evaluation.scala:40-165
    PEAK_F1_SCORE): at each tie-grouped threshold,
    F1 = 2·TP / (TP + FP + P), P the global positive total."""
    pts = _roc_fold(
        df, score, label, weight,
        lambda ptp, pfp, tp, fp, pos, neg, P: 2.0 * tp / (tp + fp + P),
        F.greatest, F.lit(None),
    )
    return pts.agg(F.max("v").alias("peak_f1"))


def logistic_data_loglik_and_aic(
    df: DataFrame, k: int, score="score", label="label", weight=None
) -> DataFrame:
    """Data log-likelihood (logistic) + small-sample-corrected AIC
    (Evaluation.scala:105-125): AICc = 2k − 2lnL + 2k(k+1)/(n−k−1)."""
    w = _w(weight)
    s, y = F.col(score), F.col(label)
    ll = -F.sum(w * links.logistic_loss(s, y))
    n = F.count(F.lit(1))
    aic = F.lit(2.0 * k) - 2.0 * ll
    aicc = aic + F.lit(2.0 * k * (k + 1)) / (n - F.lit(k + 1))
    return df.agg(ll.alias("loglik"), aic.alias("aic"), aicc.alias("aicc"))


def poisson_data_loglik_and_aic(
    df: DataFrame, k: int, margin="score", label="label", weight=None
) -> DataFrame:
    """Data log-likelihood (Poisson) + small-sample-corrected AIC
    (Evaluation.scala:131-145 poissonRegressionLogLikelihood, AIC
    :105-125): per-sample ll = y·m − exp(m) − lnΓ(1+y) with m the
    linear margin (wᵀx + offset); AICc = 2k − 2lnL + 2k(k+1)/(n−k−1)
    with k the effective (nonzero) parameter count. lnΓ(1+y) = ln(y!):
    for y ≤ 64 exactly as Σ_{i=1..y} ln i (a JVM higher-order
    ``aggregate`` over ``sequence`` — Spark has no lgamma builtin and
    ``factorial`` nulls out above 20); for y > 64 via the Stirling
    series ln Γ(1+y) = y·ln y − y + ½·ln(2πy) + 1/(12y) − 1/(360y³),
    whose truncation error at y > 64 is below 1e-12 relative — large
    count labels would otherwise allocate an O(y)-element array per
    row and hit Spark's sequence element cap."""
    import math

    w = _w(weight)
    m, y = F.col(margin), F.col(label)
    yd = y.cast("double")
    stirling = (
        yd * F.log(yd) - yd + 0.5 * F.log(2.0 * math.pi * yd)
        + 1.0 / (12.0 * yd) - 1.0 / (360.0 * yd * yd * yd)
    )
    lgam = (
        F.when(y < 1, F.lit(0.0))
        .when(y > 64, stirling)
        .otherwise(
            F.aggregate(
                F.sequence(F.lit(1), y.cast("int")),
                F.lit(0.0),
                lambda acc, i: acc + F.log(i.cast("double")),
            )
        )
    )
    ll = F.sum(w * (y * m - F.exp(m) - lgam))
    n = F.count(F.lit(1))
    aic = F.lit(2.0 * k) - 2.0 * ll
    aicc = aic + F.lit(2.0 * k * (k + 1)) / (n - F.lit(k + 1))
    return df.agg(ll.alias("loglik"), aic.alias("aic"), aicc.alias("aicc"))


# ---------------------------------------------------- grouped (Multi) metrics

def auroc_per_group(
    df: DataFrame, group, score="score", label="label", weight=None
) -> DataFrame:
    """Per-group weighted AUROC (MultiAUC, MultiEvaluatorType.scala:
    52-66): the same tie-grouped trapezoid sweep as ``auroc``, windows
    partitioned by the group column — one shuffle on (group, score),
    no per-group collect. Groups with no positives or no negatives
    yield NULL and are dropped (undefined AUC)."""
    w = _w(weight)
    g = df.groupBy(F.col(group).alias("grp"), F.col(score).alias("s")).agg(
        F.sum(w * F.col(label)).alias("pos"),
        F.sum(w * (F.lit(1.0) - F.col(label))).alias("neg"),
    )
    win = Window.partitionBy("grp").orderBy(F.desc("s")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    lag_win = Window.partitionBy("grp").orderBy(F.desc("s"))
    pts = g.select(
        "grp", "s",
        F.sum("pos").over(win).alias("ctp"),
        F.sum("neg").over(win).alias("cfp"),
    )
    terms = pts.select(
        "grp",
        (
            (F.col("cfp") - F.coalesce(F.lag("cfp", 1).over(lag_win), F.lit(0.0)))
            * (F.col("ctp") + F.coalesce(F.lag("ctp", 1).over(lag_win), F.lit(0.0)))
            / 2.0
        ).alias("area"),
        F.col("ctp"), F.col("cfp"),
    )
    return (
        terms.groupBy("grp")
        .agg(
            F.sum("area").alias("__area"),
            F.max("ctp").alias("__p"),
            F.max("cfp").alias("__n"),
        )
        .filter((F.col("__p") > 0) & (F.col("__n") > 0))
        .select(
            "grp", (F.col("__area") / (F.col("__p") * F.col("__n"))).alias("auc")
        )
    )


def precision_at_k_per_group(
    df: DataFrame, k: int, group, score="score", label="label", uid="uid"
) -> DataFrame:
    """Per-group precision@k: top-k by score (uid tie-break for
    determinism), fraction positive (PrecisionAtKLocalEvaluator)."""
    win = Window.partitionBy(group).orderBy(F.desc(score), F.asc(uid))
    return (
        df.withColumn("__rn", F.row_number().over(win))
        .filter(F.col("__rn") <= k)
        .groupBy(group)
        .agg(F.avg(F.col(label)).alias("precision_at_k"))
    )


def multi_metric_mean(per_group: DataFrame, metric_col: str) -> DataFrame:
    """MultiEvaluator contract: unweighted mean of per-group metrics
    (MultiEvaluator.scala:76-90)."""
    return per_group.agg(F.avg(metric_col).alias(f"mean_{metric_col}"))


def evaluation_suite(
    df: DataFrame, score="score", label="label", weight=None
) -> DataFrame:
    """One-pass scalar-metric suite (A13): all simple aggregates in a
    single agg so the scored frame is scanned once."""
    w = _w(weight)
    s, y = F.col(score), F.col(label)
    d = s - y
    return df.agg(
        F.sqrt(F.sum(w * d * d) / F.sum(w)).alias("rmse"),
        (F.sum(w * F.abs(d)) / F.sum(w)).alias("mae"),
        (F.sum(w * links.logistic_loss(s, y)) / F.sum(w)).alias("logistic_loss"),
        (F.sum(w * links.squared_loss(s, y)) / F.sum(w)).alias("squared_loss"),
        F.sum(w).alias("weight_sum"),
        F.count(F.lit(1)).alias("n"),
    )
