"""GAME coordinate-descent training (M3/M7/M8) end-to-end."""

import pytest
from pyspark.sql import functions as F

from photon_ml_spark.datamodel import FeatureShardConfig
from photon_ml_spark.functions import metrics
from photon_ml_spark.ml import scoring
from photon_ml_spark.ml.coordinate_descent import (
    CoordinateConfig,
    train_game,
)
from photon_ml_spark.sources import datasets, featurize


@pytest.fixture(scope="module")
def assembled(spark, sf_dir):
    training = datasets.lineitem_training_frame(spark, sf_dir)
    dictionary = featurize.build_feature_dictionary(
        training, ["features"], has_intercept=True
    )
    shard = FeatureShardConfig("features", ["features"])
    out = featurize.assemble_shard(training, dictionary, shard).cache()
    out.count()
    return out


def _loss(scored):
    return metrics.loss_metric(
        scored, "logistic", margin="score", label="response", weight="weight"
    ).first()[0]


def test_two_coordinate_game(assembled):
    coords = [
        CoordinateConfig(name="global", kind="fixed", dim=5, reg_param=0.0),
        CoordinateConfig(
            name="per-supplier", kind="random", dim=5, entity_col="suppkey",
            reg_param=10.0, min_samples=5,
        ),
    ]
    model, history = train_game(
        assembled, coords, family="binomial", n_iterations=2
    )
    assert set(model.coordinates) == {"global", "per-supplier"}
    assert len(history) == 4  # 2 coords × 2 iterations

    scored = model.score(assembled).cache()
    game_loss = _loss(scored)

    # fixed-effect-only baseline
    from photon_ml_spark.ml import glm

    fixed = glm.fit_fixed_effect(assembled, dim=5, family="binomial")
    fixed_scored = scoring.score_literal(assembled, fixed)
    fixed_loss = _loss(fixed_scored)

    # mixed model must fit training data at least as well as fixed-only
    assert game_loss <= fixed_loss + 1e-6

    auc = metrics.auroc(scored, score="score", label="response").first().auroc
    assert 0.5 <= auc <= 1.0
    scored.unpersist()


def test_per_coordinate_optimizer_config(assembled):
    """GLMOptimizationConfiguration analog: each coordinate picks its
    own optimizer — an L1 (OWLQN) fixed effect inside the GAME loop,
    and a TRON fixed effect, both reachable from CoordinateConfig."""
    import numpy as np

    coords = [
        CoordinateConfig(
            name="global", kind="fixed", dim=5,
            reg_param=5000.0, elastic_net_param=0.9,
        ),
    ]
    model, _ = train_game(assembled, coords, family="binomial", n_iterations=1)
    fixed = model.coordinates["global"]
    assert fixed.meta["optimizer"] == "owlqn"
    assert np.sum(fixed.coefficients == 0.0) >= 1  # L1 sparsifies

    coords_tron = [
        CoordinateConfig(name="global", kind="fixed", dim=5, solver="tron",
                         reg_param=1.0),
    ]
    model2, _ = train_game(
        assembled, coords_tron, family="binomial", n_iterations=1
    )
    assert model2.coordinates["global"].meta["optimizer"] == "tron"


def test_locked_coordinate(assembled):
    from photon_ml_spark.ml import glm

    pre = glm.fit_fixed_effect(assembled, dim=5, family="binomial")
    coords = [
        CoordinateConfig(
            name="global", kind="fixed", dim=5, locked=True, pretrained=pre
        ),
        CoordinateConfig(
            name="per-supplier", kind="random", dim=5, entity_col="suppkey",
            reg_param=10.0, min_samples=5,
        ),
    ]
    model, _ = train_game(assembled, coords, family="binomial", n_iterations=1)
    # locked coordinate's model is the exact object passed in (M8)
    assert model.coordinates["global"] is pre


def test_active_cap_inside_loop_equals_precapped_fit(assembled):
    """T2 active-data cap INSIDE the loop (RandomEffectDataset.scala:
    454-527 active/passive split): a random coordinate with
    ``active_cap`` trains on the deterministic per-entity reservoir
    while scoring covers every row — coefficient-identical to capping
    the data by hand before a standalone per-entity fit."""
    from photon_ml_spark.ml.random_effects import fit_random_effects
    from photon_ml_spark.operators.sampling import per_entity_cap

    cap = 7
    coords = [
        CoordinateConfig(
            name="per-supplier", kind="random", dim=5, entity_col="suppkey",
            reg_param=10.0, min_samples=1, active_cap=cap,
        ),
    ]
    model, _ = train_game(assembled, coords, family="binomial", n_iterations=1)
    inloop = {
        r["entity"]: (list(r["coefficients"]), r["intercept"])
        for r in model.coordinates["per-supplier"].collect()
    }
    by_hand = fit_random_effects(
        per_entity_cap(assembled, "suppkey", cap=cap),
        entity_col="suppkey", dim=5, family="binomial", reg_param=10.0,
    )
    want = {
        r["entity"]: (list(r["coefficients"]), r["intercept"])
        for r in by_hand.collect()
    }
    assert set(inloop) == set(want)
    for k, (c, i) in want.items():
        got_c, got_i = inloop[k]
        assert got_i == pytest.approx(i, rel=1e-9, abs=1e-12)
        assert got_c == pytest.approx(c, rel=1e-9, abs=1e-12)
    # scoring still covers EVERY row (passive rows score via the join)
    assert model.score(assembled).count() == assembled.count()


def test_train_game_releases_loop_internals(spark, assembled):
    """The CD loop's random-effect model tables are eager
    localCheckpoints, invisible to DataFrame.unpersist — train_game
    must release every superseded table AND its input persist on exit,
    leaving exactly the final random-effect model tables cached (they
    are returned inside the model)."""
    jsc = spark.sparkContext._jsc
    assembled.count()  # make sure the fixture cache is registered
    before = set(jsc.getPersistentRDDs().keySet())
    coords = [
        CoordinateConfig(name="global", kind="fixed", dim=5),
        CoordinateConfig(
            name="per-supplier", kind="random", dim=5,
            entity_col="suppkey", reg_param=10.0, min_samples=5,
        ),
    ]
    model, history = train_game(
        assembled, coords, family="binomial", n_iterations=2
    )
    assert len(history) == 4
    new = set(jsc.getPersistentRDDs().keySet()) - before
    # one random coordinate -> exactly its final model table may remain
    assert len(new) <= 1, (
        f"train_game leaked {len(new)} cached frames; expected only the "
        "final RE model table"
    )
    # the surviving model table must still be readable (not released)
    assert model.coordinates["per-supplier"].count() > 0


def _tiny_game_frame(spark):
    return spark.range(300).select(
        F.col("id").alias("uid"),
        (F.col("id") % 3 == 0).cast("double").alias("response"),
        F.lit(0.0).alias("offset"),
        F.lit(1.0).alias("weight"),
        (F.col("id") % 7).cast("string").alias("ent"),
        F.array(F.lit(0).cast("long")).alias("fi"),
        F.array((F.col("id") % 5).cast("double")).alias("fv"),
    )


def _tiny_coords(*extra):
    return [
        CoordinateConfig(name="g", kind="fixed", dim=1,
                         indices_col="fi", values_col="fv"),
        CoordinateConfig(name="r", kind="random", dim=1, entity_col="ent",
                         reg_param=1.0, indices_col="fi", values_col="fv"),
        *extra,
    ]


def test_train_game_failure_releases_loop_internals(spark):
    """A coordinate whose fit raises mid-loop (a random effect on a
    missing entity column, after a fixed and a random coordinate) must
    not leave the input persist or the loop's model-table checkpoints
    cached."""
    df = _tiny_game_frame(spark)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    bad = CoordinateConfig(name="bad", kind="random", dim=1,
                           entity_col="no_such_col", reg_param=1.0,
                           indices_col="fi", values_col="fv")
    with pytest.raises(Exception):
        train_game(df, _tiny_coords(bad), family="binomial", n_iterations=1)
    leaked = set(jsc.getPersistentRDDs().keySet()) - before
    assert not leaked, f"failed train_game leaked cached RDDs {leaked}"


def test_train_game_job_shape(spark, monkeypatch):
    """The loop materializes only the random-effect model tables: for
    1 fixed + 1 random coordinate over 2 iterations, exactly one
    localCheckpoint per random update, and every training frame handed
    to a fit is a projection of the pinned input — no score-set
    full-outer join (the running-sum arithmetic it replaced)."""
    from photon_ml_spark.ml import coordinate_descent as cd
    from photon_ml_spark.operators.indexing import release_local_checkpoint

    df = _tiny_game_frame(spark)
    frame_cls = type(df)  # the concrete DataFrame class of this session
    calls = []
    real_checkpoint = frame_cls.localCheckpoint

    def counting_checkpoint(self, *a, **k):
        calls.append(1)
        return real_checkpoint(self, *a, **k)

    plans = []
    real_fit = cd._fit_coordinate

    def recording_fit(data, *a, **k):
        plans.append(data._jdf.queryExecution().executedPlan().toString())
        return real_fit(data, *a, **k)

    monkeypatch.setattr(frame_cls, "localCheckpoint", counting_checkpoint)
    monkeypatch.setattr(cd, "_fit_coordinate", recording_fit)
    model, history = train_game(
        df, _tiny_coords(), family="binomial", n_iterations=2,
    )
    assert len(history) == 4
    assert len(calls) == 2
    assert len(plans) == 4
    assert not [p for p in plans if "FullOuter" in p]
    release_local_checkpoint(model.coordinates["r"])
