"""Fixed-effect GLM solve (SURVEY §2.10 M1/M4/M6) on spark.ml.

The reference hand-rolls distributed LBFGS/OWLQN/TRON over
treeAggregate gradient rounds (photon-api/.../optimization/
DistributedOptimizationProblem.scala:112-157, photon-lib/.../
optimization/Optimizer.scala:162-244). Spark-first, the same
capability — weighted, offset-bearing GLM with L2 — is
``GeneralizedLinearRegression`` (IRLS, internally treeAggregate-based),
so the solve stays entirely JVM-side. The optimizer menu (LBFGS vs
TRON etc.) is an implementation detail, not a capability; families and
offset/weight semantics are the contract.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
from pyspark.ml.functions import array_to_vector
from pyspark.sql import DataFrame, SparkSession, functions as F

_GLR_FAMILY = {"binomial": "binomial", "logistic": "binomial",
               "gaussian": "gaussian", "linear": "gaussian",
               "poisson": "poisson"}


def densify(
    df: DataFrame,
    indices_col: str,
    values_col: str,
    dim: int,
    out_col: str = "features_vec",
) -> DataFrame:
    """(indices, values) sparse pairs → ml.linalg dense vector column.

    JVM-only path: map_from_arrays + sequence-transform + array_to_vector
    (no Python UDF). Null feature arrays become all-zero vectors.
    GLR materializes dense coefficient vectors anyway, so dense input
    costs nothing extra at fit time; at scoring time we keep the sparse
    pairs (ml/scoring.py) and never densify.
    """
    m = F.map_from_arrays(
        F.coalesce(F.col(indices_col), F.array()),
        F.coalesce(F.col(values_col), F.array()),
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(F.element_at(m, i.cast("long")), F.lit(0.0)),
    )
    return df.withColumn(out_col, array_to_vector(dense))


@dataclass
class FixedEffectGLM:
    """A single fixed-effect GLM (FixedEffectModel.scala:33): dense
    coefficients + intercept, broadcast to executors at score time."""

    family: str
    coefficients: np.ndarray
    intercept: float
    dim: int
    reg_param: float = 0.0
    meta: dict = field(default_factory=dict)

    def as_table(self, spark: SparkSession) -> DataFrame:
        """Model as DataFrame(feature_index long, coefficient double) —
        the scalable representation (join-able, never driver-bound)."""
        rows = [(int(i), float(c)) for i, c in enumerate(self.coefficients)]
        return spark.createDataFrame(rows, "feature_index long, coefficient double")


#: spark.ml GeneralizedLinearRegression raises past this feature
#: count (IRLS materializes dim x dim normal equations)
GLR_MAX_FEATURES = 4096


def fit_fixed_effect(
    df: DataFrame,
    dim: int,
    family: str = "binomial",
    indices_col: str = "features_indices",
    values_col: str = "features_values",
    label_col: str = "response",
    weight_col: str | None = "weight",
    offset_col: str | None = "offset",
    reg_param: float = 0.0,
    elastic_net_param: float = 0.0,
    prior_mean=None,
    prior_precision=None,
    lower_bounds=None,
    upper_bounds=None,
    max_iter: int = 25,
    tol: float = 1e-6,
    solver: str = "auto",
    x0=None,
    diagnostics: bool = True,
) -> FixedEffectGLM:
    """Fit one distributed GLM (M1) with offset (M6), weight, L2 (M4).

    Pure-L2 fits on a GLR family run on spark.ml GLR (IRLS, offset-
    capable, JVM-side). Anything GLR can't express — L1/elastic net
    (``elastic_net_param`` > 0, OWLQN semantics: L1 never touches the
    intercept), a Gaussian prior on the fixed coordinate
    (``prior_mean``/``prior_precision``, length dim+1, M9), box
    constraints (``lower_bounds``/``upper_bounds``, LBFGSB), or the
    smoothed-hinge family — routes to the distributed custom solver
    (ml/distributed_solver.py), which handles offsets in every mode.

    ``solver='tron'`` forces the trust-region truncated-Newton path
    (A2: distributed Hessian·vector CG, TRON.scala) — smooth
    objectives only (no L1, no bounds); ``'auto'`` picks as above.
    Fits wider than GLR's 4096-feature IRLS ceiling also route to the
    custom solver automatically (O(dim) LBFGS iterations instead of
    O(dim²) normal equations).
    """
    from pyspark.ml.regression import GeneralizedLinearRegression

    from photon_ml_spark.ml.distributed_solver import (
        SUPPORTED_FAMILIES,
        solve_penalized,
        solve_tron,
    )

    if family not in SUPPORTED_FAMILIES:
        raise ValueError(
            f"family {family!r} not supported for fixed-effect training; "
            f"choose one of {SUPPORTED_FAMILIES}"
        )
    # M7 warm start (ModelTraining.scala:178-224 optimizationProblem.
    # run(trainingData, previousModel)): accept a previous model (or a
    # raw beta vector, intercept LAST) as the optimizer start point.
    # Convergence accelerator only — the solution is unchanged at
    # convergence. The GLR/IRLS path below has no initialization hook
    # and ignores it (IRLS converges in few iterations regardless).
    if isinstance(x0, FixedEffectGLM):
        prev = np.asarray(x0.coefficients, dtype=np.float64)
        if prev.shape != (dim,):
            # a dim mismatch means the feature dictionary drifted
            # between the warm-start model and this problem — slicing
            # or padding would silently misalign coefficient mass with
            # the wrong features, so fail loudly (matches the raw-beta
            # shape check below)
            raise ValueError(
                f"warm-start model has {prev.shape[0]} coefficients but "
                f"this problem has dim={dim}; re-index the warm-start "
                f"model onto the current feature dictionary first"
            )
        x0 = np.append(prev, float(x0.intercept))
    if x0 is not None:
        x0 = np.asarray(x0, dtype=np.float64)
        if x0.shape != (dim + 1,):
            raise ValueError(
                f"x0 must have shape ({dim + 1},) [coefficients + "
                f"intercept], got {x0.shape}"
            )
    if solver == "tron":
        if elastic_net_param > 0 or lower_bounds is not None or upper_bounds is not None:
            raise ValueError(
                "solver='tron' handles smooth objectives only; use the "
                "default solver for L1/elastic net or box constraints"
            )
        res = solve_tron(
            df, dim, family=family,
            indices_col=indices_col, values_col=values_col,
            label_col=label_col, weight_col=weight_col,
            offset_col=offset_col, reg_param=reg_param,
            prior_mean=prior_mean, prior_precision=prior_precision,
            max_iter=max_iter, tol=min(tol, 1e-7), x0=x0,
        )
        return FixedEffectGLM(
            family=family,
            coefficients=np.asarray(res["coefficients"], dtype=np.float64),
            intercept=res["intercept"],
            dim=dim,
            reg_param=reg_param,
            meta={
                "iterations": res["n_iter"],
                "converged": res["converged"],
                "objective": res["objective"],
                "optimizer": "tron",
            },
        )
    needs_custom = (
        elastic_net_param > 0
        or prior_precision is not None
        or lower_bounds is not None
        or upper_bounds is not None
        or family == "smoothed_hinge"
        # spark.ml GLR solves IRLS normal equations and hard-caps at
        # 4096 features (SparkException beyond); wide models — e.g.
        # hashing-trick spaces — go through the distributed LBFGS
        # solver, whose per-iteration cost is O(dim) not O(dim²)
        or dim > GLR_MAX_FEATURES
    )
    if needs_custom:
        res = solve_penalized(
            df, dim, family=family,
            indices_col=indices_col, values_col=values_col,
            label_col=label_col, weight_col=weight_col,
            offset_col=offset_col,
            reg_param=reg_param, elastic_net_param=elastic_net_param,
            prior_mean=prior_mean, prior_precision=prior_precision,
            lower_bounds=lower_bounds, upper_bounds=upper_bounds,
            max_iter=max(max_iter, 100), tol=min(tol, 1e-7), x0=x0,
        )
        return FixedEffectGLM(
            family=family,
            coefficients=np.asarray(res["coefficients"], dtype=np.float64),
            intercept=res["intercept"],
            dim=dim,
            reg_param=reg_param,
            meta={
                "iterations": res["n_iter"],
                "converged": res["converged"],
                "objective": res["objective"],
                "optimizer": "owlqn" if elastic_net_param > 0 else (
                    "lbfgsb" if (lower_bounds is not None or upper_bounds is not None)
                    else "lbfgs"
                ),
            },
        )

    # project to the fit's columns and cache: IRLS re-reads the input
    # every iteration, and re-running the densify transform (and
    # everything upstream) per iteration dominates fit time otherwise
    # (deserialized default on purpose — iterative reads, narrow rows;
    # the pipeline-side corpus caches use serialized storage instead)
    fit_cols = [label_col] + [c for c in (weight_col, offset_col) if c]
    vec_df = (
        densify(df, indices_col, values_col, dim)
        .select(*fit_cols, "features_vec")
        .persist()
    )
    glr = GeneralizedLinearRegression(
        family=_GLR_FAMILY[family],
        featuresCol="features_vec",
        labelCol=label_col,
        regParam=reg_param,
        maxIter=max_iter,
        tol=tol,
        fitIntercept=True,
    )
    if weight_col:
        glr.setWeightCol(weight_col)
    if offset_col:
        glr.setOffsetCol(offset_col)
    try:
        model = glr.fit(vec_df)
        # training diagnostics (the legacy driver's model log, A12 inputs:
        # Evaluation.scala / Driver.computeAndLogModelMetrics) — extracted
        # BEFORE unpersist: each first access runs a predictions pass over
        # vec_df, which must hit the cache, not recompute the lineage
        s = model.summary
        meta = {"iterations": s.numIterations}  # stored by training — no job
        # ``diagnostics=False`` (r13, guide §1.2: don't compute what you
        # throw away): each summary statistic below is a SEPARATE
        # aggregation job over the predictions frame — ~4 extra passes per
        # fit. Iterative callers (the CD loop fits one coordinate per
        # update) and the bench flagship never read them; the model-log
        # paths keep the default.
        if diagnostics:
            for attr in ("deviance", "nullDeviance", "aic", "dispersion"):
                try:
                    meta[attr] = float(getattr(s, attr))
                except Exception:
                    pass
    finally:
        vec_df.unpersist()
    return FixedEffectGLM(
        family=family,
        coefficients=np.asarray(model.coefficients.toArray(), dtype=np.float64),
        intercept=float(model.intercept),
        dim=dim,
        reg_param=reg_param,
        meta=meta,
    )
