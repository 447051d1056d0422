"""Coordinate descent / backfitting across GAME coordinates (M3).

Rebuilds photon-lib/.../algorithm/CoordinateDescent.scala:43-167,373-463
as a driver-side Python loop over DataFrames (the reference's own
orchestration is driver-side Scala — there is no Catalyst analog for
an iterative training loop):

- coordinates train in sequence; each sees the others' current scores
  as extra offset (residual attach, J1/J2)
- the residual offset is RE-DERIVED per update, not maintained
  incrementally: each update trains on one projection over the pinned
  input, ``offset + Σ score_c(df)`` over the other coordinates that
  have had their turn. The reference keeps a running score set and
  applies ``summed − old_i + new_i`` (outer-join arithmetic J11,
  CoordinateDescent.scala:412-415,441-446); see the trade-off below
- warm start on iterations ≥ 2 (M7): fixed effects re-fit (IRLS
  converges in a few rounds anyway), random effects get the previous
  model table as ``prior_model`` (x0 per entity)
- locked coordinates (M8): scored with their pre-trained model, never
  re-trained (FixedEffectModelCoordinate analog)

Cache discipline: the input is persisted for the loop, and the only
frame materialized per update is a random coordinate's new model table
(a SERIALIZED eager localCheckpoint — one row per entity, not per
training row). The table it supersedes is released as soon as the new
one exists, since it was read for the last time as the fit's prior.
When the loop returns, the input persist is dropped and the final
model tables (returned inside the model) are the only checkpoints left;
when a fit raises, every table the loop checkpointed is released too.

Trade-off of the re-derived residual: a fixed coordinate's score is a
literal dot product inside the projection, so re-deriving it is free.
A random coordinate's score is a left join against its checkpointed
model table, which Catalyst broadcasts while the table fits under the
broadcast threshold; each OTHER random coordinate whose table is too
big to broadcast costs one entity join per update. The incremental
form pays two uid shuffles (``add_scores`` + ``attach_residual_offset``)
and up to three row-set-sized checkpoints per update instead — most of
the loop's Spark jobs. The re-derivation is linear in the number of
coordinates; every configuration in the tests and the benchmark has at
most 3.

Lineage discipline: each update's training frame is built from the
pinned input plus one scoring step per other coordinate, and the model
tables it joins are checkpoint leaves (or the caller's frames, for
locked and pretrained coordinates) — so every plan stays
O(#coordinates) however many iterations run, and no lineage cut is
needed.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from photon_ml_spark.ml import glm as glm_mod
from photon_ml_spark.ml import random_effects as re_mod
from photon_ml_spark.ml import scoring
from photon_ml_spark.operators.indexing import (
    local_checkpoint_fits_broadcast,
    release_local_checkpoint,
)


@dataclass
class CoordinateConfig:
    """One GAME coordinate (fixed or per-entity random effect)."""

    name: str
    kind: str  # 'fixed' | 'random'
    dim: int
    indices_col: str = "features_indices"
    values_col: str = "features_values"
    entity_col: str | None = None  # required for kind='random'
    reg_param: float = 0.0
    min_samples: int = 1
    # T2 active-data cap INSIDE the loop (RandomEffectDataset.scala:
    # 454-527 active/passive split): a random coordinate trains on at
    # most this many rows per entity (deterministic reservoir, weights
    # rescaled to preserve entity mass) while SCORING still covers
    # every row — the passive rows get scores through the model join.
    # This is the rail that keeps a skewed entity (one key owning 30%
    # of the fact table) inside the per-group memory budget.
    active_cap: int | None = None
    locked: bool = False  # M8: score but never (re)train
    pretrained: object = None  # FixedEffectGLM | model DataFrame when locked/warm
    # P7 per-entity subspace projection for RANDOM coordinates
    # (RandomEffectDataset.scala:390-426, LinearSubspaceProjector.
    # scala:37-66): each entity solves in the subspace of its own
    # active indices (∪ prior support) and scatters back to ``dim``.
    # REQUIRED when the shard is wide (a 100M-feature space cannot be
    # solved densely per entity); off by default because narrow-shard
    # fits skip the gather/scatter.
    project_subspace: bool = False
    # per-coordinate optimizer config (GLMOptimizationConfiguration
    # analog): elastic-net mixing (fixed kind; OWLQN when > 0), solver
    # override ('auto' | 'tron'), box bounds (arrays, fixed kind)
    elastic_net_param: float = 0.0
    solver: str = "auto"
    lower_bounds: object = None
    upper_bounds: object = None
    # M9 incremental Gaussian prior for FIXED coordinates: arrays of
    # length dim+1 (intercept last). Random coordinates take their
    # prior through ``pretrained`` (the previous model TABLE, which
    # may carry per-entity variances).
    prior_mean: object = None
    prior_precision: object = None
    # varianceComputationType for RANDOM coordinates (the reference
    # threads it into every per-entity problem —
    # RandomEffectOptimizationProblem.scala:133-189): None | 'simple' |
    # 'full'. The fitted model table then carries per-entity
    # variances/intercept_variance columns — the σ² the next
    # incremental run (and the reference-layout export) consumes.
    # Fixed-coordinate variances are computed at the CD optimum by the
    # train driver instead (exact offset-inclusive curvature).
    compute_variance: str | None = None

    def __post_init__(self):
        if self.kind not in ("fixed", "random"):
            raise ValueError(f"kind must be fixed|random: {self.kind}")
        if self.kind == "random" and not self.entity_col:
            raise ValueError(f"coordinate {self.name}: random needs entity_col")
        if self.locked and self.pretrained is None:
            raise ValueError(f"coordinate {self.name}: locked needs pretrained")


@dataclass
class GameModel:
    """Ordered coordinate → model map (GameModel.scala:32); total score
    = Σ coordinate scores (:108-112)."""

    family: str
    coordinates: dict[str, object] = field(default_factory=dict)  # name → model
    configs: dict[str, CoordinateConfig] = field(default_factory=dict)
    # per-FIXED-coordinate σ² tables (feature_key, feature_index,
    # variance), populated by load_photon_game_model when the imported
    # record carries variances (BayesianLinearModelAvro.variances;
    # random-effect σ² ride the coordinate's model TABLE instead as
    # variances/intercept_variance columns) — the payload incremental
    # training turns into Gaussian-prior precision (M9)
    variances: dict[str, DataFrame] = field(default_factory=dict)

    def score(self, df: DataFrame, out_col: str = "score") -> DataFrame:
        """M12 batch inference: margin = Σ coordinate margins. Mid-
        training (per-update validation, CoordinateDescent.scala:
        312-333) only the coordinates fitted SO FAR contribute —
        configs without a model yet are skipped."""
        fitted = [n for n in self.configs if n in self.coordinates]
        if not fitted:
            raise ValueError("GameModel.score: no fitted coordinates")
        return _with_score_sum(
            df, [(self.configs[n], self.coordinates[n]) for n in fitted],
            out_col,
        )


def _with_score_sum(df: DataFrame, items, out_col: str,
                    base: Column | None = None) -> DataFrame:
    """``df`` with ``out_col = base + Σ`` the scores of the
    ``(config, model)`` items, as one projection over ``df``."""
    out, total = df, base
    for cfg, model in items:
        col = f"__score_{cfg.name}"
        out = _score_coordinate(out, cfg, model, col)
        total = F.col(col) if total is None else total + F.col(col)
    return out.withColumn(out_col, total).drop(
        *[f"__score_{cfg.name}" for cfg, _ in items]
    )


def _score_coordinate(df: DataFrame, cfg: CoordinateConfig, model, out_col: str) -> DataFrame:
    if cfg.kind == "fixed":
        return scoring.score_literal(
            df, model, indices_col=cfg.indices_col, values_col=cfg.values_col,
            out_col=out_col,
        )
    mt = model.select(
        F.col("entity").alias(cfg.entity_col), "coefficients", "intercept"
    )
    if local_checkpoint_fits_broadcast(model):
        mt = F.broadcast(mt)
    return scoring.score_random_effect(
        df, mt, entity_col=cfg.entity_col,
        indices_col=cfg.indices_col, values_col=cfg.values_col, out_col=out_col,
    )


def _fit_coordinate(
    data: DataFrame, cfg: CoordinateConfig, family: str, prior, offset_col: str,
    uid_col: str = "uid",
):
    if cfg.kind == "fixed":
        return glm_mod.fit_fixed_effect(
            data, dim=cfg.dim, family=family,
            indices_col=cfg.indices_col, values_col=cfg.values_col,
            offset_col=offset_col, reg_param=cfg.reg_param,
            elastic_net_param=cfg.elastic_net_param, solver=cfg.solver,
            lower_bounds=cfg.lower_bounds, upper_bounds=cfg.upper_bounds,
            prior_mean=cfg.prior_mean, prior_precision=cfg.prior_precision,
            # the loop refits this coordinate every iteration and never
            # reads the GLR summary diagnostics — skip their ~4 extra
            # aggregation jobs per update (guide §1.2)
            diagnostics=False,
            # M7: the previous update's model (or pretrained, on the
            # first update) is the optimizer start point — the
            # reference passes the existing model into every
            # optimizationProblem.run (CoordinateDescent / ModelTraining.
            # scala:178-224). Custom-solver paths only; GLR ignores it.
            x0=prior if isinstance(prior, glm_mod.FixedEffectGLM) else None,
        )
    if cfg.active_cap is not None:
        from photon_ml_spark.operators.sampling import per_entity_cap

        data = per_entity_cap(
            data, cfg.entity_col, cap=cfg.active_cap,
            weight_col="weight" if "weight" in data.columns else None,
            uid_col=uid_col,
        )
    # The M9 Gaussian penalty (variances on the prior table) applies
    # ONLY when the prior IS the caller's pretrained model — the
    # documented first-update semantics. Later CD generations of this
    # coordinate serve as warm start/carry-forward alone; with
    # compute_variance set they now CARRY variances, and leaving them
    # on would make iteration N+1 shrink toward iteration N (a prior
    # toward our own previous update — not any reference semantic).
    if (
        prior is not None
        and prior is not cfg.pretrained
        and hasattr(prior, "columns")
        and "variances" in prior.columns
    ):
        prior = prior.drop("variances", "intercept_variance")
    return re_mod.fit_random_effects(
        data, entity_col=cfg.entity_col, dim=cfg.dim, family=family,
        indices_col=cfg.indices_col, values_col=cfg.values_col,
        offset_col=offset_col, reg_param=cfg.reg_param,
        min_samples=cfg.min_samples, prior_model=prior,
        lower_bounds=cfg.lower_bounds, upper_bounds=cfg.upper_bounds,
        compute_variance=cfg.compute_variance,
        project_subspace=cfg.project_subspace,
    )


def train_game(
    df: DataFrame,
    coordinates: list[CoordinateConfig],
    family: str = "binomial",
    n_iterations: int = 2,
    uid_col: str = "uid",
    offset_col: str = "offset",
    validation_df: DataFrame | None = None,
    evaluator=None,
    on_update=None,
) -> tuple[GameModel, list[dict]]:
    """Run coordinate descent; returns (model, per-update history).

    ``evaluator(scored_validation_df) -> dict`` is called after every
    coordinate update when ``validation_df`` is given
    (CoordinateDescent.scala:312-333 per-coordinate validation).

    ``on_update(entry)`` (optional) fires after every coordinate update
    with the history entry just appended — the estimator uses it to
    emit ``CoordinateUpdateEvent``s to registered listeners while the
    loop is still running (events.py)."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    model = GameModel(family=family, configs={c.name: c for c in coordinates})
    history: list[dict] = []
    ours: dict[str, DataFrame] = {}  # RE model tables THIS loop checkpointed
    # coordinates whose current model contributes residual scores: the
    # ones that have had their turn (see the warm-start note below)
    scored: dict[str, CoordinateConfig] = {}
    try:
        df.count()
        # Warm start (M7/M9): a non-locked coordinate carrying a
        # ``pretrained`` model enters the loop as x0/prior ONLY — a
        # random coordinate receives it as prior on its first update
        # (with carry-forward for data-less entities). Its scores do
        # NOT enter the residual offset before the coordinate is first
        # trained: the reference trains the first coordinate of
        # iteration 1 with residualsOpt = None (CoordinateDescent.scala:
        # 383-394 — initial models are starting points, only already-
        # updated coordinates contribute residuals).
        for cfg in coordinates:
            if cfg.pretrained is not None and not cfg.locked:
                model.coordinates[cfg.name] = cfg.pretrained

        for it in range(1, n_iterations + 1):
            for cfg in coordinates:
                # residual offset = base offset + the OTHER scored
                # coordinates' current scores (J1/J2)
                others = [
                    (c, model.coordinates[n])
                    for n, c in scored.items() if n != cfg.name
                ]
                data = _with_score_sum(
                    df, others, offset_col, base=F.col(offset_col)
                )
                if cfg.locked:
                    coord_model = cfg.pretrained
                else:
                    # previous generation of THIS coordinate: random gets
                    # it as prior/carry-forward, fixed as optimizer x0
                    prior = model.coordinates.get(cfg.name)
                    coord_model = _fit_coordinate(
                        data, cfg, family, prior, offset_col, uid_col=uid_col
                    )
                    if cfg.kind == "random":
                        # eager: the fit runs once, and later reads
                        # (residual scoring, validation, the next
                        # update's prior) hit the blocks. SERIALIZED
                        # storage, explicitly: the localCheckpoint
                        # default keeps one deserialized JVM object
                        # graph per row (the PLANS.md corpus-scale
                        # persist rule). On a multi-executor cluster
                        # with executor churn, prefer reliable
                        # checkpoints (setCheckpointDir + checkpoint).
                        coord_model = coord_model.localCheckpoint(
                            eager=True,
                            storageLevel=StorageLevel.MEMORY_AND_DISK,
                        )
                        # the superseded table was read for the last
                        # time by the checkpoint just taken (as the
                        # prior); a caller's pretrained frame is not
                        # ours to drop
                        if cfg.name in ours:
                            release_local_checkpoint(ours[cfg.name])
                        ours[cfg.name] = coord_model
                model.coordinates[cfg.name] = coord_model
                scored[cfg.name] = cfg

                entry = {"iteration": it, "coordinate": cfg.name}
                if validation_df is not None and evaluator is not None:
                    scored_val = model.score(validation_df)
                    entry["metrics"] = evaluator(scored_val)
                history.append(entry)
                if on_update is not None:
                    on_update(entry)
    except BaseException:
        # the final RE model tables are returned inside the model; on
        # an error nothing is returned, so every table the loop
        # checkpointed is released
        for t in ours.values():
            release_local_checkpoint(t)
        raise
    finally:
        df.unpersist()
    return model, history
