"""Config-driven CLI drivers (the reference's spark-submit surface:
GameTrainingDriver.scala:908-931, GameScoringDriver.scala:263-270 —
scopt args become one JSON config here).

    python -m photon_ml_spark.cli train --config train.json
    python -m photon_ml_spark.cli score --config score.json
    python -m photon_ml_spark.cli curate --config curate.json

Train config:
    {"input": "<path>",                     # conventional-column frame
     "input_format": "parquet",             # or "avro" (TrainingExampleAvro)
     "feature_bags": ["features"],          # (name,term,value) array cols
     "shard": "features",
     # OR per-coordinate shards (replaces shard/feature_bags) — the
     # reference's featureShardConfigurations map + per-coordinate
     # featureShardId (FeatureShardConfiguration.scala:23,
     # CoordinateDataConfiguration.scala:24,37,58): one dictionary,
     # dim, normalization table, and summary per shard; the model dir
     # persists feature-dictionaries/{shard} + feature-shards.json and
     # the score driver reassembles from those artifacts
     "feature_shards": {"shard1": {"bags": ["userFeatures"]},
                        "shard2": {"bags": ["songFeatures"],
                                   "has_intercept": true}},
     "coordinates": [{"name": "global", "kind": "fixed",
                      "shard": "shard1"},  # shard: only with
                                            # feature_shards
                     {"name": "per_user", "kind": "random",
                      "entity_col": "userId", "reg_param": 1.0,
                      "elastic_net_param": 0.0, "solver": "auto"}],
     "family": "binomial", "n_iterations": 2,
     "output_dir": "<model dir>", "sparsity_threshold": 0.0,
     "validation_input": "<path>",          # optional held-out frame
     "reg_param_sweep": [                   # explicit λ sweep (legacy
        {"global": 0.1}, {"global": 10.0}], # Driver regularization list
                                            # + T8 model selection by the
                                            # family's primary metric
     "output_mode": "best",                 # best|all|none
                                            # (ModelOutputMode parity)
     "per_group_evaluation": {              # savePerGroupEvaluation-
        "group_col": "userId",              # Result parity: per-group
        "metric": "auc"}}                   # auc|precision_at_k beside
                                            # the saved model

Score config:
    {"input": "...", "model_dir": "...", "output_dir": "...",
     "output_files_limit": 1}

The dictionary is persisted beside the model (S4) so scoring assembles
with the training vocabulary — unknown score-time features drop,
matching the reference's fixed-index-map behavior.
"""

from __future__ import annotations

import argparse
import json

from pyspark.storagelevel import StorageLevel
from pyspark.sql import SparkSession


def _resolve_input(spark, cfg):
    """``input`` + optional ``date_range``/``days_range`` → the path(s)
    to read — inputDataDateRange / inputDataDaysRange parity
    (GameDriver + IOUtils.scala:115-164): with a range, ``input`` is a
    root of ``yyyy/MM/dd`` daily directories; days that do not exist
    are skipped (the reference lists-and-filters too) and an empty
    resolution fails fast. ``days_range`` takes an explicit ``until``
    date so runs are reproducible (the reference anchors at now())."""
    import datetime as _dt

    inp = cfg["input"]
    dr, days = cfg.get("date_range"), cfg.get("days_range")
    if not dr and not days:
        return inp
    if dr and days:
        raise ValueError("configure date_range OR days_range, not both")
    if days:
        if not isinstance(days, dict):
            raise ValueError(
                "days_range needs {'days': N, 'until': 'yyyy-MM-dd'} — "
                "an explicit until keeps reruns deterministic"
            )
        _validate_stage_keys(days, "days_range")
        if "days" not in days or "until" not in days:
            raise ValueError(
                "days_range needs {'days': N, 'until': 'yyyy-MM-dd'} — "
                "an explicit until keeps reruns deterministic"
            )
        until = _dt.date.fromisoformat(str(days["until"]))
        start_d = until - _dt.timedelta(days=int(days["days"]) - 1)
        end_d = until
    else:
        if not isinstance(dr, dict):
            raise ValueError("date_range needs {'start': ..., 'end': ...}")
        _validate_stage_keys(dr, "date_range")
        if "start" not in dr or "end" not in dr:
            raise ValueError("date_range needs start and end")
        # fromisoformat validates the strings up front — a malformed
        # date must fail HERE, not surface as an empty scan later
        start_d = _dt.date.fromisoformat(str(dr["start"]))
        end_d = _dt.date.fromisoformat(str(dr["end"]))
    if start_d > end_d:
        raise ValueError(f"empty date range [{start_d}, {end_d}]")
    if cfg.get("input_format", "parquet") != "parquet":
        raise ValueError(
            "date ranges currently compose with parquet inputs only"
        )
    # Qualify the root first: globStatus results are always absolute,
    # so a RELATIVE input root would never match the wanted paths and
    # falsely raise "no daily directories exist"
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(inp)
    fs = root.getFileSystem(conf)
    inp = str(fs.makeQualified(root))
    wanted = []
    d = start_d
    while d <= end_d:
        wanted.append(f"{inp}/{d.strftime('%Y/%m/%d')}")
        d += _dt.timedelta(days=1)
    # ONE globStatus RPC lists every existing daily dir under the root
    # (the reference lists-and-filters the same way) — not O(days)
    # sequential exists() round-trips against object storage
    glob = jvm.org.apache.hadoop.fs.Path(f"{inp}/*/*/*")
    statuses = fs.globStatus(glob)
    on_disk = (
        {st.getPath().toUri().getPath() for st in statuses}
        if statuses is not None
        else set()
    )

    def _norm(path):
        u = jvm.org.apache.hadoop.fs.Path(path).toUri().getPath()
        return u

    existing = [p for p in wanted if _norm(p) in on_disk]
    if not existing:
        raise ValueError(
            f"no daily directories exist under {inp!r} in [{start_d}, "
            f"{end_d}] — expected paths like {wanted[0]!r}"
        )
    return existing


def _read_input(spark, cfg):
    """Input reader shared by train/score (via ``_assembled``) and the
    index driver: format dispatch + date-range resolution in ONE place
    so the range/format rules cannot drift between drivers."""
    fmt = cfg.get("input_format", "parquet")
    if fmt != "parquet" and (cfg.get("date_range") or cfg.get("days_range")):
        # _resolve_input would never run on the avro branches — refuse
        # instead of silently reading the whole root
        raise ValueError(
            "date ranges currently compose with parquet inputs only"
        )
    if fmt == "avro":
        from photon_ml_spark.sources.avro_io import read_training_examples

        # InputColumnsNames parity: rename the file's columns into the
        # conventional frame (the reference's different-column-names
        # flow, ScoptGameTrainingParametersParser inputColumnsNames).
        # Lazily localCheckpoint: null uids get GENERATED ids
        # (monotonically_increasing_id), and downstream assembly
        # self-joins on uid — without pinning, a task retry or re-plan
        # could re-evaluate the generator differently per join branch
        # and silently mis-attach features. The checkpoint materializes
        # on first action and every later branch reads the SAME ids
        # (the reference's AvroDataReader likewise materializes the
        # ingest RDD before GAME consumes it).
        return read_training_examples(
            spark, cfg["input"], column_names=cfg.get("column_names")
        ).localCheckpoint(
            eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK
        )
    if fmt == "response_prediction_avro":
        # the reference's scoring-input format carries no uid; assign
        # one like GameScoringDriver does (P2, zipWithUniqueId analog)
        from pyspark.sql import functions as F

        from photon_ml_spark.sources.avro_io import read_response_predictions

        # same generated-uid pinning rationale as the avro branch
        return read_response_predictions(spark, cfg["input"]).withColumn(
            "uid", F.monotonically_increasing_id()
        ).localCheckpoint(
            eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK
        )
    resolved = _resolve_input(spark, cfg)
    return spark.read.parquet(
        *(resolved if isinstance(resolved, list) else [resolved])
    )


def _shard_configs(cfg) -> dict:
    """``feature_shards`` → {shard_name: FeatureShardConfig} — the
    reference's featureShardConfigurations map
    (FeatureShardConfiguration.scala:23: featureBags + hasIntercept;
    flagship config GameTrainingDriverIntegTest.scala:736-770). Without
    ``feature_shards`` the legacy single-shard keys (``shard`` +
    ``feature_bags``) define one shard; with it, those keys are
    rejected — two sources of truth for the same mapping is the silent-
    config-drift failure mode."""
    from photon_ml_spark.datamodel import FeatureShardConfig

    fs = cfg.get("feature_shards")
    if fs is None:
        name = cfg.get("shard", "features")
        return {
            name: FeatureShardConfig(name, cfg.get("feature_bags", ["features"]))
        }
    if "shard" in cfg or "feature_bags" in cfg:
        raise ValueError(
            "feature_shards replaces the single-shard 'shard'/"
            "'feature_bags' keys — configure one or the other"
        )
    if not isinstance(fs, dict) or not fs:
        raise ValueError(
            "feature_shards must be a non-empty map "
            "{shard_name: {'bags': [...], 'has_intercept': bool}}"
        )
    out = {}
    for name, spec in fs.items():
        if not isinstance(spec, dict):
            raise ValueError(
                f"feature_shards[{name!r}] must be an object with "
                "'bags' (and optional 'has_intercept')"
            )
        _validate_stage_keys(spec, "feature_shards{}")
        bags = spec.get("bags", [])
        has_intercept = bool(spec.get("has_intercept", True))
        if not bags and not has_intercept:
            # FeatureShardConfiguration.scala:25 require()
            raise ValueError(
                f"feature shard {name!r} must have feature bags or an "
                "intercept"
            )
        out[name] = FeatureShardConfig(name, list(bags), has_intercept)
    return out


def _assembled(spark, cfg, dictionaries=None):
    """Read the input and attach every configured feature shard's
    sparse-pair columns. Returns ``(frame, {shard: dictionary},
    {shard: dim})``; dictionaries built here are cached (callers own
    the release)."""
    from photon_ml_spark.sources import featurize

    raw = _read_input(spark, cfg)
    shards = _shard_configs(cfg)
    dictionaries = dict(dictionaries or {})
    dims = {}
    df = raw
    for name, shard in shards.items():
        if dictionaries.get(name) is None:
            # built from the RAW frame — a dictionary plan hanging off
            # an earlier shard's assembly join would redo that join
            dictionaries[name] = featurize.build_feature_dictionary(
                raw, shard.feature_bags, has_intercept=shard.has_intercept
            ).cache()
        n_keys = dictionaries[name].count()
        dims[name] = n_keys
        strategy = "map" if n_keys <= 100_000 else "join"
        df = featurize.assemble_shard(
            df, dictionaries[name], shard, strategy=strategy
        )
    return df, dictionaries, dims


# per-driver allowed top-level config keys — a typo'd key ("near_dedup_",
# "validaton_input") would otherwise SILENTLY skip the stage it meant to
# configure, the classic config failure mode (same fail-fast discipline
# as the reg_param_sweep coordinate-name validation)
_CFG_KEYS = {
    "train": frozenset({
        "input", "input_format", "feature_bags", "shard", "feature_shards",
        "output_dir",
        "coordinates", "family", "n_iterations", "validation_input",
        "reg_param_sweep", "warm_start_sweep", "output_mode", "tuner",
        "tuner_iterations", "column_names",
        "per_group_evaluation", "sparsity_threshold", "event_log",
        "dictionary_input", "data_validation", "normalization",
        "variance_computation", "incremental_training",
        "data_summary_dir", "evaluators", "update_sequence",
        "date_range", "days_range", "validation_date_range",
        "validation_days_range",
    }),
    "index": frozenset({
        "input", "input_format", "feature_bags", "output_dir",
        "has_intercept", "selected_features", "date_range", "days_range",
        "column_names",
    }),
    "import_model": frozenset({
        "model_dir", "output_dir", "family", "shard", "feature_shards",
    }),
    "export_model": frozenset({"model_dir", "output_dir"}),
    "bags": frozenset({
        "input", "input_format", "feature_bags", "output_dir",
        "date_range", "days_range", "column_names",
    }),
    "score": frozenset({
        "input", "input_format", "feature_bags", "shard", "model_dir",
        "output_dir", "output_files_limit", "evaluators",
        "data_validation", "model_id", "date_range", "days_range",
        "column_names", "feature_shards",
    }),
    "curate": frozenset({
        "input", "output_dir", "quality", "exact_dedup", "near_dedup",
        "contamination", "select", "mix", "split", "chunk", "tokenize",
        "report", "pii",
    }),
    "curate_stream": frozenset({
        "input_dir", "schema", "index_path", "output_dir",
        "checkpoint_dir", "quality", "threshold", "n", "num_hashes",
        "bands", "max_files_per_trigger", "pii",
    }),
}


def _validate_cfg_keys(cfg: dict, driver: str) -> None:
    unknown = sorted(set(cfg) - _CFG_KEYS[driver])
    if unknown:
        raise ValueError(
            f"{driver} config contains unknown key(s) {unknown} — "
            "misspelled keys would silently skip the stage they mean "
            f"to configure; allowed: {sorted(_CFG_KEYS[driver])}"
        )


# nested stage-dict key sets — the same typo class one level down
# ("min_token", "reg_params") silently falls back to a default
_STAGE_KEYS = {
    "coordinates[]": frozenset({
        "name", "kind", "shard", "entity_col", "reg_param", "min_samples",
        "active_cap", "elastic_net_param", "solver", "constraints",
    }),
    # FeatureShardConfiguration.scala:23 fields
    "feature_shards{}": frozenset({"bags", "has_intercept"}),
    "incremental_training": frozenset({"model_dir", "locked_coordinates"}),
    "pii": frozenset({"action", "max_matches"}),
    "date_range": frozenset({"start", "end"}),
    "days_range": frozenset({"days", "until"}),
    "quality": frozenset({
        "min_tokens", "min_quality", "languages", "max_ppl",
        "min_novelty", "blocked_terms",
    }),
    "near_dedup": frozenset({
        "threshold", "n", "index_path", "batch_id", "num_hashes", "bands",
    }),
    "contamination": frozenset({"eval_input", "ngram", "min_shared"}),
    "select": frozenset({"target_lang", "k", "temperature", "lang_col"}),
    "mix": frozenset({"shares", "mode", "group_col", "max_epochs"}),
    "split": frozenset({"test_frac"}),
    "chunk": frozenset({"max_tokens", "overlap"}),
    "tokenize": frozenset({"kind", "n_merges", "min_pair_count",
                           "vocab_size"}),
    "per_group_evaluation": frozenset({"group_col", "metric", "k"}),
}


def _validate_stage_keys(d, stage: str) -> None:
    if not isinstance(d, dict):
        return  # boolean toggles (exact_dedup: true) and the like
    unknown = sorted(set(d) - _STAGE_KEYS[stage])
    if unknown:
        raise ValueError(
            f"config section {stage!r} contains unknown key(s) "
            f"{unknown} — misspelled keys silently fall back to "
            f"defaults; allowed: {sorted(_STAGE_KEYS[stage])}"
        )


def train(
    cfg: dict, spark: SparkSession, listeners=None, tuner=None
) -> None:
    """GAME training driver (GameTrainingDriver.scala:363-516).

    ``listeners`` (optional): ``events.EventListener`` instances — the
    reference driver's EventEmitter surface; they receive setup /
    training start / coordinate-update / optimization-log / selection /
    finish events in order. Listeners are PER-JOB: train() takes
    ownership and ``close()``s every registered listener when the job
    ends (success or failure — Driver.scala:549 clears listeners at job
    end, which is what flushes buffered/file-backed listeners).
    Register a FRESH instance per call; a reused closed listener would
    have its post-close ``handle()`` failures swallowed by the
    Try-isolated dispatch and silently record nothing.

    ``cfg["event_log"] = <path>`` captures the same event stream to a
    JSONL file without any code (``events.JsonLinesFileListener``,
    created and owned by this job, flushed on exit).

    ``tuner`` (optional): a ``hypersearch.HyperparameterTuner`` driving
    model selection over per-coordinate regularization weights — the
    reference's pluggable-tuner seam (HyperparameterTunerFactory). A
    JSON config can request one via ``cfg["tuner"]`` (``make_tuner``
    spec); a programmatic instance wins over the config. Mutually
    exclusive with the explicit ``reg_param_sweep`` list."""
    from photon_ml_spark import events

    _validate_cfg_keys(cfg, "train")
    emitter = events.EventEmitter()
    for li in listeners or ():
        emitter.register_listener(li)
    if cfg.get("event_log"):
        # config-driven event capture: every lifecycle event of this
        # job lands in one JSONL file, flushed by the finally-block
        # close below (the listener is created — and therefore owned —
        # by this job)
        emitter.register_listener(
            events.JsonLinesFileListener(cfg["event_log"])
        )
    try:
        _train_impl(cfg, spark, emitter, tuner)
    finally:
        # Driver.scala:549 parity: listeners are always cleared (and
        # hence close()d) at job end, success or failure, so buffered/
        # file-backed listeners flush their data
        emitter.clear_listeners()


def _train_impl(cfg: dict, spark: SparkSession, emitter, tuner) -> None:
    """Exception-safe shell: every cache the body registers is released
    on ANY exit — the in-process leak this guards against (tests and
    sweep orchestration call the driver repeatedly, several paths via
    pytest.raises) happens precisely on the raising paths a clean-exit
    unpersist would miss."""
    job_caches: list = []
    try:
        _train_impl_body(cfg, spark, emitter, tuner, job_caches)
    finally:
        for frame in job_caches:
            try:
                frame.unpersist()
            except Exception:
                pass


def _train_impl_body(
    cfg: dict, spark: SparkSession, emitter, tuner, job_caches: list
) -> None:
    from pyspark.sql import functions as F

    from photon_ml_spark import events
    from photon_ml_spark.estimator import GameEstimator
    from photon_ml_spark.ml.coordinate_descent import CoordinateConfig
    from photon_ml_spark.sources.model_io import save_game_model

    # validate coordinate-entry keys BEFORE any input IO — a typo'd
    # field ("reg_params") silently falling back to its default is the
    # same failure class as a typo'd top-level key
    for c in cfg["coordinates"]:
        _validate_stage_keys(c, "coordinates[]")
    # per-coordinate feature shards (CoordinateDataConfiguration.scala:
    # 24,37,58 featureShardId): resolve every coordinate's shard now,
    # before any IO — a typo'd shard name must fail here, not as a
    # missing column mid-training
    shard_cfgs = _shard_configs(cfg)
    multi_shard = cfg.get("feature_shards") is not None
    sole_shard = next(iter(shard_cfgs)) if len(shard_cfgs) == 1 else None
    coord_shard: dict[str, str] = {}
    for c in cfg["coordinates"]:
        s = c.get("shard", sole_shard)
        if s is None:
            raise ValueError(
                f"coordinate {c['name']!r} needs a 'shard' when several "
                f"feature_shards are configured ({sorted(shard_cfgs)})"
            )
        if s not in shard_cfgs:
            raise ValueError(
                f"coordinate {c['name']!r} names unknown shard {s!r}; "
                f"configured shards: {sorted(shard_cfgs)}"
            )
        coord_shard[c["name"]] = s
    if cfg.get("per_group_evaluation") is not None:
        _validate_stage_keys(
            cfg["per_group_evaluation"], "per_group_evaluation"
        )

    emitter.send_event(events.SetupEvent(params=events.params_summary(cfg)))

    inc = cfg.get("incremental_training")
    prev_model = None
    if inc:
        # M9 incremental training (GameTrainingDriver incrementalTraining
        # + modelInputDirectory): warm-start every coordinate from the
        # previous run's model — fixed effects get a Gaussian prior
        # centered on the previous coefficients with precision =
        # 1/variance when a variance table was saved (the reason
        # variance_computation exists), random effects get the previous
        # model TABLE as prior/x0 with carry-forward for data-less
        # entities. The previous run's dictionary is reused by default:
        # priors are meaningless across different feature spaces.
        if isinstance(inc, str):
            inc = {"model_dir": inc}
        _validate_stage_keys(inc, "incremental_training")
        if "model_dir" not in inc:
            raise ValueError("incremental_training needs model_dir")
        if multi_shard:
            # per-shard priors need the prior run's per-shard feature
            # spaces: the prior model dir must be a multi-shard model
            # whose shard DEFINITIONS (bags + intercept) match this
            # config exactly — a renamed bag or a dropped intercept
            # would silently re-index the spaces the priors live in
            from photon_ml_spark.sources.model_io import (
                _hadoop_exists,
                _hadoop_read_text,
            )

            shards_json = f"{inc['model_dir']}/feature-shards.json"
            if not _hadoop_exists(spark, shards_json):
                raise ValueError(
                    "incremental_training.model_dir holds a single-shard "
                    "model (no feature-shards.json) but feature_shards "
                    "is configured — priors are indexed per shard; use "
                    "the single-shard config or retrain from scratch"
                )
            prev_shards = json.loads(
                _hadoop_read_text(spark, shards_json)
            )["shards"]
            cur_shards = {
                s: {
                    "bags": list(sh.feature_bags),
                    "has_intercept": sh.has_intercept,
                }
                for s, sh in shard_cfgs.items()
            }
            if prev_shards != cur_shards:
                raise ValueError(
                    "feature_shards differs from the prior model's saved "
                    f"feature-shards.json (prior: {prev_shards}; "
                    f"configured: {cur_shards}) — priors are indexed by "
                    "the previous per-shard feature spaces; match the "
                    "prior config or retrain from scratch"
                )
        else:
            # the inverse mismatch needs the same guided failure: a
            # legacy single-shard config against a multi-shard prior
            # would otherwise die on a raw 'path does not exist' for
            # {model_dir}/feature-dictionary (multi-shard models write
            # feature-dictionaries/{shard} instead)
            from photon_ml_spark.sources.model_io import _hadoop_exists

            if _hadoop_exists(
                spark, f"{inc['model_dir']}/feature-shards.json"
            ):
                raise ValueError(
                    "incremental_training.model_dir holds a MULTI-shard "
                    "model (feature-shards.json present) but this config "
                    "is single-shard — configure the matching "
                    "feature_shards map (priors are indexed per shard) "
                    "or retrain from scratch"
                )
        if str(cfg.get("normalization", "none")).lower() != "none":
            raise ValueError(
                "incremental_training cannot combine with normalization: "
                "the prior model is original-space while training would "
                "run in the scaled space — retrain without normalization "
                "or drop the prior"
            )
        from photon_ml_spark.sources.model_io import load_game_model

        prev_model = load_game_model(inc["model_dir"], spark)

    dict_in = None
    if inc and not multi_shard and not cfg.get("dictionary_input"):
        dict_in = spark.read.parquet(
            f"{inc['model_dir']}/feature-dictionary"
        ).cache()
    elif inc and not multi_shard and cfg.get("dictionary_input"):
        # an explicit dictionary alongside a prior model must BE the
        # prior model's feature space — priors are indexed by the old
        # dictionary, so a silently different mapping would center
        # every prior on the wrong feature. One symmetric-difference
        # job over the (small) dictionary relations proves equality.
        prev_d = spark.read.parquet(
            f"{inc['model_dir']}/feature-dictionary"
        )
        new_d = spark.read.parquet(
            f"{cfg['dictionary_input']}/feature-dictionary"
        )
        if (
            prev_d.exceptAll(new_d).limit(1).count() > 0
            or new_d.exceptAll(prev_d).limit(1).count() > 0
        ):
            raise ValueError(
                "dictionary_input differs from incremental_training."
                "model_dir's saved dictionary — priors are indexed by "
                "the previous feature space; drop dictionary_input (the "
                "previous dictionary is reused automatically) or "
                "retrain from scratch on the new space"
            )
    dicts_in: dict = {}
    if cfg.get("dictionary_input"):
        # reuse an offline-built dictionary (the `index` driver's
        # output — FeatureIndexingDriver's consume side): training
        # skips the distinct+ordinal job entirely and every run shares
        # ONE frozen feature space (the precondition for warm starts
        # and incremental priors to be meaningful across runs). With
        # feature_shards, pass a {shard: index_output_dir} map — one
        # offline index per shard, mirroring the reference's per-shard
        # PalDB stores (FeatureIndexingDriver writes one per shard).
        di = cfg["dictionary_input"]
        if multi_shard:
            if not isinstance(di, dict):
                raise ValueError(
                    "with feature_shards, dictionary_input must be a "
                    "map {shard_name: index_output_dir}"
                )
            unknown = sorted(set(di) - set(shard_cfgs))
            if unknown:
                raise ValueError(
                    f"dictionary_input names unknown shard(s) {unknown}; "
                    f"configured shards: {sorted(shard_cfgs)}"
                )
            missing = sorted(set(shard_cfgs) - set(di))
            if missing and not inc:
                # a partial map would silently rebuild the uncovered
                # shards' dictionaries from THIS run's data — the
                # frozen-feature-space contract (the whole point of
                # dictionary_input) broken without an error. With
                # incremental_training the prior model fills the gap
                # below instead.
                raise ValueError(
                    "dictionary_input must cover every configured shard; "
                    f"missing {missing} — a partially frozen feature "
                    "space re-indexes the uncovered shards per run"
                )
            for s, p in di.items():
                dicts_in[s] = spark.read.parquet(
                    f"{p}/feature-dictionary"
                ).cache()
        else:
            dicts_in[next(iter(shard_cfgs))] = spark.read.parquet(
                f"{di}/feature-dictionary"
            ).cache()
    elif dict_in is not None:
        dicts_in[next(iter(shard_cfgs))] = dict_in
    if inc and multi_shard:
        # the prior model's per-shard dictionaries ARE the feature
        # spaces its priors are indexed by: reuse them for every shard.
        # An explicitly supplied dictionary_input shard must BE that
        # space — same symmetric-difference proof as single-shard.
        for s in shard_cfgs:
            prev_path = f"{inc['model_dir']}/feature-dictionaries/{s}"
            if s in dicts_in:
                prev_d = spark.read.parquet(prev_path)
                if (
                    prev_d.exceptAll(dicts_in[s]).limit(1).count() > 0
                    or dicts_in[s].exceptAll(prev_d).limit(1).count() > 0
                ):
                    raise ValueError(
                        f"dictionary_input[{s!r}] differs from the prior "
                        "model's saved per-shard dictionary — priors are "
                        "indexed by the previous feature space; drop the "
                        "dictionary_input entry (the prior dictionary is "
                        "reused automatically) or retrain from scratch"
                    )
            else:
                dicts_in[s] = spark.read.parquet(prev_path).cache()
    assembled, dictionaries, dims = _assembled(
        spark, cfg, dictionaries=dicts_in
    )
    job_caches.extend(dictionaries.values())
    dv_mode = cfg.get("data_validation", "disabled")
    if dv_mode != "disabled":
        # GameTrainingDriver's dataValidation hook (default
        # VALIDATE_DISABLED, GameTrainingDriver.scala:223): per-task
        # checks over the assembled frame in full or seeded-sample mode
        from photon_ml_spark.operators.validation import (
            standard_training_checks,
            validate_or_raise,
        )

        for s in shard_cfgs:
            validate_or_raise(
                assembled,
                standard_training_checks(
                    task=cfg.get("family", "binomial"),
                    features_col=f"{s}_values",
                ),
                mode=dv_mode,
            )

    if cfg.get("data_summary_dir"):
        # dataSummaryDirectory (GameTrainingDriver): per-feature
        # summaries of each assembled shard — nnz/moments/min/max from
        # the exploded sparse pairs (zeros implicit: mean/variance use
        # the full row count), dictionary-labeled, written as parquet.
        # Runs on the RAW assembled frame, BEFORE any normalization —
        # the artifact must describe the data, not the training
        # transform (summaries are the INPUT normalization derives
        # its factors from). Multi-shard runs write one summary per
        # shard under {dir}/{shard}; the legacy single-shard layout
        # stays flat.
        n_rows = assembled.count()
        for s in shard_cfgs:
            pairs = assembled.select(
                F.explode(
                    F.arrays_zip(
                        F.col(f"{s}_indices"), F.col(f"{s}_values")
                    )
                ).alias("__p")
            ).select(
                F.col(f"__p.{s}_indices").alias("feature_index"),
                F.col(f"__p.{s}_values").cast("double").alias("x"),
            )
            nn = F.lit(float(n_rows))
            summary = pairs.groupBy("feature_index").agg(
                F.count(F.lit(1)).alias("nnz"),
                F.sum("x").alias("s1"),
                F.sum(F.col("x") * F.col("x")).alias("s2"),
                F.min("x").alias("min"),
                F.max("x").alias("max"),
            ).select(
                "feature_index",
                "nnz",
                (F.col("s1") / nn).alias("mean"),
                # n > 1 guard: a single-row input must not divide by
                # zero (throws under Spark 4 ANSI mode) — variance is
                # NULL there
                F.when(
                    nn > F.lit(1.0),
                    (F.col("s2") - F.col("s1") * F.col("s1") / nn)
                    / (nn - F.lit(1.0)),
                ).alias("variance"),
                # implicit zeros widen the range ONLY where the feature
                # is absent from some rows
                F.when(
                    F.col("nnz") < F.lit(n_rows),
                    F.least(F.col("min"), F.lit(0.0)),
                ).otherwise(F.col("min")).alias("min"),
                F.when(
                    F.col("nnz") < F.lit(n_rows),
                    F.greatest(F.col("max"), F.lit(0.0)),
                ).otherwise(F.col("max")).alias("max"),
            )
            target = (
                f"{cfg['data_summary_dir']}/{s}"
                if multi_shard
                else cfg["data_summary_dir"]
            )
            summary.join(
                F.broadcast(dictionaries[s]), "feature_index", "left"
            ).write.mode("overwrite").parquet(target)

    norm_kind = str(cfg.get("normalization", "none")).lower()
    norm_tables: dict = {}
    if norm_kind != "none":
        # GameTrainingDriver's normalization param (NormalizationType,
        # factors from the feature summaries, GameTrainingDriver.scala:
        # 590-656): training runs on factor-scaled SPARSE pairs (the
        # shift folds into the intercept — see
        # normalization.apply_sparse_normalization), and the final
        # model is mapped back to original space before persisting.
        # One factor table per shard — each shard is its own feature
        # space with its own index range.
        from photon_ml_spark.ml.normalization import (
            apply_sparse_normalization,
            sparse_normalization_table,
        )

        for s in shard_cfgs:
            norm_tables[s] = sparse_normalization_table(
                assembled,
                f"{s}_indices",
                f"{s}_values",
                kind=norm_kind,
            ).cache()
            job_caches.append(norm_tables[s])
            assembled = apply_sparse_normalization(
                assembled, norm_tables[s], f"{s}_indices", f"{s}_values"
            )

    def _bounds(c):
        # reference parity (GLMSuite.createConstraintFeatureMap): a
        # JSON constraint list on a fixed coordinate resolves against
        # the coordinate's OWN shard dictionary into per-index box
        # bounds
        if "constraints" not in c:
            return None, None
        from photon_ml_spark.ml.constraints import parse_constraint_map

        s = coord_shard[c["name"]]
        parsed = parse_constraint_map(
            c["constraints"], dictionaries[s], dims[s]
        )
        return (None, None) if parsed is None else parsed

    def _fixed_prior(name, prev, dim):
        """(prior_mean, prior_precision) arrays (dim+1, intercept last)
        from the previous fixed model + its saved variance table. No
        variances on disk → warm-start-only (mean carried, no penalty),
        matching the reference's requirement that incremental priors
        come from a variance-computing run."""
        import numpy as np

        mean = np.append(
            np.asarray(prev.coefficients, dtype=float), float(prev.intercept)
        )
        vpath = f"{inc['model_dir']}/fixed-effect/{name}/variances"
        from photon_ml_spark.sources.model_io import _hadoop_exists

        if not _hadoop_exists(spark, vpath):
            return None, None
        vdf = spark.read.parquet(vpath)
        has_key = "feature_key" in vdf.columns
        cols = ["feature_index", "variance"] + (
            ["feature_key"] if has_key else []
        )
        rows = vdf.select(*cols).collect()
        from photon_ml_spark.datamodel import INTERCEPT_KEY

        prec = np.zeros(dim + 1)
        for r in rows:
            v = float(r.variance)
            if v <= 0:
                continue
            if has_key:
                # key-resolved tables (everything written since the
                # variances-on-the-wire round): the intercept is the
                # INTERCEPT_KEY row — imported reference models carry
                # it with a NULL index (their dictionaries have no
                # intercept slot), train-produced tables at slot dim-1
                if r.feature_key == INTERCEPT_KEY:
                    prec[dim] = 1.0 / v
                    continue
                if r.feature_index is None:
                    continue  # key outside this feature space
                j = int(r.feature_index)
                if 0 <= j < dim:
                    prec[j] = 1.0 / v
                continue
            # legacy keyless tables: intercept at the dictionary's
            # final slot by construction (build_feature_dictionary)
            j = int(r.feature_index)
            if j == dim - 1:
                prec[dim] = 1.0 / v
            elif 0 <= j < dim - 1:
                prec[j] = 1.0 / v
        return mean, prec

    # varianceComputationType — read (and fail) BEFORE training, and
    # thread into RANDOM coordinates so per-entity fits carry σ²
    # (RandomEffectOptimizationProblem.scala:133-189); fixed
    # coordinates compute theirs at the CD optimum below instead
    vc = str(cfg.get("variance_computation", "none")).lower()
    if vc not in ("none", "simple", "full"):
        raise ValueError(
            f"variance_computation must be none|simple|full, got {vc!r}"
        )
    coords = []
    for c in cfg["coordinates"]:
        s = coord_shard[c["name"]]
        lo, hi = _bounds(c)
        pretrained = None
        pm = pp = None
        if prev_model is not None and c["name"] in prev_model.coordinates:
            pretrained = prev_model.coordinates[c["name"]]
            if c["kind"] == "fixed":
                pm, pp = _fixed_prior(c["name"], pretrained, dims[s])
        coords.append(
            CoordinateConfig(
                name=c["name"],
                kind=c["kind"],
                dim=dims[s],
                indices_col=f"{s}_indices",
                values_col=f"{s}_values",
                entity_col=c.get("entity_col"),
                reg_param=c.get("reg_param", 0.0),
                min_samples=c.get("min_samples", 1),
                active_cap=c.get("active_cap"),
                elastic_net_param=c.get("elastic_net_param", 0.0),
                solver=c.get("solver", "auto"),
                lower_bounds=lo,
                upper_bounds=hi,
                pretrained=pretrained,
                prior_mean=pm,
                prior_precision=pp,
                compute_variance=(
                    vc if vc != "none" and c["kind"] == "random" else None
                ),
            )
        )
    locked_names = set((inc or {}).get("locked_coordinates", []))
    if locked_names:
        # partialRetrainLockedCoordinates (M8): these coordinates keep
        # the previous model verbatim — scored every update, never
        # re-trained. Only meaningful with a previous model to lock to.
        known = {c.name for c in coords}
        unknown = sorted(locked_names - known)
        if unknown:
            raise ValueError(
                f"locked_coordinates names unknown coordinate(s) {unknown}"
            )
        from dataclasses import replace as _replace

        coords = [
            _replace(c, locked=True) if c.name in locked_names else c
            for c in coords
        ]
        missing = sorted(
            n for n in locked_names
            if prev_model is None or n not in prev_model.coordinates
        )
        if missing:
            raise ValueError(
                f"locked_coordinates {missing} have no model in "
                "incremental_training.model_dir to lock to"
            )
    seq = cfg.get("update_sequence")
    if seq:
        # coordinateUpdateSequence: explicit update order. Must be a
        # permutation of the configured coordinate names — a missing
        # name would silently drop a coordinate from training.
        names = [c.name for c in coords]
        if sorted(seq) != sorted(names):
            raise ValueError(
                f"update_sequence {seq} must be a permutation of the "
                f"configured coordinates {sorted(names)}"
            )
        by_name = {c.name: c for c in coords}
        coords = [by_name[n] for n in seq]

    from dataclasses import replace

    family = cfg.get("family", "binomial")
    assembled = assembled.cache()
    job_caches.append(assembled)

    _norm_rows_cache: dict = {}

    def _backmapped_model(model):
        """Original-space COPY of a transformed-space GameModel (never
        mutates — the sweep's candidate saves and the final save must
        not double-transform the selected model). Each coordinate maps
        back through its OWN shard's factor table."""
        if not norm_tables:
            return model
        from photon_ml_spark.ml.coordinate_descent import GameModel
        from photon_ml_spark.ml.normalization import (
            backmap_fixed_model,
            backmap_random_effects,
        )

        out_model = GameModel(family=model.family)
        out_model.configs = dict(model.configs)
        for name, c in model.configs.items():
            s = coord_shard[name]
            m = model.coordinates[name]
            if c.kind == "fixed":
                if s not in _norm_rows_cache:
                    # O(dim) like the model itself; collected ONCE per
                    # shard — sweep mode calls this per saved candidate
                    _norm_rows_cache[s] = norm_tables[s].collect()
                out_model.coordinates[name] = backmap_fixed_model(
                    m, _norm_rows_cache[s]
                )
            else:
                out_model.coordinates[name] = backmap_random_effects(
                    m, norm_tables[s]
                )
        return out_model


    def fit_with(overrides: dict, warm_from=None):
        cs = [
            replace(c, reg_param=float(overrides.get(c.name, c.reg_param)))
            for c in coords
        ]
        if warm_from is not None:
            # warm start across the λ sweep (ModelTraining.scala:
            # 178-224): the previous λ's coordinate models seed the
            # next fit — fixed as optimizer x0, random as prior
            cs = [
                replace(
                    c,
                    pretrained=warm_from.coordinates.get(
                        c.name, c.pretrained
                    ),
                )
                for c in cs
            ]
        est = GameEstimator(
            coordinates=cs, family=family,
            n_iterations=cfg.get("n_iterations", 2),
        )
        for li in emitter.listeners():
            est.register_listener(li)
        return est.fit(assembled)

    validation_frame = None
    if cfg.get("validation_input"):
        # assembled ONCE with the training dictionary and cached —
        # reused by every sweep evaluation and the per-group sink
        # the TRAINING range must not leak onto the validation path
        # (a flat validation dir would fail daily-dir resolution);
        # validation gets its own optional range — the reference's
        # separate validationDataDateRange/DaysRange params
        vcfg = {
            k: v
            for k, v in cfg.items()
            if k not in ("date_range", "days_range")
        }
        vcfg["input"] = cfg["validation_input"]
        if cfg.get("validation_date_range"):
            vcfg["date_range"] = cfg["validation_date_range"]
        if cfg.get("validation_days_range"):
            vcfg["days_range"] = cfg["validation_days_range"]
        validation_frame, _, _ = _assembled(
            spark, vcfg, dictionaries=dictionaries,
        )
        for s, nt in norm_tables.items():
            # the TRAINING factors transform the held-out frame too —
            # refitting contexts on validation data would evaluate a
            # different model than the one being selected
            validation_frame = apply_sparse_normalization(
                validation_frame, nt, f"{s}_indices", f"{s}_values",
            )
        validation_frame = validation_frame.cache()
        job_caches.append(validation_frame)

    def _eval_scored(fitted, frame):
        """Score + the EVALUATION margin: the transformer's score is
        the raw model margin WITHOUT offset; evaluation adds the
        offset explicitly (GameScoringDriver.scala:234, the estimator
        module's documented contract)."""
        scored = fitted.transform(frame)
        off = (
            F.coalesce(F.col("offset"), F.lit(0.0))
            if "offset" in scored.columns
            else F.lit(0.0)
        )
        return scored.withColumn("__eval_margin", F.col("score") + off)

    def validation_metric(fitted):
        """Primary validation metric on the held-out frame, by family
        direction (T8, EvaluatorType.scala:59-65 betterThan): AUROC
        (higher better) for binomial, negated RMSE otherwise — both on
        the offset-inclusive margin."""
        from photon_ml_spark.functions import metrics

        scored = _eval_scored(fitted, validation_frame)
        if family in ("binomial", "logistic"):
            auc = metrics.auroc(
                scored, score="__eval_margin", label="response"
            ).first().auroc
            if auc is None:
                raise ValueError(
                    "validation frame has a single response class (or "
                    "no rows) — AUROC is undefined; fix validation_input"
                )
            return float(auc)
        return -float(
            metrics.weighted_rmse(
                scored, score="__eval_margin", label="response"
            ).first().rmse
        )

    out = cfg["output_dir"]
    sweep = cfg.get("reg_param_sweep")
    output_mode = cfg.get("output_mode", "best").lower()
    if output_mode not in ("best", "all", "none"):
        raise ValueError("output_mode must be best|all|none")
    report = {
        "status": "trained",
        "model_dir": out,
        # single-shard reports keep the scalar (back-compat); multi-
        # shard reports the per-shard dim map
        "dim": dict(dims) if multi_shard else dims[sole_shard],
    }
    if tuner is None and cfg.get("tuner"):
        from photon_ml_spark.ml.hypersearch import make_tuner

        tuner = make_tuner(cfg["tuner"])
    if tuner is not None and sweep:
        raise ValueError(
            "configure either reg_param_sweep (explicit list) or a "
            "tuner (searched selection), not both"
        )
    if tuner is not None:
        # pluggable-tuner model selection (HyperparameterTuner seam):
        # the tuner searches per-coordinate reg weights against the
        # validation metric; the winning point is refit once for the
        # output model. Same held-out-data requirement as the sweep.
        if validation_frame is None:
            raise ValueError(
                "tuner-driven selection requires validation_input: "
                "selecting on the training metric would always favor "
                "the least-regularized model"
            )
        coord_names = {c.name for c in coords}

        def evaluate(params: dict) -> float:
            unknown = sorted(set(params) - coord_names)
            if unknown:
                raise ValueError(
                    f"tuner point names unknown coordinate(s) {unknown}"
                )
            m = validation_metric(fit_with(params))
            emitter.send_event(
                events.OptimizationLogEvent(
                    index=len(tuner_history), reg_weights=dict(params),
                    metric=m,
                )
            )
            tuner_history.append((dict(params), m))
            return m

        tuner_history = []
        found = tuner.search(
            evaluate, n=int(cfg.get("tuner_iterations", 10)), maximize=True
        )
        best_params, best_value = found["best_params"], found["best_value"]
        # a custom tuner may return a reconstructed/rounded point not
        # value-identical to any history entry — fall back to -1
        # (unknown index) instead of raising after all the expensive
        # evaluations but before the refit
        emitter.send_event(
            events.ModelSelectionEvent(
                index=next(
                    (
                        i for i, (p, v) in enumerate(tuner_history)
                        if p == best_params and v == best_value
                    ),
                    -1,
                ),
                reg_weights=dict(best_params),
                metric=best_value,
            )
        )
        report["tuner"] = {
            "evaluations": [
                {"config": p, "metric": v} for p, v in tuner_history
            ],
            "best": {"config": best_params, "metric": best_value},
        }
        fitted = fit_with(best_params)
    elif sweep:
        # reference: explicit regularization-weight sweep + model
        # selection (GameTrainingDriver.scala selectModels / T8;
        # ModelOutputMode NONE|BEST|ALL). Selection REQUIRES held-out
        # data — a training-set metric would always pick the weakest
        # regularization (the overfit direction), so its absence is an
        # error, same as the reference's validation-data requirement.
        if validation_frame is None:
            raise ValueError(
                "reg_param_sweep requires validation_input: selecting "
                "on the training metric would always favor the least-"
                "regularized model"
            )
        # fail fast on sweep typos: an override key matching no
        # coordinate would silently train N identical models and
        # "select" among them with no signal
        coord_names = {c.name for c in coords}
        for i, overrides in enumerate(sweep):
            unknown = sorted(set(overrides) - coord_names)
            if unknown:
                raise ValueError(
                    f"reg_param_sweep[{i}] names unknown coordinate(s) "
                    f"{unknown}; configured coordinates: "
                    f"{sorted(coord_names)}"
                )
        # warm_start_sweep (legacy Driver useWarmStart parity): fits
        # run in DESCENDING regularization order (ModelTraining.scala:
        # 168 sortWith(_ >= _) — heavier shrinkage converges fastest
        # from zero), each seeded by the previous λ's model. Report
        # entries keep their original sweep indexes either way.
        entries = list(enumerate(sweep))
        warm = bool(cfg.get("warm_start_sweep", False))
        if warm:
            # sort on each entry's EFFECTIVE per-coordinate weights —
            # an override dict omitting a coordinate means "use the
            # coordinate's configured reg_param", not 0.0, so resolve
            # the fallback before comparing (an empty-override entry
            # otherwise sorts last regardless of its actual λ)
            coord_defaults = [(c.name, float(c.reg_param)) for c in coords]

            def _effective(ov):
                return tuple(
                    float(ov.get(name, default))
                    for name, default in coord_defaults
                )

            entries.sort(key=lambda e: _effective(e[1]), reverse=True)
        results = []  # (index, overrides, metric) — models not retained
        best = None  # (metric, index, overrides, fitted)
        prev_fitted = None
        for i, overrides in entries:
            fitted = fit_with(
                overrides, warm_from=prev_fitted.model if warm and prev_fitted else None
            )
            prev_fitted = fitted
            m = validation_metric(fitted)
            # Driver.scala:179,409 parity: one optimization-log event
            # per regularization weight, same as the tuner branch
            emitter.send_event(
                events.OptimizationLogEvent(
                    index=i, reg_weights=dict(overrides), metric=m,
                )
            )
            results.append((i, overrides, m))
            if best is None or m > best[0]:
                best = (m, i, overrides, fitted)
            if output_mode == "all":
                save_game_model(
                    _backmapped_model(fitted.model), f"{out}/models/{i}",
                    spark,
                    sparsity_threshold=cfg.get("sparsity_threshold", 0.0),
                    dictionary={
                        n: dictionaries[coord_shard[n]] for n in coord_shard
                    },
                )
        report["sweep"] = [
            {"index": i, "config": ov, "metric": m} for i, ov, m in results
        ]
        report["best"] = {"index": best[1], "config": best[2], "metric": best[0]}
        emitter.send_event(
            events.ModelSelectionEvent(
                index=best[1], reg_weights=dict(best[2]), metric=best[0],
            )
        )
        fitted = best[3]
    else:
        fitted = fit_with({})
        report["updates"] = len(fitted.history)
    variance_tables = {}  # vc read+validated before the coordinate build
    if vc != "none":
        # varianceComputationType (GameTrainingDriver; M10/A3):
        # coefficient variances of each FIXED coordinate at the CD
        # optimum — the coordinate's local problem sees the full summed
        # margin as offset, so the full offset-inclusive margin is its
        # exact curvature point. Computed in the (possibly normalized)
        # training space, then scaled back by factor² — exact for the
        # shift-free kinds; under standardization the intercept slot
        # keeps its transformed-space variance (the shift adjustment's
        # cross-covariances are not tracked, same simplification the
        # per-slot SIMPLE path makes by ignoring off-diagonals).
        from photon_ml_spark.ml.variance import (
            simple_variance,
            sparse_full_hessian_variance,
            sparse_hessian_diagonal,
        )

        scored_tr = _eval_scored(fitted, assembled)
        for name, c in fitted.model.configs.items():
            if c.kind != "fixed":
                continue
            s = coord_shard[name]
            if vc == "simple":
                hd = sparse_hessian_diagonal(
                    scored_tr,
                    f"{s}_indices",
                    f"{s}_values",
                    margin_col="__eval_margin",
                    weight_col="weight",
                    family=family,
                    l2=c.reg_param,
                    dim=dims[s],
                )
                vt = simple_variance(hd).select("feature_index", "variance")
            else:
                rows = sparse_full_hessian_variance(
                    scored_tr,
                    dims[s],
                    f"{s}_indices",
                    f"{s}_values",
                    margin_col="__eval_margin",
                    weight_col="weight",
                    family=family,
                    l2=c.reg_param,
                )
                vt = spark.createDataFrame(
                    rows, "feature_index long, variance double"
                )
            if norm_tables.get(s) is not None:
                vt = vt.join(
                    F.broadcast(norm_tables[s]), "feature_index", "left"
                ).select(
                    "feature_index",
                    (
                        F.col("variance")
                        * F.pow(F.coalesce(F.col("factor"), F.lit(1.0)), 2)
                    ).alias("variance"),
                )
            variance_tables[name] = vt
    pge = cfg.get("per_group_evaluation")
    if pge:
        # savePerGroupEvaluationResult parity (GameTrainingDriver
        # .scala:878-901 + A11 MultiEvaluator): per-group metric of
        # the selected model over the validation (or training)
        # frame, written beside the model. Independent of output_mode:
        # the evaluation needs only output_dir (always configured), and
        # output_mode=none + per_group_evaluation is exactly the
        # "evaluate without persisting models" run.
        from photon_ml_spark.functions import metrics

        frame = (
            validation_frame if validation_frame is not None else assembled
        )
        scored = _eval_scored(fitted, frame)
        group = pge["group_col"]
        kind = pge.get("metric", "auc")
        if kind == "auc":
            per_group = metrics.auroc_per_group(
                scored, group, score="__eval_margin", label="response"
            )
        elif kind == "precision_at_k":
            per_group = metrics.precision_at_k_per_group(
                scored, pge.get("k", 5), group,
                score="__eval_margin", label="response",
            )
        else:
            raise ValueError(
                "per_group_evaluation.metric must be auc|precision_at_k"
            )
        per_group.write.mode("overwrite").parquet(
            f"{out}/group-evaluation"
        )
        report["group_evaluation"] = f"{out}/group-evaluation"
    if cfg.get("evaluators"):
        # GameDriver's `evaluators` param applied at train time: the
        # requested reference-named metrics over the selected model's
        # validation (or training) scores — same grammar as the score
        # driver (_evaluate_scores)
        frame = (
            validation_frame if validation_frame is not None else assembled
        )
        report["evaluation"] = _evaluate_scores(
            fitted.transform(frame), cfg["evaluators"]
        )
    if output_mode != "none":
        # back to original space BEFORE persisting: the saved model
        # scores RAW data (NormalizationContext.scala:77-94 algebra) —
        # β_j = β'_j·factor_j, intercept absorbs the shifts; per-entity
        # tables are backmapped as a distributed transform
        save_game_model(
            _backmapped_model(fitted.model), out, spark,
            sparsity_threshold=cfg.get("sparsity_threshold", 0.0),
            dictionary={
                n: dictionaries[coord_shard[n]] for n in coord_shard
            },
        )
        if multi_shard:
            # per-shard dictionaries + the shard definitions, so the
            # score driver reassembles every shard with the TRAINING
            # vocabulary and bag unions (the reference persists one
            # index map per shard the same way)
            from photon_ml_spark.sources.model_io import _hadoop_write_text

            for s, sh in shard_cfgs.items():
                dictionaries[s].write.mode("overwrite").parquet(
                    f"{out}/feature-dictionaries/{s}"
                )
            _hadoop_write_text(
                spark,
                f"{out}/feature-shards.json",
                json.dumps(
                    {
                        "shards": {
                            s: {
                                "bags": list(sh.feature_bags),
                                "has_intercept": sh.has_intercept,
                            }
                            for s, sh in shard_cfgs.items()
                        }
                    },
                    indent=2,
                ),
            )
        else:
            dictionaries[sole_shard].write.mode("overwrite").parquet(
                f"{out}/feature-dictionary"
            )
        for name, vt in variance_tables.items():
            vt.join(
                F.broadcast(dictionaries[coord_shard[name]]),
                "feature_index",
                "left",
            ).write.mode("overwrite").parquet(
                f"{out}/fixed-effect/{name}/variances"
            )
        if variance_tables:
            report["variances"] = sorted(variance_tables)
    print(json.dumps(report))


def index(cfg: dict, spark: SparkSession) -> None:
    """Offline feature-indexing job — the reference's standalone
    FeatureIndexingDriver (photon-client/.../index/
    FeatureIndexingDriver.scala:218-291: distinct feature keys →
    contiguous ids → persisted per-shard stores; its PalDB off-heap
    requirement above ~200k features, :41-42, disappears because the
    dictionary stays a distributed parquet relation end to end).

    Config: ``input`` (+ optional ``input_format``), ``feature_bags``,
    ``output_dir``; optional ``has_intercept`` (default true) and
    ``selected_features`` — a parquet path whose ``feature_key`` column
    allowlists the dictionary (GLMSuite.getSelectedFeatureSetFromFile
    flow, applied as a semi-join), or ``{"bags_dir": <path>}`` pointing
    at a ``bags`` driver output (per-bag name\\tterm text lists —
    the reference's NameAndTermFeatureBagsDriver artifact). Output
    layout matches what ``train``
    persists beside a model (``{output_dir}/feature-dictionary``), so
    ``train`` consumes it via ``dictionary_input``."""
    from photon_ml_spark.sources import featurize

    _validate_cfg_keys(cfg, "index")
    df = _read_input(spark, cfg)
    selected = None
    if cfg.get("selected_features"):
        sel = cfg["selected_features"]
        if isinstance(sel, dict):
            # {"bags_dir": <path>}: a `bags` driver output — per-bag
            # name\tterm text lists (the reference's chained
            # NameAndTermFeatureBagsDriver → FeatureIndexingDriver flow)
            unknown = sorted(set(sel) - {"bags_dir"})
            if unknown or "bags_dir" not in sel:
                raise ValueError(
                    "selected_features as a map needs exactly "
                    f"{{'bags_dir': <path>}}, got keys {sorted(sel)}"
                )
            selected = featurize.read_name_term_bags(
                spark, sel["bags_dir"], cfg.get("feature_bags", ["features"])
            )
        elif str(sel).endswith(".avro"):
            # the reference's actual artifact: a FeatureNameTermAvro
            # file (GLMSuite.getSelectedFeatureSetFromFile — e.g. its
            # GLMSuiteIntegTest/selectedFeatures.avro fixture)
            selected = featurize.read_name_term_avro(spark, sel)
        else:
            selected = spark.read.parquet(sel)
    dictionary = featurize.build_feature_dictionary(
        df,
        cfg.get("feature_bags", ["features"]),
        has_intercept=bool(cfg.get("has_intercept", True)),
        selected_features=selected,
    )
    out = cfg["output_dir"]
    dictionary.write.mode("overwrite").parquet(f"{out}/feature-dictionary")
    n = spark.read.parquet(f"{out}/feature-dictionary").count()
    print(
        json.dumps(
            {"status": "indexed", "n_features": n, "output_dir": out}
        )
    )


def bags(cfg: dict, spark: SparkSession) -> None:
    """Standalone name/term feature-bags job — the reference's fourth
    CLI driver, NameAndTermFeatureBagsDriver (photon-client/.../data/
    avro/NameAndTermFeatureBagsDriver.scala:148-180): scan the input
    (optionally date-ranged), and for each configured feature bag
    write the distinct (name, term) vocabulary to
    ``{output_dir}/{bag}`` as ``name\\tterm`` text (NameAndTerm's wire
    format). A later ``index`` run consumes the artifact via
    ``selected_features: {"bags_dir": <output_dir>}`` and ``train``
    picks the result up through ``dictionary_input`` — the reference's
    bags → index → train production chain.

    Config: ``input`` (+ optional ``input_format``,
    ``date_range``/``days_range``), ``feature_bags``, ``output_dir``."""
    from photon_ml_spark.sources import featurize

    _validate_cfg_keys(cfg, "bags")
    df = _read_input(spark, cfg)
    out = cfg["output_dir"]
    counts = featurize.write_name_term_bags(
        df, cfg.get("feature_bags", ["features"]), out
    )
    print(json.dumps({"status": "bags", "bags": counts, "output_dir": out}))


def _evaluate_scores(scored, evaluators: list) -> dict:
    """Scoring-time evaluation — the reference scoring driver's
    ``evaluators`` param (GameScoringDriver.scala:180 →
    GameTransformer.scala:187-190: each requested EvaluatorType is
    computed over the scored data and reported). Accepts the
    reference's evaluator names, case-insensitive (EvaluatorType.
    scala:59-65 + MultiEvaluatorType id-tag grammar):

    - scalar: ``AUC``, ``AUPR``, ``RMSE``, ``MAE``, ``LOGISTIC_LOSS``,
      ``POISSON_LOSS``, ``SQUARED_LOSS``, ``SMOOTHED_HINGE_LOSS``
    - grouped: ``AUC:<group_col>`` (mean per-group AUC) and
      ``PRECISION@<k>:<group_col>`` (mean per-group precision@k)

    Metrics are computed on the OFFSET-INCLUSIVE margin against the
    ``response`` column; an unknown name or a label-less frame raises
    (fail fast, never a silently empty evaluation)."""
    from pyspark.sql import functions as F

    from photon_ml_spark.operators.indexing import release_local_checkpoint

    if "response" not in scored.columns:
        raise ValueError(
            "evaluators need a 'response' label column on the scoring "
            "input — score without evaluators, or add labels"
        )
    off = (
        F.coalesce(F.col("offset"), F.lit(0.0))
        if "offset" in scored.columns
        else F.lit(0.0)
    )
    # one scoring pass feeds every requested metric: without it each
    # .first() below re-executes the full scoring plan (random-effect
    # joins included) once per evaluator. A checkpoint rather than a
    # persist: the AUC family reads its tie-grouped scores in several
    # plan branches, and adaptive execution shares one shuffle between
    # them only over a plain RDD scan — over a cached relation every
    # branch re-runs the scoring and the tie-group shuffle.
    sdf = scored.withColumn("__eval_margin", F.col("score") + off)
    sdf = sdf.localCheckpoint(
        eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK
    )
    try:
        return _evaluate_scores_body(sdf, evaluators)
    finally:
        # release on EVERY exit — an unknown evaluator name or an
        # undefined metric raises mid-loop and must not leak the blocks
        release_local_checkpoint(sdf)


def _evaluate_scores_body(sdf, evaluators) -> dict:
    from photon_ml_spark.functions import metrics

    m, lbl = "__eval_margin", "response"
    loss_kinds = {
        "LOGISTIC_LOSS": "logistic",
        "POISSON_LOSS": "poisson",
        "SQUARED_LOSS": "squared",
        "SMOOTHED_HINGE_LOSS": "smoothed_hinge",
    }
    out = {}
    for ev in evaluators:
        name = str(ev).strip().upper()
        if name == "AUC":
            v = metrics.auroc(sdf, score=m, label=lbl).first().auroc
        elif name == "AUPR":
            v = metrics.aupr(sdf, score=m, label=lbl).first().aupr
        elif name == "RMSE":
            v = metrics.weighted_rmse(sdf, score=m, label=lbl).first().rmse
        elif name == "MAE":
            v = metrics.weighted_mae(sdf, score=m, label=lbl).first().mae
        elif name in loss_kinds:
            kind = loss_kinds[name]
            v = metrics.loss_metric(sdf, kind, margin=m, label=lbl).first()[
                f"{kind}_loss"
            ]
        elif name.startswith("AUC:"):
            group = str(ev).split(":", 1)[1].strip()
            per = metrics.auroc_per_group(sdf, group, score=m, label=lbl)
            v = metrics.multi_metric_mean(per, "auc").first()[0]
        elif name.startswith("PRECISION@"):
            head, _, group = name.partition(":")
            if not group:
                raise ValueError(
                    f"evaluator {ev!r} needs a group col: PRECISION@k:<col>"
                )
            k = int(head.split("@", 1)[1])
            group = str(ev).split(":", 1)[1].strip()
            per = metrics.precision_at_k_per_group(
                sdf, k, group, score=m, label=lbl
            )
            v = metrics.multi_metric_mean(
                per, "precision_at_k"
            ).first()[0]
        else:
            raise ValueError(
                f"unknown evaluator {ev!r} (AUC, AUPR, RMSE, MAE, "
                "LOGISTIC_LOSS, POISSON_LOSS, SQUARED_LOSS, "
                "SMOOTHED_HINGE_LOSS, AUC:<group>, PRECISION@k:<group>)"
            )
        if v is None:
            raise ValueError(
                f"evaluator {ev!r} is undefined on this data (single "
                "response class or empty frame)"
            )
        out[str(ev)] = round(float(v), 6)
    return out


def score(cfg: dict, spark: SparkSession) -> None:
    from photon_ml_spark.sources.model_io import (
        _hadoop_exists,
        _hadoop_read_text,
    )

    _validate_cfg_keys(cfg, "score")
    model_dir = cfg["model_dir"]

    # REFERENCE-LAYOUT model dir (the migration path): no engine
    # metadata.json, but fixed-effect/random-effect coordinate dirs in
    # the reference toolchain's Avro layout — load coefficients AND
    # per-shard dictionaries straight from the artifact
    # (ModelProcessingUtils.scala:143-265), no retraining, no
    # re-indexing. The score config maps each shard id (id-info's
    # featureShardId) to its feature bags; a single-shard model takes
    # the plain shard/feature_bags shorthand.
    is_reference_layout = not _hadoop_exists(
        spark, f"{model_dir}/metadata.json"
    ) and (
        _hadoop_exists(spark, f"{model_dir}/fixed-effect")
        or _hadoop_exists(spark, f"{model_dir}/random-effect")
    )
    if is_reference_layout:
        from photon_ml_spark.sources.model_io import load_photon_game_model

        model, ref_dicts = load_photon_game_model(spark, model_dir)
        shard_ids = set(ref_dicts)
        if "feature_shards" in cfg:
            missing = sorted(shard_ids - set(cfg["feature_shards"]))
            if missing:
                raise ValueError(
                    f"reference model at {model_dir!r} uses feature "
                    f"shard(s) {missing} with no bag mapping in "
                    "feature_shards"
                )
            cfg = {
                **cfg,
                "feature_shards": {
                    s: cfg["feature_shards"][s] for s in shard_ids
                },
            }
        elif len(shard_ids) == 1:
            (sole,) = shard_ids
            cfg = {
                **cfg,
                "feature_shards": {
                    sole: {
                        "bags": cfg.get("feature_bags", ["features"]),
                        "has_intercept": False,
                    }
                },
            }
            cfg.pop("shard", None)
            cfg.pop("feature_bags", None)
        else:
            raise ValueError(
                f"reference model at {model_dir!r} uses shards "
                f"{sorted(shard_ids)}; provide feature_shards mapping "
                "each shard id to its bags"
            )
        dictionaries = ref_dicts
        try:
            _score_body(cfg, spark, dictionaries, model=model)
        finally:
            for d in dictionaries.values():
                d.unpersist()
        return

    shards_json = f"{model_dir}/feature-shards.json"
    if _hadoop_exists(spark, shards_json):
        # multi-shard model: the shard definitions AND vocabularies are
        # the training run's saved artifacts — user-supplied shard keys
        # would be a second source of truth, so they are rejected
        if "shard" in cfg or "feature_bags" in cfg:
            raise ValueError(
                "model_dir holds a multi-shard model; its saved "
                "feature-shards.json defines the shards — drop the "
                "'shard'/'feature_bags' keys from the score config"
            )
        shards = json.loads(_hadoop_read_text(spark, shards_json))["shards"]
        cfg = {**cfg, "feature_shards": shards}
        dictionaries = {
            s: spark.read.parquet(
                f"{model_dir}/feature-dictionaries/{s}"
            ).cache()
            for s in shards
        }
    else:
        dictionaries = {
            cfg.get("shard", "features"): spark.read.parquet(
                f"{model_dir}/feature-dictionary"
            ).cache()
        }
    try:
        _score_body(cfg, spark, dictionaries)
    finally:
        for d in dictionaries.values():
            d.unpersist()


def _score_body(cfg: dict, spark, dictionaries: dict, model=None) -> None:
    from photon_ml_spark.estimator import GameTransformer
    from photon_ml_spark.sources.model_io import load_game_model, save_scores

    assembled, _, _ = _assembled(spark, cfg, dictionaries=dictionaries)
    dv_mode = cfg.get("data_validation", "disabled")
    if dv_mode != "disabled":
        # sanityCheckDataFrameForScoring with no task type — the
        # label-free base validators (default VALIDATE_DISABLED,
        # GameScoringDriver.scala:103)
        from photon_ml_spark.operators.validation import (
            standard_scoring_checks,
            validate_or_raise,
        )

        for s in dictionaries:
            validate_or_raise(
                assembled,
                standard_scoring_checks(features_col=f"{s}_values"),
                mode=dv_mode,
            )
    if model is None:
        model = load_game_model(cfg["model_dir"], spark)
    scored = GameTransformer(model=model).transform(assembled)
    save_scores(
        scored, cfg["output_dir"],
        output_files_limit=cfg.get("output_files_limit"),
        model_id=cfg.get("model_id"),
    )
    report = {"status": "scored", "output_dir": cfg["output_dir"]}
    if cfg.get("evaluators"):
        report["evaluation"] = _evaluate_scores(scored, cfg["evaluators"])
    print(json.dumps(report))



def _pii_stage(frame, pii_cfg):
    """Shared PII stage for both curate drivers (same precedent as
    `_quality_prefilter` — one definition, or the batch and stream
    flows drift and replayed batches stop hashing identical content).
    action='redact' (default) rewrites text with matches replaced by
    [PII]; action='drop' removes documents with more than
    ``max_matches`` (default 0) total matches. ``{}`` enables the
    stage with defaults; a non-dict value is a config error."""
    from pyspark.sql import functions as F

    from photon_ml_spark.operators import text

    if not isinstance(pii_cfg, dict):
        raise ValueError(
            "pii must be a config object ({} enables the defaults), "
            f"got {pii_cfg!r}"
        )
    _validate_stage_keys(pii_cfg, "pii")
    action = str(pii_cfg.get("action", "redact")).lower()
    scanned = text.pii_scan(frame, text_col="text")
    total = sum(
        (F.col(f"n_{name}") for name in text.PII_PATTERNS),
        F.lit(0),
    )
    drops = ["text_redacted", *[f"n_{n}" for n in text.PII_PATTERNS]]
    if action == "redact":
        return scanned.withColumn("text", F.col("text_redacted")).drop(
            *drops
        )
    if action == "drop":
        cap = int(pii_cfg.get("max_matches", 0))
        return scanned.filter(total <= cap).drop(*drops)
    raise ValueError("pii.action must be redact|drop")


def _quality_prefilter(docs, q, tokens_col=None):
    """The STATELESS quality filters shared by the batch and stream
    drivers (pure expressions — streaming-safe): heuristic quality
    scoring, language allowlist, token floor, quality floor. Returns
    the scored-and-filtered frame (quality columns retained for the
    batch driver's further stages)."""
    from pyspark.sql import functions as F

    from photon_ml_spark.operators import text

    scored = text.quality_score(docs, tokens_col=tokens_col)
    if "languages" in q:
        scored = text.identify_language(scored)
        scored = scored.filter(F.col("lang_pred").isin(*q["languages"]))
    if "min_tokens" in q:
        scored = scored.filter(F.col("n_tokens") >= q["min_tokens"])
    if "min_quality" in q:
        scored = scored.filter(F.col("quality") >= q["min_quality"])
    return scored


def curate(cfg: dict, spark: SparkSession) -> None:
    """End-to-end training-corpus curation driver — the data-pipeline
    twin of ``train``/``score``. Every stage is optional and config-
    gated; stages compose in the canonical order PII scrub → quality →
    exact dedup
    → near-dedup → contamination → mix → split → chunk:

    {"input": "<docs parquet: doc_id, text[, source]>",
     "output_dir": "<dir>",
     "quality": {"min_tokens": 5, "min_quality": 0.2,
                 "languages": ["en"],
                 "max_ppl": 5000,                  # drop below/outside
                 "min_novelty": 0.1,               # trigram-novelty floor
                 "blocked_terms": ["spam"]},       # drop docs containing
                                                   # any blocked token
     "exact_dedup": true,                          # bag-of-words keeper
     "near_dedup": {"threshold": 0.5, "n": 2,      # MinHash+LSH clusters
                    "index_path": "<state dir>",   # OPTIONAL: incremental
                    "batch_id": 0},                # mode — dedup this run
                                                   # as one daily batch
                                                   # against the shared
                                                   # persisted index (same
                                                   # state as curate-stream;
                                                   # first-seen-wins across
                                                   # runs; incompatible
                                                   # with "split")
     "contamination": {"eval_input": "<parquet>",  # drop docs overlapping
                       "ngram": 3, "min_shared": 5},
     "select": {"target_lang": "zh", "k": 100,     # DSIR importance
                "temperature": 1.0},               # resampling toward
                                                   # the target domain
     "mix": {"shares": {"src0": 0.5, ...},         # corpus mixing;
             "mode": "oversample",                 # optional UniMax
             "max_epochs": 4.0},                   # epoch-capped repeat
     "split": {"test_frac": 0.1},                  # leakage-safe (uses
                                                   # near-dedup clusters)
     "chunk": {"max_tokens": 1024, "overlap": 64},
     "tokenize": {"kind": "bpe",                   # or "unigram"
                  "n_merges": 256,                 # bpe merge budget
                  "vocab_size": 512},              # unigram vocab target
                                                   # trained on the TRAIN
                                                   # side only when split;
                                                   # artifact persisted to
                                                   # {output_dir}/tokenizer
     "report": true}                               # publish per-language
                                                   # data cards (input +
                                                   # surviving corpus)

    Writes ``{output_dir}/{train,test}`` (or ``{output_dir}/docs`` when
    no split) and prints a one-line JSON per-stage row-count report.
    With ``report`` on, ``{output_dir}/report/{input,output}`` hold the
    ``corpus_report`` data cards (doc/token counts, duplicate mass, PII
    incidence per language) for the corpus before and after curation.
    """
    import time

    from pyspark.sql import functions as F

    from photon_ml_spark.operators import dedup, sampling, text

    from photon_ml_spark.operators.indexing import release_local_checkpoint

    _validate_cfg_keys(cfg, "curate")
    for stage in ("quality", "near_dedup", "contamination", "select",
                  "mix", "split", "chunk", "tokenize"):
        if cfg.get(stage) is not None:
            _validate_stage_keys(cfg[stage], stage)
    timings: dict[str, float] = {}
    _t_last = time.perf_counter()

    def _stamp(stage: str) -> None:
        # wall-clock per stage, measured at its materialization point
        # (the count/write that executes its lineage) — regressions in
        # one stage's plan show up in ITS number, not a blended total
        nonlocal _t_last
        now = time.perf_counter()
        timings[stage] = round(now - _t_last, 2)
        _t_last = now

    # shared tokenization (tokens_expr seam): the token array is
    # materialized ONCE into the cached frame and every tokenizing
    # stage (quality, exact dedup, near-dedup, contamination, DSIR
    # selection) reads it instead of re-splitting the text — at 100 TB
    # a per-stage re-tokenize is the single largest redundant scan in
    # the pipeline. The column is internal; _finish/_card drop it.
    TOK = "__toks"
    from photon_ml_spark.sources.datasets import spread_scan

    # spread an under-split scan to core count BEFORE the per-document
    # transforms (tokenization, PII regexes, shingling) — otherwise a
    # small/single-row-group input runs them single-threaded up to the
    # first shuffle; no-op on block-sized inputs (datasets.spread_scan)
    docs = spread_scan(spark.read.parquet(cfg["input"]))
    report: dict[str, int] = {"input": docs.count()}
    _stamp("input")
    # the "input" data card must describe the RAW corpus — its whole
    # point includes PII incidence, which the pii stage below removes
    raw_docs = docs

    def _advance(new_docs, report_key, stage):
        """Swap in the next corpus generation: eager localCheckpoint
        (materialize + TRUNCATE lineage), count the materialized
        blocks for the report, stamp, then release the superseded
        generation — each stage's generation is corpus-sized, so
        leaving every one pinned multiplies storage pressure by the
        stage count at scale (the same leak class as the round-7 IVF
        fix). r13: checkpoint instead of cache()+count — a cached
        generation keeps the whole upstream chain in its LOGICAL plan,
        so every downstream action re-analyzed a plan that grew with
        each stage (measured: ~5s of driver-side gap between jobs over
        a 9-stage run — the guide §7.3 planning-cost failure shape);
        the checkpoint pins the same bytes AND makes later stages plan
        against a leaf. SERIALIZED level per the PLANS.md corpus-cache
        rule; on multi-executor clusters prefer reliable checkpoints
        for the same truncation (module note in coordinate_descent)."""
        nonlocal docs
        prev = docs
        docs = new_docs.localCheckpoint(
            eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK
        )
        report[report_key] = docs.count()
        _stamp(stage)
        if prev is not raw_docs:
            release_local_checkpoint(prev)
        prev.unpersist()

    pii_cfg = cfg.get("pii")
    if pii_cfg is not None:
        # PII stage FIRST — redaction rewrites the text, and every
        # downstream stage must see the scrubbed corpus. The shared
        # token column is folded into the SAME cached generation (a
        # separate withColumn rebinding would orphan the cache), and
        # routing through _advance caches it: uncached, the
        # per-pattern regex chain would re-execute in every downstream
        # stage's lineage.
        _advance(
            _pii_stage(docs, pii_cfg).withColumn(
                TOK, text.tokens(F.col("text"))
            ),
            "after_pii",
            "pii",
        )
    else:
        docs = docs.withColumn(TOK, text.tokens(F.col("text")))

    def _card(frame, name):
        # group by whichever descriptor column the corpus carries
        g = next(
            (c for c in ("lang", "source") if c in frame.columns), None
        )
        frame = (
            frame if g else frame.withColumn("corpus", F.lit("all"))
        ).drop(TOK)
        text.corpus_report(frame, group_col=g or "corpus").write.mode(
            "overwrite"
        ).parquet(f"{cfg['output_dir']}/report/{name}")

    if cfg.get("report"):
        _card(raw_docs, "input")
        _stamp("report_input")

    q = cfg.get("quality")
    if q:
        scored = _quality_prefilter(docs, q, tokens_col=TOK)
        if "max_ppl" in q:
            ppl = text.unigram_perplexity(docs, tokens_col=TOK).select(
                "doc_id", F.col("ppl")
            )
            scored = scored.join(ppl, "doc_id").filter(
                F.col("ppl") <= q["max_ppl"]
            )
        if "min_novelty" in q:
            nov = text.ngram_novelty(docs, tokens_col=TOK).select(
                "doc_id", "novelty"
            )
            scored = scored.join(nov, "doc_id").filter(
                F.col("novelty") >= q["min_novelty"]
            )
        if q.get("blocked_terms"):
            blocked = F.array(*[F.lit(t) for t in q["blocked_terms"]])
            scored = scored.filter(
                ~F.arrays_overlap(F.col(TOK), blocked)
            )
        _advance(scored.select(*docs.columns), "after_quality", "quality")

    if cfg.get("exact_dedup"):
        dups = dedup.bow_exact_dedup(docs, tokens_col=TOK)
        losers = dups.select(
            F.explode("doc_ids").alias("doc_id"), F.col("keep_id")
        ).filter(F.col("doc_id") != F.col("keep_id")).select("doc_id")
        _advance(
            docs.join(losers, "doc_id", "left_anti"),
            "after_exact_dedup",
            "exact_dedup",
        )

    pairs = None
    nd = cfg.get("near_dedup")
    if nd and nd.get("index_path"):
        # INCREMENTAL near-dedup: this run is one daily batch against
        # the shared persisted minhash index (the same state — and the
        # same function — the streaming driver uses), so a near-dup of
        # ANY previously indexed doc is dropped without rescanning the
        # stored corpus, and this batch's survivors extend the index
        # for the next run. first-seen-wins across runs.
        if cfg.get("split"):
            raise ValueError(
                "near_dedup.index_path (incremental mode) cannot feed "
                "'split': leakage-safe splitting needs the batch's "
                "full near-dup cluster structure, which the "
                "incremental flow deliberately does not rescan — run "
                "split from a full (non-incremental) curate"
            )
        from photon_ml_spark.streaming.curation import (
            neardup_process_batch,
        )

        bid = int(nd.get("batch_id", 0))
        staged = f"{cfg['output_dir']}/neardup_survivors"
        # the shared token column rides along (tokens_col) so the
        # shingle-id hashing reads it instead of re-splitting the
        # text; neardup_process_batch drops it before publishing
        neardup_process_batch(
            docs,
            nd["index_path"],
            staged,
            batch_id=bid,
            threshold=nd.get("threshold", 0.5),
            n=nd.get("n", 2),
            num_hashes=nd.get("num_hashes", 16),
            bands=nd.get("bands", 4),
            tokens_col=TOK,
        )
        # neardup_process_batch legitimately publishes NOTHING on two
        # early returns: an empty batch (every doc already filtered
        # out upstream — continue with the empty frame), and a
        # completed replay of this batch_id whose survivors were
        # staged under the ORIGINAL output_dir (only resumable from
        # there — reading a missing path here would crash after every
        # upstream stage already ran)
        from photon_ml_spark.sources.model_io import _hadoop_exists

        advanced = False
        if _hadoop_exists(spark, f"{staged}/batch={bid}"):
            # survivors come back from the staged batch=<id> partition;
            # re-attach the shared token column for the later stages
            _advance(
                spark.read.parquet(staged)
                .filter(F.col("batch") == bid)
                .drop("batch")
                .withColumn(TOK, text.tokens(F.col("text"))),
                "after_near_dedup",
                "near_dedup",
            )
            advanced = True
        elif docs.limit(1).count() == 0:
            pass  # empty batch: keep the (empty) docs frame as-is
        else:
            raise ValueError(
                f"near_dedup.batch_id={bid} was already fully "
                "published for this input under a DIFFERENT "
                "output_dir — its survivors are not staged under "
                f"{staged!r}; re-run with the original output_dir or "
                "a fresh batch_id"
            )
        if not advanced:
            report["after_near_dedup"] = docs.count()
            _stamp("near_dedup")
    elif nd:
        # default path: exact-duplicate sets collapse to one
        # representative BEFORE the LSH bucket self-join (a corpus with
        # millions of copies of one boilerplate page otherwise explodes
        # that join quadratically — the hot-bucket hazard), and the
        # downstream consumers (cluster_and_keep here, leakage_safe_
        # split below) take the LINEAR rep-pair + member→rep star edge
        # list — same connected components as the full pair relation,
        # never the within-group cliques. `collapse_exact: false`
        # restores the direct pipeline.
        if nd.get("collapse_exact", True):
            rep_pairs, membership = dedup.minhash_lsh_collapsed(
                docs, threshold=nd.get("threshold", 0.5),
                n=nd.get("n", 2), tokens_col=TOK,
            )
            pairs = dedup.neardup_cluster_edges(
                rep_pairs, membership
            ).cache()
        else:
            pairs = dedup.minhash_lsh_dedup(
                docs, threshold=nd.get("threshold", 0.5), n=nd.get("n", 2),
                tokens_col=TOK,
            ).select("id_a", "id_b").cache()
        if cfg.get("split"):
            # split consumes the full clusters later; materialize the
            # cached pair relation NOW so the LSH cost lands on THIS
            # stamp instead of silently inflating out_train (the cache
            # is reused, so this count is not extra work)
            pairs.count()
            _stamp("near_dedup")
        # keep one doc per near-dup cluster unless a split stage wants
        # the full clusters (split drops nothing; it separates them)
        if not cfg.get("split"):
            _advance(
                dedup.cluster_and_keep(docs, pairs)
                .filter("is_keep").drop("cluster_id", "is_keep"),
                "after_near_dedup",
                "near_dedup",
            )

    cont = cfg.get("contamination")
    if cont:
        ev = spark.read.parquet(cont["eval_input"])
        bad = dedup.contaminated_docs(
            docs, ev, n=cont.get("ngram", 3), tokens_col=TOK
        ).filter(F.col("n_shared_ngrams") >= cont.get("min_shared", 1))
        _advance(
            docs.join(bad.select("doc_id"), "doc_id", "left_anti"),
            "after_contamination",
            "contamination",
        )

    sel = cfg.get("select")
    if sel:
        chosen = sampling.dsir_select(
            docs,
            F.col(sel.get("lang_col", "lang")) == sel["target_lang"],
            k=sel["k"],
            temperature=sel.get("temperature", 1.0),
            tokens_col=TOK,
        ).select("doc_id")
        _advance(
            docs.join(chosen, "doc_id", "left_semi"),
            "after_select",
            "select",
        )

    mix = cfg.get("mix")
    if mix:
        if mix.get("mode") == "oversample" and cfg.get("split"):
            # copies of one doc must never straddle the train/test
            # boundary, and the test side should not be oversampled at
            # all — split first, then oversample the train side
            raise ValueError(
                "mix.mode='oversample' cannot run before 'split': "
                "split the corpus first, then oversample the train side"
            )
        if mix.get("mode") == "oversample":
            mixed = sampling.oversample_to_shares(
                docs, mix.get("group_col", "source"), mix["shares"],
                max_epochs=mix.get("max_epochs", 4.0), uid_col="doc_id",
            )
        else:
            mixed = sampling.corpus_mix(
                docs, mix.get("group_col", "source"), mix["shares"],
                uid_col="doc_id",
            )
        _advance(mixed, "after_mix", "mix")

    ch = cfg.get("chunk")
    tok = cfg.get("tokenize")
    tok_art = None  # (kind, merges-list | vocab-dict) once trained

    def _train_tokenizer(corpus):
        """Train on the given corpus (the TRAIN side when splitting —
        the tokenizer vocabulary is a trained artifact, so it obeys the
        same leakage boundary as the model) and persist the artifact
        under ``{output_dir}/tokenizer``."""
        nonlocal tok_art
        kind = tok.get("kind", "bpe")
        if kind == "bpe":
            merges_df = text.bpe_train(
                corpus,
                n_merges=tok.get("n_merges", 256),
                min_pair_count=tok.get("min_pair_count", 2),
            )
            merges_df.write.mode("overwrite").parquet(
                f"{cfg['output_dir']}/tokenizer/merges"
            )
            merges = [
                (r.left, r.right)
                for r in merges_df.orderBy("merge_idx").collect()
            ]
            tok_art = ("bpe", merges)
            report["tokenizer_merges"] = len(merges)
        elif kind == "unigram":
            vocab_df = text.unigram_train(
                corpus, vocab_size=tok.get("vocab_size", 512)
            )
            vocab_df.write.mode("overwrite").parquet(
                f"{cfg['output_dir']}/tokenizer/vocab"
            )
            vocab = {r.piece: r.logprob for r in vocab_df.collect()}
            tok_art = ("unigram", vocab)
            report["tokenizer_pieces"] = len(vocab)
        else:
            raise ValueError(f"tokenize.kind must be bpe|unigram, got {kind!r}")

    def _encode(frame):
        kind, art = tok_art
        tcol = "chunk_text" if ch else "text"
        # a synthetic row key survives chunking's doc_id duplication;
        # persisted so the encode join sees the same ids the output does
        keyed = frame.withColumn(
            "__tok_uid", F.monotonically_increasing_id()
        ).persist(StorageLevel.MEMORY_AND_DISK)
        if kind == "bpe":
            enc = text.bpe_encode(
                keyed, art, id_col="__tok_uid", text_col=tcol
            ).withColumnRenamed("bpe_tokens", "tokens")
        else:
            enc = text.unigram_encode(
                keyed, art, id_col="__tok_uid", text_col=tcol
            ).withColumnRenamed("unigram_tokens", "tokens")
        return keyed.join(enc, "__tok_uid", "left").drop("__tok_uid"), keyed

    def _finish(frame, name):
        if ch:
            # chunking consumes the shared token column directly (its
            # output schema never carries it)
            frame = text.chunk_documents(
                frame, max_tokens=ch["max_tokens"],
                overlap=ch.get("overlap", 0),
                tokens_col=TOK if TOK in frame.columns else None,
            )
        else:
            frame = frame.drop(TOK)  # internal shared-tokenization column
        pinned = None
        if tok_art is not None:
            frame, pinned = _encode(frame)
        path = f"{cfg['output_dir']}/{name}"
        frame.write.mode("overwrite").parquet(path)
        if pinned is not None:
            pinned.unpersist()
        # count the WRITTEN table (parquet metadata, near-free) rather
        # than re-executing the split/chunk lineage a second time
        report[f"out_{name}"] = spark.read.parquet(path).count()
        _stamp(f"out_{name}")

    if cfg.get("report"):
        # the card describes the surviving DOCUMENTS (pre-chunking —
        # chunk rows are training artifacts, not corpus members)
        _card(docs, "output")
        _stamp("report_output")

    sp = cfg.get("split")
    if sp:
        if pairs is None:
            pairs = spark.createDataFrame([], "id_a long, id_b long")
        labeled = sampling.leakage_safe_split(
            docs, pairs, test_frac=sp.get("test_frac", 0.1)
        )
        # serialized: full-text corpus rows — the heaviest frames in
        # the pipeline; deserialized caching means one Java object per
        # row (the GC failure mode BASELINE round 8 documents)
        labeled = labeled.persist(StorageLevel.MEMORY_AND_DISK)
        if tok:
            _train_tokenizer(labeled.filter(F.col("split") == "train"))
            _stamp("tokenizer_train")
        for side in ("train", "test"):
            _finish(
                labeled.filter(F.col("split") == side)
                .drop("cluster_id", "split"),
                side,
            )
        labeled.unpersist()
    else:
        if tok:
            _train_tokenizer(docs)
            _stamp("tokenizer_train")
        _finish(docs, "docs")
    # release the job's remaining caches (the final docs generation —
    # a localCheckpoint, so the RDD-block release, not the no-op
    # unpersist — and the near-dup pair relation) — same in-process
    # discipline as the train/score drivers
    release_local_checkpoint(docs)
    docs.unpersist()
    if pairs is not None:
        pairs.unpersist()
    print(
        json.dumps(
            {"status": "curated", "report": report, "timings": timings}
        )
    )


def curate_stream(cfg: dict, spark: SparkSession) -> None:
    """Streaming near-dedup driver: drain a document-stream directory
    through the shared incremental minhash index (first-seen-wins, see
    streaming/curation.py) and stop when the backlog is empty:

    {"input_dir": "<dir of parquet files (a stream source)>",
     "schema": "doc_id long, source string, lang string, text string",
     "index_path": "<dedup state dir (shared with batch increments)>",
     "output_dir": "<survivor parquet dir>",
     "checkpoint_dir": "<streaming checkpoint>",
     "quality": {"min_tokens": 5, "min_quality": 0.2,
                 "languages": ["en"]},             # stateless pre-filter
                                                   # (same exprs as the
                                                   # batch driver; runs
                                                   # BEFORE dedup so
                                                   # replayed batches see
                                                   # identical content)
     "threshold": 0.5, "n": 2,                     # jaccard / shingle n
     "max_files_per_trigger": 1}                   # micro-batch bound
    """
    from pyspark.sql import functions as F

    from photon_ml_spark.operators import text
    from photon_ml_spark.streaming.curation import stream_neardup

    _validate_cfg_keys(cfg, "curate_stream")
    reader = spark.readStream.schema(cfg["schema"])
    if cfg.get("max_files_per_trigger"):
        reader = reader.option(
            "maxFilesPerTrigger", cfg["max_files_per_trigger"]
        )
    # shared tokenization, stream edition: one token-array column feeds
    # both the stateless quality prefilter and the per-batch shingle-id
    # hashing (pure expression — streaming-safe); neardup_process_batch
    # drops it before publishing survivors
    TOK = "__toks"
    stream = reader.parquet(cfg["input_dir"])
    pii_cfg = cfg.get("pii")
    if pii_cfg is not None:
        # same PII stage as the batch driver (shared _pii_stage helper)
        # — pure regex expressions, stateless and streaming-safe. Runs
        # BEFORE tokenization/dedup so the index only ever sees
        # scrubbed text (a replayed batch must hash identical content).
        stream = _pii_stage(stream, pii_cfg).select(*stream.columns)
    stream = stream.withColumn(TOK, text.tokens(F.col("text")))
    qc = cfg.get("quality")
    if qc:
        stream = _quality_prefilter(
            stream, qc, tokens_col=TOK
        ).select(*stream.columns)
    q = stream_neardup(
        stream,
        cfg["index_path"],
        cfg["output_dir"],
        cfg["checkpoint_dir"],
        threshold=cfg.get("threshold", 0.5),
        n=cfg.get("n", 1),
        num_hashes=cfg.get("num_hashes", 16),
        bands=cfg.get("bands", 4),
        tokens_col=TOK,
    )
    q.awaitTermination()
    n_out = spark.read.parquet(cfg["output_dir"]).count()
    print(json.dumps({"status": "curated-stream", "survivors": n_out}))


def import_model(cfg: dict, spark: SparkSession) -> None:
    """One-time migration: convert a REFERENCE-toolchain GAME model dir
    (Avro fixed-effect/random-effect layout, ModelProcessingUtils.
    scala:143-265) into the engine's native model layout — after which
    EVERY existing flow works on it unchanged: `score` (standard
    path), `train` with `incremental_training` (M9 warm start /
    priors), and partial retraining via `locked_coordinates` (M8).

    Config: ``model_dir`` (reference layout), ``output_dir``; optional
    ``family`` (inferred from the artifact's modelClass otherwise),
    ``shard`` (single-shard models: the shard name the converted
    model's sparse columns use — default "features", matching the
    train driver's single-shard convention), ``feature_shards``
    (multi-shard models: {referenceShardId: {bags: [...],
    has_intercept}} recorded into feature-shards.json so score/train
    reassemble identically).

    The feature dictionaries are derived from the model's own key
    space (deterministic lexicographic order) and persisted beside the
    model exactly as `train` would have."""
    from dataclasses import replace as _replace

    from photon_ml_spark.sources.model_io import (
        _hadoop_write_text,
        load_photon_game_model,
        save_game_model,
    )

    _validate_cfg_keys(cfg, "import_model")
    model, dicts = load_photon_game_model(
        spark, cfg["model_dir"], family=cfg.get("family")
    )
    out = cfg["output_dir"]
    shard_ids = sorted(dicts)
    if len(shard_ids) == 1 and "feature_shards" not in cfg:
        # single-shard: adopt the train driver's shard naming so a
        # plain {"shard": <name>} score/train config lines up
        (ref_shard,) = shard_ids
        shard_name = cfg.get("shard", "features")
        for n, c in model.configs.items():
            model.configs[n] = _replace(
                c,
                indices_col=f"{shard_name}_indices",
                values_col=f"{shard_name}_values",
            )
        dicts[ref_shard].write.mode("overwrite").parquet(
            f"{out}/feature-dictionary"
        )
        coord_dict = {n: dicts[ref_shard] for n in model.configs}
    else:
        fs = cfg.get("feature_shards")
        if not isinstance(fs, dict) or sorted(fs) != shard_ids:
            raise ValueError(
                f"reference model uses shards {shard_ids}; provide "
                "feature_shards mapping each shard id to its bags "
                "(recorded into feature-shards.json)"
            )
        for sid in shard_ids:
            _validate_stage_keys(fs[sid], "feature_shards{}")
            dicts[sid].write.mode("overwrite").parquet(
                f"{out}/feature-dictionaries/{sid}"
            )
        _hadoop_write_text(
            spark,
            f"{out}/feature-shards.json",
            json.dumps({"shards": {
                sid: {
                    "bags": list(fs[sid].get("bags", ["features"])),
                    "has_intercept": bool(
                        fs[sid].get("has_intercept", False)
                    ),
                }
                for sid in shard_ids
            }}),
        )
        coord_dict = {
            n: dicts[c.indices_col[: -len("_indices")]]
            for n, c in model.configs.items()
        }
    save_game_model(model, out, spark, dictionary=coord_dict)
    # imported σ² land where incremental_training looks for them —
    # {out}/fixed-effect/{name}/variances (feature_key, feature_index,
    # variance; the intercept row keeps a NULL index since loader
    # dictionaries carry no intercept slot, routed by key in
    # _fixed_prior) — so a retrain-with-prior from this import uses
    # precision 1/σ² instead of the plain-L2 fallback
    for name, vt in model.variances.items():
        vt.write.mode("overwrite").parquet(
            f"{out}/fixed-effect/{name}/variances"
        )
    print(json.dumps({
        "status": "imported",
        "output_dir": out,
        "family": model.family,
        "coordinates": {
            n: {"kind": c.kind, "dim": c.dim}
            for n, c in model.configs.items()
        },
    }))


def export_model(cfg: dict, spark: SparkSession) -> None:
    """The inverse migration: write a NATIVE model dir (what `train` or
    `import-model` produced) in the REFERENCE toolchain's Avro layout,
    so models trained here keep serving through existing
    reference-based consumers. Dictionaries come from the native dir's
    saved feature space (feature-dictionary / feature-dictionaries/
    {shard}); the export refuses a model saved without one (name/term
    labels are the wire format)."""
    from photon_ml_spark.sources.model_io import (
        _hadoop_exists,
        _hadoop_read_text,
        load_game_model,
        save_photon_game_model,
    )

    _validate_cfg_keys(cfg, "export_model")
    mdir = cfg["model_dir"]
    model = load_game_model(mdir, spark)
    shards_json = f"{mdir}/feature-shards.json"
    if _hadoop_exists(spark, shards_json):
        shard_ids = sorted(
            json.loads(_hadoop_read_text(spark, shards_json))["shards"]
        )
        dictionaries = {
            s: spark.read.parquet(f"{mdir}/feature-dictionaries/{s}")
            for s in shard_ids
        }
    else:
        if not _hadoop_exists(spark, f"{mdir}/feature-dictionary"):
            raise ValueError(
                f"{mdir!r} has no saved feature dictionary — the "
                "reference layout writes (name, term) labels; retrain "
                "or re-import with a dictionary"
            )
        d = spark.read.parquet(f"{mdir}/feature-dictionary")
        # single-shard: every coordinate's indices_col shares one
        # prefix — map the dictionary under each distinct shard name
        dictionaries = {
            c.indices_col[: -len("_indices")]: d
            for c in model.configs.values()
        }
    # a variance-computing train run saved per-fixed-coordinate σ²
    # tables beside the model — put them on the wire
    # (BayesianLinearModelAvro.variances) so reference-side incremental
    # learning (PriorDistribution.scala:23-120) keeps the prior
    variance_tables = {}
    for name, c in model.configs.items():
        vpath = f"{mdir}/fixed-effect/{name}/variances"
        if c.kind == "fixed" and _hadoop_exists(spark, vpath):
            variance_tables[name] = spark.read.parquet(vpath)
    save_photon_game_model(
        model, dictionaries, cfg["output_dir"], spark,
        variance_tables=variance_tables or None,
    )
    print(json.dumps({
        "status": "exported",
        "output_dir": cfg["output_dir"],
        "coordinates": sorted(model.configs),
    }))


def main(argv: list[str] | None = None) -> None:
    from photon_ml_spark.session import get_spark

    ap = argparse.ArgumentParser(prog="photon_ml_spark")
    ap.add_argument(
        "command",
        choices=["bags", "index", "train", "score", "curate",
                 "curate-stream", "import-model", "export-model"],
    )
    ap.add_argument("--config", required=True)
    args = ap.parse_args(argv)
    with open(args.config) as f:
        cfg = json.load(f)
    spark = get_spark(app_name=f"photon-ml-spark-{args.command}")
    {
        "bags": bags,
        "index": index,
        "train": train,
        "score": score,
        "curate": curate,
        "curate-stream": curate_stream,
        "import-model": import_model,
        "export-model": export_model,
    }[args.command](cfg, spark)


if __name__ == "__main__":
    main()
