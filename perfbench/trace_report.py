"""Turn a traced run's spans and the Spark status store into the
per-layer metrics and the trace report written next to the results."""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
from urllib.parse import urlparse

from perfbench import tracing
from perfbench.collectors import (
    SparkRest,
    parse_rest_time,
    python_node_metrics,
    stage_totals,
)
from perfbench.workloads import LAYER_MAP

UNITS = {"calls": "count", "wall_s": "s", "self_s": "s", "driver_s": "s",
         "jobs": "count", "task_s": "s", "task_cpu_s": "s",
         "shuffle_mb": "MB", "spill_mb": "MB", "gc_s": "s"}

EXTRA_UNITS = {
    "ml.random_effects.entities": "count",
    "ml.random_effects.entities_per_s": "1/s",
    "ml.random_effects.converged_frac": "ratio",
    "ml.random_effects.python_run_s": "s",
    "ml.random_effects.python_start_s": "s",
    "ml.random_effects.python_mb": "MB",
    "ml.glm.iterations": "count",
    "ml.coordinate_descent.storage_peak_mb": "MB",
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.pair_precision": "ratio",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.tasks_failed": "count",
    "spark.idle_frac": "ratio",
    "spark.result_mb": "MB",
    "spark.python_mb": "MB",
}

# workload entity columns, to tell the per-entity solves apart in the
# SQL plans (the program renames the entity column to __entity)
ENTITY_COLS = ("custkey", "suppkey")
_ENTITY_ALIAS = re.compile(r"\b(" + "|".join(ENTITY_COLS)
                           + r")#\d+[^,\]]*? AS __entity#")


def _plan_entity_cols(ex) -> set:
    return set(_ENTITY_ALIAS.findall(ex.get("planDescription", "")))


def per_layer_names() -> list[tuple[str, str]]:
    """(metric name, unit) of every per-layer metric, in report order."""
    out = [(f"{layer}.{m}", UNITS[m]) for layer in tracing.LAYERS
           for m in tracing.METRICS]
    return out + list(EXTRA_UNITS.items())


def rest_for(spark) -> SparkRest:
    sc = spark.sparkContext
    port = urlparse(sc.uiWebUrl).port
    return SparkRest(f"http://localhost:{port}", sc.applicationId)


class StoragePoller:
    """Samples executor storage (cached/checkpointed blocks) over REST;
    called from the RSS sampler's thread."""

    def __init__(self, rest: SparkRest, interval_s: float = 0.5):
        self.rest = rest
        self.interval_s = interval_s
        self.samples: list[tuple[float, int]] = []
        self._last = 0.0
        self._lock = threading.Lock()

    def poll(self) -> None:
        now = time.time()
        if now - self._last < self.interval_s:
            return
        self._last = now
        try:
            used = self.rest.storage_used_bytes()
        except OSError:
            return
        with self._lock:
            self.samples.append((now, used))


def _count_hook(key):
    def hook(tracer, span, result):
        tracer.count(key, tracer.probe(result.count))
    return hook


def _lsh_collapsed_hook(tracer, span, result):
    rep_pairs, _ = result
    tracer.count("confirmed_pairs", tracer.probe(rep_pairs.count))


def _glm_iters(tracer, span, result):
    tracer.count("glm_iterations", float(result.meta.get("iterations", 0)))


def install_probes(tracer) -> None:
    """Counters the program does not report: LSH candidate/confirmed
    pairs (extra count jobs, traced run only) and fixed-effect solver
    iterations (read off the returned models)."""
    d = "photon_ml_spark.operators.dedup"
    tracer.on_return(f"{d}:lsh_candidate_pairs", _count_hook("candidate_pairs"))
    tracer.on_return(f"{d}:minhash_lsh_collapsed", _lsh_collapsed_hook)
    tracer.on_return("photon_ml_spark.ml.glm:fit_fixed_effect", _glm_iters)


def _ancestor_layers(span_id, by_id):
    out = set()
    while span_id is not None:
        s = by_id[span_id]
        out.add(s["layer"])
        span_id = s["parent"]
    return out


def first_job_id(rest) -> int:
    """The id the next job will get: jobs below it ran during set-up."""
    rest.wait_idle()
    return 1 + max((j["jobId"] for j in rest.jobs()), default=-1)


def _exec_job_ids(ex) -> list:
    return [i for k in ("successJobIds", "failedJobIds", "runningJobIds")
            for i in ex.get(k) or []]


def build_report(tracer, rest, storage, ops, job_floor, wall_end, cores,
                 untraced_path):
    spans = [s.as_dict() for s in tracer.spans]
    by_id = {s["id"]: s for s in spans}
    roots = [s for s in spans if s["parent"] is None]
    prefix = f"{tracer.run_tag}:"

    jobs = [j for j in rest.jobs() if j["jobId"] >= job_floor]
    probe_jobs = [j for j in jobs if j.get("jobGroup") == tracing.PROBE_GROUP]
    jobs = [j for j in jobs if j.get("jobGroup") != tracing.PROBE_GROUP]
    stage_list = rest.stages()
    stages_by_id: dict[int, list] = {}
    for st in stage_list:
        stages_by_id.setdefault(st["stageId"], []).append(st)

    def span_of(job):
        g = job.get("jobGroup") or ""
        if g.startswith(prefix):
            return int(g[len(prefix):])
        t = parse_rest_time(job.get("submissionTime")) or 0
        for r in roots:  # untagged: a job from another driver thread
            if r["start"] <= t <= (r["end"] or t):
                return r["id"]
        return roots[-1]["id"]

    jobs_by_span: dict[int, list] = {}
    stages_by_span: dict[int, list] = {}
    span_by_job = {}
    claimed = set()
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        sid = span_of(j)
        span_by_job[j["jobId"]] = sid
        a = parse_rest_time(j.get("submissionTime"))
        b = parse_rest_time(j.get("completionTime")) or wall_end
        jobs_by_span.setdefault(sid, []).append([a, b])
        for stage_id in j.get("stageIds", []):
            if stage_id in claimed:
                continue
            ran = [s for s in stages_by_id.get(stage_id, [])
                   if s.get("status") != "SKIPPED"]
            if ran:
                claimed.add(stage_id)
                stages_by_span.setdefault(sid, []).extend(ran)
    totals_by_span = {sid: stage_totals(st) for sid, st in stages_by_span.items()}
    layers = tracing.layer_metrics(spans, jobs_by_span, totals_by_span)

    metrics = {}
    for layer in tracing.LAYERS:
        for m in tracing.METRICS:
            metrics[f"{layer}.{m}"] = {"value": layers[layer][m],
                                       "unit": UNITS[m]}

    # Python worker metrics of the per-entity solves: FlatMapGroupsInPandas
    # nodes in SQL executions run under the GAME training layers
    executions = rest.sql()
    re_layers = {"ml.coordinate_descent", "ml.random_effects"}
    py = {"sent_b": 0.0, "returned_b": 0.0, "start_s": 0.0, "run_s": 0.0}
    all_py_b = 0.0
    re_execs = []
    for ex, acc in python_node_metrics(executions):
        if not any(i in span_by_job for i in _exec_job_ids(ex)):
            continue
        all_py_b += acc["sent_b"] + acc["returned_b"]
    for ex, acc in python_node_metrics(executions, "FlatMapGroupsInPandas"):
        ids = [i for i in _exec_job_ids(ex) if i in span_by_job]
        if not ids or not any(
                _ancestor_layers(span_by_job[i], by_id) & re_layers
                for i in ids):
            continue
        re_execs.append((ex, ids))
        for k in py:
            py[k] += acc[k]

    counters = dict(tracer.counters)
    ents = sum(r.info.get("entity_models", 0) for _, r in ops)
    conv = sum(r.info.get("entity_models_converged", 0) for _, r in ops)
    fitted = sum(r.info.get("entity_fits", 0) for _, r in ops)
    cd_spans = [s for s in spans if s["layer"] == "ml.coordinate_descent"]
    storage_peak = max(
        [b for t, b in storage.samples
         if any(s["start"] <= t <= s["end"] for s in cd_spans)] or [0])
    cand = counters.get("candidate_pairs", 0.0)
    totals = stage_totals([s for st in stages_by_span.values() for s in st])
    op_wall = sum(r["end"] - r["start"] for r in roots)
    extra = {
        "ml.random_effects.entities": fitted,
        "ml.random_effects.entities_per_s":
            fitted / py["run_s"] if py["run_s"] else 0.0,
        "ml.random_effects.converged_frac": conv / ents if ents else 0.0,
        "ml.random_effects.python_run_s": py["run_s"],
        "ml.random_effects.python_start_s": py["start_s"],
        "ml.random_effects.python_mb": (py["sent_b"] + py["returned_b"]) / 2 ** 20,
        "ml.glm.iterations": counters.get("glm_iterations", 0.0),
        "ml.coordinate_descent.storage_peak_mb": storage_peak / 2 ** 20,
        "operators.dedup.candidate_pairs": cand,
        "operators.dedup.pair_precision":
            counters.get("confirmed_pairs", 0.0) / cand if cand else 0.0,
        "spark.jobs": len(jobs),
        "spark.tasks": totals["tasks"],
        "spark.tasks_failed": totals["tasks_failed"],
        "spark.idle_frac":
            1.0 - totals["task_s"] / (cores * op_wall) if op_wall else 0.0,
        "spark.result_mb": totals["result_mb"],
        "spark.python_mb": all_py_b / 2 ** 20,
    }
    for k, v in extra.items():
        metrics[k] = {"value": float(v), "unit": EXTRA_UNITS[k]}

    self_sum = sum(layers[l]["self_s"] for l in layers)
    report = {
        "spans": spans,
        "jobs_untagged": [
            {k: j.get(k) for k in ("jobId", "name", "description", "jobGroup")}
            for j in jobs if not (j.get("jobGroup") or "").startswith(prefix)],
        "probe_jobs": len(probe_jobs),
        "probe_s": tracer.probe_s,
        "root_wall_s": op_wall,
        "self_sum_s": self_sum,
        "layer_share_of_wall": {
            l: layers[l]["wall_s"] / op_wall if op_wall else 0.0
            for l in tracing.LAYERS},
        "layer_self_share": {
            l: layers[l]["self_s"] / op_wall if op_wall else 0.0
            for l in layers},
        "layer_map": LAYER_MAP,
        "entity_task_skew": _entity_skew(
            rest, re_execs, stages_by_id,
            {j["jobId"]: j.get("stageIds", []) for j in jobs}),
    }
    traced = statistics.median(dt for dt, _ in ops)
    if os.path.exists(untraced_path):
        with open(untraced_path) as f:
            base = json.load(f)["e2e"]["op_s"]["value"]
        report["tracing_overhead"] = {
            "op_s_traced": traced, "op_s_untraced": base,
            "overhead_s": traced - base,
            "overhead_frac": (traced - base) / base,
        }
    else:
        report["tracing_overhead"] = {
            "op_s_traced": traced,
            "note": "no untraced run of this workload and seed in "
                    ".perfbench/results yet",
        }
    return report, metrics


def _entity_skew(rest, re_execs, stages_by_id, stage_ids_by_job) -> dict:
    """Longest and median task of the per-entity solve stages, split
    by entity column (read off the SQL plan): a per-entity stage lasts
    as long as its slowest task."""
    out = {}
    for col in ENTITY_COLS:
        longest, medians = 0.0, []
        for ex, ids in re_execs:
            if col not in _plan_entity_cols(ex):
                continue
            for stage_id in {s for i in ids
                             for s in stage_ids_by_job.get(i, [])}:
                for st in stages_by_id.get(stage_id, []):
                    if st.get("status") == "SKIPPED":
                        continue
                    try:
                        q = rest.task_summary(st["stageId"], st["attemptId"])
                    except OSError:
                        continue
                    rt = q.get("executorRunTime", [0, 0])
                    medians.append(rt[0] / 1e3)
                    longest = max(longest, rt[1] / 1e3)
        if medians:
            out[col] = {"longest_task_s": longest,
                        "median_task_s": statistics.median(medians)}
    if len(out) == len(ENTITY_COLS) and out[ENTITY_COLS[0]]["longest_task_s"]:
        out["longest_ratio_supp_over_cust"] = (
            out["suppkey"]["longest_task_s"] / out["custkey"]["longest_task_s"])
    return out
