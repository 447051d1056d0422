"""The benchmark's workloads: one operation each, driven through the
program's public entry points the way a user would call them, plus
the output checks that decide whether an operation counts as failed.

Each ``op`` returns an ``OpResult``: its quality figure (a ratio,
higher is better) and the list of failed checks (empty when the output
is correct).
"""

from __future__ import annotations

import contextlib
import io
import json
import os
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from perfbench import inputs

# stated margin of the game-train quality guard: the validation AUC of
# the trained model may trail the ground-truth model's AUC on the same
# rows by at most this much (and cannot beat it by more than noise)
AUC_MARGIN_BELOW = 0.10
AUC_MARGIN_ABOVE = 0.03


@dataclass
class OpResult:
    quality: float
    errors: list = field(default_factory=list)
    info: dict = field(default_factory=dict)


def _call_cli(fn, cfg, spark) -> dict:
    """Run a ``cli`` driver and parse the one-line JSON report it
    prints last."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        fn(cfg, spark)
    lines = buf.getvalue().strip().splitlines()
    return json.loads(lines[-1]) if lines else {}


# ---------------------------------------------------------- game-train

class GameTrain:
    name = "game-train"
    inputs = "game"
    n_iterations = 2

    def setup(self, spark, data_dir, props):
        for f in ("train.parquet", "validation.parquet"):
            spark.read.parquet(f"{data_dir}/{f}").count()
        return {"dir": data_dir, "props": props}

    def config(self, state, out_dir):
        d = state["dir"]
        return {
            "input": f"{d}/train.parquet",
            "validation_input": f"{d}/validation.parquet",
            "feature_bags": ["features"],
            "coordinates": [
                {"name": "global", "kind": "fixed"},
                {"name": "per_customer", "kind": "random",
                 "entity_col": "custkey", "reg_param": 1.0},
                {"name": "per_supplier", "kind": "random",
                 "entity_col": "suppkey", "reg_param": 1.0},
            ],
            "family": "binomial",
            "n_iterations": self.n_iterations,
            "output_dir": out_dir,
            "evaluators": ["AUC"],
        }

    def op(self, spark, state, out_dir) -> OpResult:
        from photon_ml_spark import cli

        props = state["props"]
        rep = _call_cli(cli.train, self.config(state, out_dir), spark)
        errors = []
        if (rep.get("status") != "trained"
                or rep.get("updates") != 3 * self.n_iterations):
            errors.append(f"train report {rep}")
        auc = float(rep.get("evaluation", {}).get("AUC", float("nan")))
        truth = props["truth_val_auc"]
        if not (truth - AUC_MARGIN_BELOW <= auc <= truth + AUC_MARGIN_ABOVE):
            errors.append(f"validation AUC {auc} outside "
                          f"[{truth - AUC_MARGIN_BELOW}, "
                          f"{truth + AUC_MARGIN_ABOVE}]")
        info = {"val_auc": auc, "truth_val_auc": truth, "entity_models": 0,
                "entity_models_converged": 0}
        for coord, col in (("per_customer", "custkey"),
                           ("per_supplier", "suppkey")):
            path = f"{out_dir}/random-effect/{coord}/models"
            if not os.path.isdir(path):
                errors.append(f"missing model table {coord}")
                continue
            t = pq.read_table(path).select(["entity", "converged"])
            if t.num_rows != props["entities"][col]:
                errors.append(f"{coord}: {t.num_rows} entity models, "
                              f"expected {props['entities'][col]}")
            info["entity_models"] += t.num_rows
            info["entity_models_converged"] += sum(
                bool(c) for c in t.column("converged").to_pylist())
        # every random coordinate refits all its entities once per
        # coordinate-descent iteration
        info["entity_fits"] = info["entity_models"] * self.n_iterations
        if not os.path.exists(f"{out_dir}/metadata.json"):
            errors.append("missing metadata.json")
        quality = auc / truth if auc == auc else 0.0
        return OpResult(quality, errors, info)


# -------------------------------------------------------------- curate

class Curate:
    name = "curate"
    inputs = "corpus"

    def setup(self, spark, data_dir, props):
        spark.read.parquet(f"{data_dir}/docs.parquet").count()
        with open(f"{data_dir}/truth.json") as f:
            truth = json.load(f)
        return {"dir": data_dir, "props": props, "truth": truth}

    def config(self, state, out_dir):
        return {
            "input": f"{state['dir']}/docs.parquet",
            "output_dir": out_dir,
            "quality": {"min_tokens": inputs.MIN_TOKENS, "max_ppl": 1e9},
            "exact_dedup": True,
            "near_dedup": {"threshold": 0.5, "n": 2},
            "split": {"test_frac": 0.2},
            "chunk": {"max_tokens": 32, "overlap": 4},
            "report": True,
        }

    def op(self, spark, state, out_dir) -> OpResult:
        from photon_ml_spark import cli

        rep = _call_cli(cli.curate, self.config(state, out_dir), spark)
        errors = check_curated(rep, state["truth"], out_dir)
        r = rep.get("report", {})
        kept = r.get("after_exact_dedup", 0)
        truth = state["truth"]
        expect = sum(k in ("original", "near") for k in truth["kind"])
        return OpResult(kept / expect if expect else 0.0, errors,
                        {"report": r})


def check_curated(rep: dict, truth: dict, out_dir: str) -> list:
    """Counts match the injected structure, train/test are disjoint,
    and no near-duplicate pair spans the split."""
    errors = []
    if rep.get("status") != "curated":
        return [f"curate report {rep}"]
    r = rep["report"]
    kinds = truth["kind"]
    n = len(kinds)
    n_short = kinds.count("short")
    n_exact = kinds.count("exact")
    if r.get("input") != n:
        errors.append(f"input {r.get('input')} != {n}")
    if r.get("after_quality") != n - n_short:
        errors.append(f"after_quality {r.get('after_quality')} != "
                      f"{n - n_short}")
    if r.get("after_exact_dedup") != n - n_short - n_exact:
        errors.append(f"after_exact_dedup {r.get('after_exact_dedup')} != "
                      f"{n - n_short - n_exact}")
    side = {}
    for s in ("train", "test"):
        t = pq.read_table(f"{out_dir}/{s}").select(["doc_id"])
        if r.get(f"out_{s}") != t.num_rows:
            errors.append(f"out_{s} {r.get(f'out_{s}')} != {t.num_rows} rows")
        for d in set(t.column("doc_id").to_pylist()):
            if d in side:
                errors.append(f"doc {d} on both sides")
            side[d] = s
    ids, origin = truth["doc_id"], truth["origin_id"]
    # an exact-copy group (original + copies) keeps exactly one member
    groups: dict[int, list] = {}
    for i, k in enumerate(kinds):
        if k in ("original", "exact"):
            root = ids[i] if k == "original" else origin[i]
            groups.setdefault(root, []).append(ids[i])
    for root, members in groups.items():
        alive = [m for m in members if m in side]
        if len(alive) != 1:
            errors.append(f"exact group {root}: {len(alive)} survivors")
    for i, k in enumerate(kinds):
        if k == "short" and ids[i] in side:
            errors.append(f"short doc {ids[i]} survived")
        if k == "near":
            if ids[i] not in side:
                errors.append(f"near-dup variant {ids[i]} dropped")
                continue
            for m in groups.get(origin[i], []):
                if m in side and side[m] != side[ids[i]]:
                    errors.append(f"near-dup pair ({m}, {ids[i]}) spans "
                                  "the split")
    return errors[:20]


WORKLOADS = {w.name: w for w in (GameTrain(), Curate())}

# which end-to-end metric each layer should move, on which workload,
# and where it should read about zero (README.md "Layer map");
# written next to every traced result
LAYER_MAP = {
    "ml.random_effects": {"moves": ["op_s", "cpu_s"], "most_work": ["game-train"],
                          "near_zero": ["curate"]},
    "ml.glm": {"moves": ["op_s", "cpu_s"], "most_work": ["game-train"],
               "near_zero": ["curate"]},
    "ml.scoring": {"moves": ["op_s", "cpu_s"], "most_work": ["game-train"],
                   "near_zero": ["curate"]},
    "ml.coordinate_descent": {"moves": ["op_s", "cpu_s",
                                        "peak_rss_mb"],
                              "most_work": ["game-train"],
                              "near_zero": ["curate"]},
    "functions.metrics": {"moves": ["op_s", "cpu_s"], "most_work": ["game-train"],
                          "near_zero": ["curate"]},
    "sources": {"moves": ["op_s", "cpu_s", "setup_s"], "most_work": ["game-train"],
                "near_zero": ["curate"]},
    "operators.text": {"moves": ["op_s", "cpu_s"],
                       "most_work": ["curate"], "near_zero": ["game-train"]},
    "operators.dedup": {"moves": ["op_s", "cpu_s"],
                        "most_work": ["curate"], "near_zero": ["game-train"]},
    "operators.sampling": {"moves": ["op_s", "cpu_s"],
                           "most_work": ["curate"],
                           "near_zero": ["game-train"]},
    "cli": {"moves": ["op_s", "cpu_s", "setup_s"],
            "most_work": ["game-train", "curate"], "near_zero": []},
}
