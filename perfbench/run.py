"""Benchmark entry point.

    python3 perfbench/run.py --workload game-train --seed 1 \
        --seconds 10 --trace 0

Run from the root of a checkout. One run: generate (or reuse) the
seeded inputs, set the Spark session up three times, then run the
workload's operation in a closed loop (one client, next operation
only after the previous one returns) for ``--seconds``, at least once.
Prints one JSON object as the last stdout line:
``{"correct", "attempted", "failed", "metrics"}`` - the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Everything the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")
SETUP_REPEATS = 3
DRIVER_MEM = "1g"


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _prepare_env(run_dir: str) -> None:
    """Keep every file Spark and its Python workers write inside the
    checkout, and let the workers import the program."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM of the run (spark-submit's launcher too): no
    # /tmp/hsperfdata files, temp files under the run directory
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])


def _cores() -> int:
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(4, n))


def _spark_conf(run_dir: str, trace: bool) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # a fixed, pre-touched heap: its footprint is the same every
        # run, so peak_rss_mb moves with memory outside the JVM heap
        # (Python driver and workers, JVM native memory) instead of
        # with when G1's heap-sizing heuristics happened to fire; heap
        # pressure shows as GC time in the traced run
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
    }
    if trace:
        # keep every job, stage and SQL execution of the run in the
        # status store the REST collector reads
        conf.update({
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    return conf


def _start_session(run_dir: str, trace: bool):
    from photon_ml_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{_cores()}]",
        extra_conf=_spark_conf(run_dir, trace),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_jvm() -> None:
    """Stop the gateway JVM this process launched and wait for it; its
    Python workers are its children and end with it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _reap_children() -> None:
    """Stop and reap any process of the tree still alive."""
    from perfbench.collectors import process_tree

    me = os.getpid()
    for attempt in range(50):
        kids = [p for p in process_tree(me) if p != me]
        if not kids:
            return
        for p in kids:
            try:
                os.kill(p, signal.SIGTERM if attempt < 25 else signal.SIGKILL)
            except OSError:
                pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        time.sleep(0.2)


def quantile_summary(values: list[float]) -> dict:
    """Median plus the highest percentile with at least ten samples
    beyond it (none below 20 samples), with the sample count."""
    vs = sorted(values)
    out = {"n": len(vs), "median": statistics.median(vs)}
    for p in (99.9, 99, 95, 90, 75, 50):
        beyond = len(vs) - int(len(vs) * p / 100.0)
        if beyond >= 10 and len(vs) > beyond:
            out[f"p{p:g}"] = vs[int(len(vs) * p / 100.0)]
            break
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and workers (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "photon_ml_spark", "cli.py")):
        _fail("run from the root of a photon-ml-spark checkout "
              "(photon_ml_spark/ not found)")
    sys.path.insert(0, ROOT)
    from perfbench import inputs
    from perfbench.collectors import RssSampler, cpu_ticks, tree_cpu_seconds
    from perfbench.workloads import WORKLOADS, OpResult

    wl = WORKLOADS.get(args.workload)
    if wl is None:
        _fail(f"unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}")
    trace = bool(args.trace)

    data_dir, props = inputs.ensure(
        wl.inputs, args.seed, os.path.join(WORK, "inputs"))
    results_dir = os.path.join(WORK, "results")
    os.makedirs(results_dir, exist_ok=True)
    stem = os.path.join(results_dir, f"{wl.name}-s{args.seed}")
    run_dir = os.path.join(WORK, "runs", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    _prepare_env(run_dir)

    spark = tracer = None
    try:
        with RssSampler() as rss:
            setups = []
            for _ in range(SETUP_REPEATS):
                t0 = time.perf_counter()
                if spark is not None:
                    spark.stop()
                spark = _start_session(run_dir, trace)
                state = wl.setup(spark, data_dir, props)
                setups.append(time.perf_counter() - t0)

            if trace:
                from perfbench import trace_report, tracing

                rest = trace_report.rest_for(spark)
                storage = trace_report.StoragePoller(rest)
                rss.extra = storage.poll
                tracer = tracing.Tracer(spark, run_tag=f"pb{os.getpid()}")
                tracer.install()
                trace_report.install_probes(tracer)
                job_floor = trace_report.first_job_id(rest)

            ops = []
            ticks0 = cpu_ticks()
            t_start = time.perf_counter()
            while True:
                out_dir = os.path.join(run_dir, "out", str(len(ops)))
                root = tracer.begin("bench.op", "bench") if tracer else None
                cpu0 = tree_cpu_seconds(os.getpid())
                t0 = time.perf_counter()
                try:
                    res = wl.op(spark, state, out_dir)
                except Exception as e:  # a raising op counts as failed
                    res = OpResult(0.0, [f"raised {type(e).__name__}: {e}"])
                dt = time.perf_counter() - t0
                res.info["cpu_s"] = tree_cpu_seconds(os.getpid()) - cpu0
                if tracer:
                    tracer.finish(root)
                ops.append((dt, res))
                shutil.rmtree(out_dir, ignore_errors=True)
                if time.perf_counter() - t_start >= args.seconds:
                    break
            ticks1 = cpu_ticks()
            wall_end = time.time()
        if trace:
            rest.wait_idle()
            report, per_layer = trace_report.build_report(
                tracer, rest, storage, ops, job_floor, wall_end, _cores(),
                untraced_path=f"{stem}-trace0.json")
    finally:
        try:
            if tracer is not None:
                tracer.uninstall()
            if spark is not None:
                spark.stop()
        finally:
            _stop_jvm()
            _reap_children()
            shutil.rmtree(run_dir, ignore_errors=True)

    failed = sum(1 for _, r in ops if r.errors)
    times = [dt for dt, _ in ops]
    op_s = statistics.median(times)
    quality = statistics.median(r.quality for _, r in ops)
    cpu_s = statistics.median(r.info["cpu_s"] for _, r in ops)
    e2e = {
        "setup_s": {"value": statistics.median(setups), "unit": "s"},
        "op_s": {"value": op_s, "unit": "s"},
        "cpu_s": {"value": cpu_s, "unit": "s"},
        "quality": {"value": quality, "unit": "ratio"},
        "peak_rss_mb": {"value": rss.peak_bytes / 2 ** 20, "unit": "MB"},
    }
    info = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace,
        "cores": _cores(), "inputs": props, "setup_s_samples": setups,
        "op_s_summary": quantile_summary(times), "op_s_samples": times,
        "items_per_op": props["rows"],
        "items_per_s": props["rows"] / op_s,
        "fail_frac": failed / len(ops),
        "steal_frac": (ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0]),
        "peak_rss_split_mb": {k: v / 2 ** 20 for k, v in rss.peak_split.items()},
        "errors": [r.errors for _, r in ops if r.errors][:3],
        "op_info": [r.info for _, r in ops][:3],
    }
    if trace:
        metrics = per_layer
        record = {"info": info, "e2e": e2e, "report": report}
    else:
        metrics = e2e
        record = {"info": info, "e2e": e2e}
    with open(f"{stem}-trace{args.trace}.json", "w") as f:
        json.dump(record, f, indent=1)

    print(json.dumps({"info": info}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
