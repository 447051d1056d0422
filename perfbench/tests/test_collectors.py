"""Tests of the benchmark's own collectors and span analysis. No
Spark needed: the REST collector reads a local fake of the Spark
status API, the RSS sampler watches a child process.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import subprocess
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from perfbench import collectors, tracing  # noqa: E402

APP = "local-123"
JOBS = [
    {"jobId": 0, "status": "SUCCEEDED", "jobGroup": "pb:1",
     "submissionTime": "2026-01-01T00:00:01.000GMT",
     "completionTime": "2026-01-01T00:00:02.500GMT", "stageIds": [0, 1]},
    {"jobId": 1, "status": "SUCCEEDED", "jobGroup": None,
     "submissionTime": "2026-01-01T00:00:03.000GMT",
     "completionTime": "2026-01-01T00:00:03.250GMT", "stageIds": [1, 2]},
]
STAGES = [
    {"stageId": 0, "attemptId": 0, "status": "COMPLETE",
     "executorRunTime": 1500, "executorCpuTime": 1_000_000_000,
     "shuffleReadBytes": 0, "shuffleWriteBytes": 2 ** 20,
     "memoryBytesSpilled": 0, "diskBytesSpilled": 2 ** 21,
     "jvmGcTime": 100, "resultSize": 2 ** 19, "numCompleteTasks": 4,
     "numFailedTasks": 1},
    {"stageId": 1, "attemptId": 0, "status": "SKIPPED",
     "executorRunTime": 0, "numCompleteTasks": 0, "numFailedTasks": 0},
    {"stageId": 2, "attemptId": 0, "status": "COMPLETE",
     "executorRunTime": 500, "executorCpuTime": 250_000_000,
     "shuffleReadBytes": 2 ** 20, "shuffleWriteBytes": 0,
     "memoryBytesSpilled": 0, "diskBytesSpilled": 0, "jvmGcTime": 0,
     "resultSize": 0, "numCompleteTasks": 2, "numFailedTasks": 0},
]
SQL = [{
    "id": 0, "successJobIds": [0], "failedJobIds": [],
    "runningJobIds": [],
    "planDescription": "Project [cast(custkey#12 as string) AS __entity#40]",
    "nodes": [
        {"nodeName": "FlatMapGroupsInPandas", "metrics": [
            {"name": "data sent to Python workers", "value": "2.0 MiB"},
            {"name": "data returned from Python workers",
             "value": "total (min, med, max)\n512.0 KiB (1 KiB, 2 KiB, 3 KiB)"},
            {"name": "time to start Python workers", "value": "1.2 s"},
            {"name": "time to run Python workers", "value": "350 ms"},
            {"name": "number of output rows", "value": "100"},
        ]},
        {"nodeName": "Project", "metrics": []},
    ],
}]
EXECUTORS = [{"id": "driver", "memoryUsed": 3000, "diskUsed": 500}]


class _Api(BaseHTTPRequestHandler):
    routes = {"jobs": JOBS, "stages": STAGES, "executors": EXECUTORS,
              "stages/0/0/taskSummary": {"executorRunTime": [40.0, 900.0]}}

    def do_GET(self):
        prefix = f"/api/v1/applications/{APP}/"
        path, _, query = self.path.partition("?")
        if not path.startswith(prefix):
            self.send_error(404)
            return
        key = path[len(prefix):]
        if key == "sql":
            offset = int(dict(p.split("=") for p in query.split("&"))
                         .get("offset", 0))
            body = SQL[offset:]
        elif key in self.routes:
            body = self.routes[key]
        else:
            self.send_error(404)
            return
        data = json.dumps(body).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def log_message(self, *args):
        pass


@pytest.fixture
def rest():
    server = HTTPServer(("127.0.0.1", 0), _Api)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        yield collectors.SparkRest(
            f"http://127.0.0.1:{server.server_address[1]}", APP)
    finally:
        server.shutdown()
        server.server_close()
        t.join(timeout=10)


def test_rest_collector_reads_jobs_stages_sql_and_storage(rest):
    jobs = rest.jobs()
    assert [j["jobId"] for j in jobs] == [0, 1]
    assert collectors.parse_rest_time(jobs[0]["submissionTime"]) == \
        pytest.approx(1767225601.0)
    totals = collectors.stage_totals(rest.stages())
    assert totals["task_s"] == pytest.approx(2.0)      # skipped stage adds 0
    assert totals["task_cpu_s"] == pytest.approx(1.25)
    assert totals["shuffle_mb"] == pytest.approx(2.0)
    assert totals["spill_mb"] == pytest.approx(2.0)
    assert totals["gc_s"] == pytest.approx(0.1)
    assert totals["result_mb"] == pytest.approx(0.5)
    assert (totals["tasks"], totals["tasks_failed"]) == (7, 1)
    (ex, acc), = list(collectors.python_node_metrics(
        rest.sql(), "FlatMapGroupsInPandas"))
    assert acc == {"sent_b": 2 * 2 ** 20, "returned_b": 512 * 1024,
                   "start_s": pytest.approx(1.2),
                   "run_s": pytest.approx(0.35)}
    assert rest.storage_used_bytes() == 3500
    assert rest.task_summary(0, 0)["executorRunTime"][1] == 900.0
    rest.wait_idle(timeout_s=5)  # no RUNNING job: returns at once


def test_parse_sql_metric_units():
    p = collectors.parse_sql_metric
    assert p("1,024 B") == 1024
    assert p("1.5 KiB") == 1536
    assert p("2 GiB") == 2 * 2 ** 30
    assert p("350 ms") == pytest.approx(0.35)
    assert p("2 m") == 120
    assert p("42") == 42
    assert p("total (min, med, max)\n3.0 s (1 s, 1 s, 1 s)") == 3.0


def test_rss_sampler_sees_child_process_memory():
    code = ("import time; b = bytearray(64 * 2 ** 20); "
            "b[::4096] = b'x' * len(b[::4096]); print('ready', flush=True); "
            "time.sleep(30)")
    base = sum(collectors.tree_rss_by_process(os.getpid()).values())
    child = subprocess.Popen([sys.executable, "-c", code],
                             stdout=subprocess.PIPE, text=True)
    try:
        assert child.stdout.readline().strip() == "ready"
        assert child.pid in collectors.process_tree(os.getpid())
        with collectors.RssSampler(interval_s=0.05) as s:
            time.sleep(0.3)
        assert s.samples >= 3
        assert s.peak_bytes - base > 48 * 2 ** 20
        assert s.peak_split["workers"] > 48 * 2 ** 20
    finally:
        child.kill()
        child.wait(timeout=10)
    assert child.pid not in collectors.process_tree(os.getpid())


def test_tree_cpu_seconds_grows_with_work():
    before = collectors.tree_cpu_seconds(os.getpid())
    t = time.process_time()
    while time.process_time() - t < 0.3:
        pass
    assert collectors.tree_cpu_seconds(os.getpid()) - before >= 0.2
    total, steal = collectors.cpu_ticks()
    assert total > 0 and 0 <= steal <= total
