"""Per-layer tracing for the benchmark runner, entirely from outside the
package: nothing under ``kp_data_pipelines_spark/`` changes.

- Python-side spans (build, plan, execute, hygiene, ``read_table``) are
  timed around the calls into each layer and kept in memory.
- JVM counters (``HiveCatalogMetrics`` file listing, ``CodegenMetrics``
  compilations) are read through py4j before and after each query.
- Spark's own numbers (jobs, stages, tasks, executor time, shuffle, spill,
  Python UDF output rows, executed-plan node names) come from the live
  UI REST API once the timed part is over, attributed to a query
  execution by its job group.
- Python worker CPU is read from /proc around each query: Spark drops the
  Arrow UDF timing metrics of a subplan that a lazy ``localCheckpoint``
  computes (seen on q38), so they would read 0 where the kernels run.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
import urllib.request
from datetime import datetime, timezone

import procstat

MB = 1024 * 1024

# Metric name -> unit, in report order. Every value is a sum over the
# run's query executions, except session.start_s (once per run) and the
# two shares of the timed part: Python worker CPU in the run's CPU, and
# host steal in the run's core time.
PER_LAYER = {
    "session.start_s": "s",
    "session.hygiene_s": "s",
    "session.pinned_rdds": "count",
    "catalog.build_s": "s",
    "catalog.build_jobs": "count",
    "sources.read_table_calls": "count",
    "sources.read_table_s": "s",
    "sources.files_discovered": "count",
    "sources.scan_mb": "MB",
    "sources.files_written": "count",
    "sources.written_mb": "MB",
    "plan.s": "s",
    "plan.codegen_compiles": "count",
    "plan.exchanges": "count",
    "plan.broadcasts": "count",
    "plan.python_nodes": "count",
    "plan.sort_merge_joins": "count",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.idle_s": "s",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.task_gc_s": "s",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB",
    "operators.udf_rows": "count",
    "operators.worker_cpu_pct": "%",
    "host.steal_pct": "%",
    "trace.overhead_s": "s",
}

_PYTHON_NODE = re.compile(r"Python|InPandas|InArrow")
# Executed-plan node name -> plan counter. Names are the UI's node names
# of the final (post-AQE) plan of every SQL execution in the job group.
_NODE_COUNTERS = (
    ("plan.exchanges", re.compile(r"^Exchange$")),
    ("plan.broadcasts", re.compile(r"^BroadcastExchange$")),
    ("plan.python_nodes", _PYTHON_NODE),
    ("plan.sort_merge_joins", re.compile(r"^SortMergeJoin$")),
)


def _first_int(text: str) -> int:
    m = re.search(r"[\d,]+", text.split("\n", 1)[-1])
    return int(m.group(0).replace(",", "")) if m else 0


def _epoch_ms(stamp: str | None) -> float | None:
    # the UI writes '2026-01-01T00:00:00.123GMT'
    if not stamp:
        return None
    dt = datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp() * 1000.0


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _dir_files(path: str) -> tuple[int, int]:
    n = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            n += 1
            size += os.path.getsize(os.path.join(d, f))
    return n, size


class Tracer:
    """Spans and counters for one run; ``report`` turns them into the
    per-layer metrics after the timed part."""

    def __init__(self, spark):
        self.spark = spark
        jvm = spark.sparkContext._jvm
        src = jvm.org.apache.spark.metrics.source
        self._files = src.HiveCatalogMetrics.METRIC_FILES_DISCOVERED()
        self._codegen = src.CodegenMetrics.METRIC_COMPILATION_TIME()
        self.records: list[dict] = []
        self.overhead_s = 0.0
        self._reads: list[float] = []

    # -- read_table wrapper -------------------------------------------------
    def wrap_read_table(self) -> None:
        """Time every ``read_table`` call, wherever the package imported it."""
        from kp_data_pipelines_spark.sources import readers

        orig = readers.read_table
        reads = self._reads

        def read_table(*a, **kw):
            t = time.perf_counter()
            try:
                return orig(*a, **kw)
            finally:
                reads.append(time.perf_counter() - t)

        for name, mod in list(sys.modules.items()):
            if name.startswith("kp_data_pipelines_spark") and getattr(
                mod, "read_table", None
            ) is orig:
                mod.read_table = read_table

    # -- per-query hooks ----------------------------------------------------
    def begin(self, tag: str) -> dict:
        t = time.perf_counter()
        rec = {
            "tag": tag,
            "files0": self._files.getCount(),
            "codegen0": self._codegen.getCount(),
            "reads0": len(self._reads),
            "pyw0": procstat.worker_cpu_s(),
        }
        self.records.append(rec)
        self.overhead_s += time.perf_counter() - t
        return rec

    def force_plan(self, rec: dict, df) -> None:
        t = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        rec["plan_s"] = time.perf_counter() - t
        rec["write_start_ms"] = time.time() * 1000.0

    def end(self, rec: dict, out_path: str) -> None:
        t = time.perf_counter()
        reads = self._reads[rec.pop("reads0"):]
        rec["read_calls"] = len(reads)
        rec["read_s"] = sum(reads)
        rec["files_discovered"] = self._files.getCount() - rec.pop("files0")
        rec["codegen_compiles"] = self._codegen.getCount() - rec.pop("codegen0")
        rec["worker_cpu_s"] = procstat.worker_cpu_s() - rec.pop("pyw0")
        rec["files_written"], written = _dir_files(out_path)
        rec["written_mb"] = written / MB
        self.overhead_s += time.perf_counter() - t

    # -- Spark-side numbers -------------------------------------------------
    def _rest(self, path: str):
        sc = self.spark.sparkContext
        url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=60) as r:
            return json.load(r)

    def collect_spark(self) -> None:
        """Attribute jobs, stages and SQL executions to each record's job
        group. Waits for the listener bus so the status store is complete."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = self._rest("jobs")
        stages = {
            s["stageId"]: s
            for s in self._rest("stages?status=complete")
            if s.get("attemptId", 0) == 0
        }
        sqls = self._rest("sql?details=true&planDescription=false&length=1000000")
        by_tag: dict[str, list[dict]] = {}
        for j in jobs:
            by_tag.setdefault(j.get("jobGroup"), []).append(j)
        job_tag = {j["jobId"]: j.get("jobGroup") for j in jobs}
        sql_by_tag: dict[str, list[dict]] = {}
        for x in sqls:
            ids = x.get("successJobIds", []) + x.get("failedJobIds", [])
            tags = {job_tag.get(i) for i in ids}
            if len(tags) == 1:
                sql_by_tag.setdefault(tags.pop(), []).append(x)
        for rec in self.records:
            self._attribute(rec, by_tag.get(rec["tag"], []), stages,
                            sql_by_tag.get(rec["tag"], []))

    def _attribute(self, rec, jobs, stages, sqls) -> None:
        seen: set[int] = set()
        job_iv, stage_iv = [], []
        acc = dict.fromkeys(
            ("stages", "tasks", "task_run_s", "task_cpu_s", "task_gc_s",
             "scan_mb", "shuffle_write_mb", "shuffle_read_mb", "spill_mb"), 0.0
        )
        build_jobs = 0
        for j in jobs:
            start, end = _epoch_ms(j.get("submissionTime")), _epoch_ms(j.get("completionTime"))
            if start is not None and end is not None:
                job_iv.append((start, end))
            if start is not None and start < rec.get("write_start_ms", float("inf")):
                build_jobs += 1
            for sid in j.get("stageIds", []):
                s = stages.get(sid)
                if s is None or sid in seen:
                    continue
                seen.add(sid)
                a, b = _epoch_ms(s.get("submissionTime")), _epoch_ms(s.get("completionTime"))
                if a is not None and b is not None:
                    stage_iv.append((a, b))
                acc["stages"] += 1
                acc["tasks"] += s.get("numCompleteTasks", 0)
                acc["task_run_s"] += s.get("executorRunTime", 0) / 1e3
                acc["task_cpu_s"] += s.get("executorCpuTime", 0) / 1e9
                acc["task_gc_s"] += s.get("jvmGcTime", 0) / 1e3
                acc["scan_mb"] += s.get("inputBytes", 0) / MB
                acc["shuffle_write_mb"] += s.get("shuffleWriteBytes", 0) / MB
                acc["shuffle_read_mb"] += s.get("shuffleReadBytes", 0) / MB
                acc["spill_mb"] += (
                    s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
                ) / MB
        rec.update(acc)
        rec["jobs"] = len(jobs)
        rec["build_jobs"] = build_jobs
        rec["idle_s"] = max(0.0, _union_ms(job_iv) - _union_ms(stage_iv)) / 1e3
        nodes = dict.fromkeys((k for k, _ in _NODE_COUNTERS), 0)
        udf_rows = 0
        for x in sqls:
            for node in x.get("nodes", []):
                name = node.get("nodeName", "")
                for key, pat in _NODE_COUNTERS:
                    if pat.search(name):
                        nodes[key] += 1
                if _PYTHON_NODE.search(name):
                    udf_rows += sum(
                        _first_int(m["value"]) for m in node.get("metrics", [])
                        if m["name"] == "number of output rows"
                    )
        rec.update(nodes)
        rec["udf_rows"] = udf_rows

    # -- report -------------------------------------------------------------
    def report(self, session_start_s: float, cpu_s: float, steal_pct: float) -> dict:
        """Per-layer metrics of the run (see PER_LAYER)."""
        def tot(key):
            return sum(r.get(key, 0) for r in self.records)

        values = {
            "session.start_s": session_start_s,
            "session.hygiene_s": tot("hygiene_s"),
            "session.pinned_rdds": tot("pinned"),
            "catalog.build_s": tot("build_s"),
            "catalog.build_jobs": tot("build_jobs"),
            "sources.read_table_calls": tot("read_calls"),
            "sources.read_table_s": tot("read_s"),
            "sources.files_discovered": tot("files_discovered"),
            "sources.scan_mb": tot("scan_mb"),
            "sources.files_written": tot("files_written"),
            "sources.written_mb": tot("written_mb"),
            "plan.s": tot("plan_s"),
            "plan.codegen_compiles": tot("codegen_compiles"),
            "exec.s": tot("exec_s"),
            "operators.udf_rows": tot("udf_rows"),
            "operators.worker_cpu_pct": 100.0 * tot("worker_cpu_s") / cpu_s,
            "host.steal_pct": steal_pct,
            "trace.overhead_s": self.overhead_s,
        }
        for key in ("exchanges", "broadcasts", "python_nodes", "sort_merge_joins"):
            values[f"plan.{key}"] = tot(f"plan.{key}")
        for key in ("jobs", "stages", "tasks", "idle_s", "task_run_s", "task_cpu_s",
                    "task_gc_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb"):
            values[f"exec.{key}"] = tot(key)
        return {k: {"value": round(values[k], 6), "unit": u} for k, u in PER_LAYER.items()}
