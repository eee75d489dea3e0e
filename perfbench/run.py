"""Benchmark runner: one workload, one fresh process, one caller.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Generates the workload's inputs from the seed (cached, outside every
timed span), starts a session through ``session.get_spark`` and runs one
warm-up action (``setup_s``), then runs the workload's catalog queries
one after another, in a fixed order, for the workload's fixed number of
passes (see workloads.py). ``--seconds`` is accepted and recorded, but
the work of a run does not depend on it. Each query's DataFrame is written
with ``sources.sinks.write_table`` to a per-run directory, followed by
``session.release_pinned_rdds(blocking=True)``. After the timed part the
session stops and every written output is checked against its DuckDB
twin (checks.py).

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones
(tracer.py). Lines before it summarise the run; the full record,
including per-query spans in traced runs, is written under
``.bench_work/records/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
sys.path.insert(0, HERE)

import procstat  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

INPUT_SETS_KEPT = 8
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "query_p50_s": "s",
    "cpu_s": "s",
    "docs_per_s": "docs/s",
}


def prepare_inputs(wl, seed: int):
    """Generate (or reuse) the workload's inputs; returns (dir, manifest,
    seconds spent)."""
    import gen

    t = time.perf_counter()
    path = os.path.join(WORK, "inputs", f"d{wl.docs}-f{wl.doc_files}-s{seed}")
    manifest = gen.generate(path, seed, wl.docs, wl.doc_files)
    os.utime(path)
    # keep the input cache small: each set is ~20 MB and seeds vary by run
    sets = sorted(
        (os.path.join(WORK, "inputs", d) for d in os.listdir(os.path.join(WORK, "inputs"))),
        key=os.path.getmtime,
    )
    for old in sets[:-INPUT_SETS_KEPT]:
        shutil.rmtree(old, ignore_errors=True)
    return path, manifest, time.perf_counter() - t


def session_conf() -> dict[str, str]:
    """Confs the benchmark adds to the package's session defaults: keep
    every file inside the checkout (with SPARK_LOCAL_DIRS, set in ``run``),
    keep the UI on loopback, and keep the status store large enough to
    attribute every job of a traced run."""
    return {
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} "
            f"-Dderby.system.home={os.path.join(WORK, 'tmp')}"
        ),
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }


def _stop_processes(spark) -> None:
    """Stop the session, the JVM it launched and anything still below us."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while procstat.descendants() and time.time() < deadline:
        time.sleep(0.2)
    for pid in procstat.descendants():
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def run(args) -> dict:
    wl = WORKLOADS[args.workload]
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    inputs, manifest, gen_s = prepare_inputs(wl, args.seed)

    # ---- setup: process start -> session up -> one warm-up action ----
    sys.path.insert(0, ROOT)
    from kp_data_pipelines_spark.catalog import ORACLE, QUERIES
    from kp_data_pipelines_spark.session import get_spark, release_pinned_rdds
    from kp_data_pipelines_spark.sources.readers import read_table
    from kp_data_pipelines_spark.sources.sinks import write_table

    cores = len(os.sched_getaffinity(0))
    t_session = time.perf_counter()
    spark = get_spark(
        "perfbench", master=f"local[{cores}]", extra_conf=session_conf()
    )
    read_table(spark, inputs, "region").count()
    session_start_s = time.perf_counter() - t_session
    setup_s = procstat.process_age_s() - gen_s
    spark.sparkContext.setLogLevel("ERROR")

    tracer = None
    if args.trace:
        from tracer import Tracer

        tracer = Tracer(spark)
        tracer.wrap_read_table()

    # ---- timed part ---------------------------------------------------
    names = wl.catalog_names(QUERIES)
    passes = wl.passes
    out_root = os.path.join(WORK, "runs", f"{wl.name}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(out_root, ignore_errors=True)
    sc = spark.sparkContext
    execs: list[dict] = []
    steal0, cpu0 = procstat.host_steal_s(), procstat.tree_cpu_s()
    t_begin = time.perf_counter()
    t_last_write = t_begin
    for p in range(passes):
        for name in names:
            tag = f"{name}#{p}"
            path = os.path.join(out_root, name, f"p{p}")
            e = {"query": name, "pass": p, "path": path, "error": None}
            sc.setJobGroup(tag, tag)
            rec = tracer.begin(tag) if tracer else None
            t0 = time.perf_counter()
            t1 = t2 = None
            try:
                df = QUERIES[name](spark, inputs)
                t1 = time.perf_counter()
                if tracer:
                    tracer.force_plan(rec, df)
                t2 = time.perf_counter()
                write_table(df, path)
                t_last_write = t3 = time.perf_counter()
                e["latency_s"] = t3 - t0
            except Exception as exc:  # counted, the run goes on
                t3 = time.perf_counter()
                e["error"] = "".join(
                    traceback.format_exception_only(type(exc), exc)
                ).strip()[-500:]
            pinned = release_pinned_rdds(spark, blocking=True)
            t4 = time.perf_counter()
            if tracer:
                rec.update(
                    build_s=(t1 or t3) - t0,
                    exec_s=t3 - (t2 or t3),
                    hygiene_s=t4 - t3,
                    pinned=pinned,
                    latency_s=t4 - t0,
                )
                tracer.end(rec, path)
                rec["coverage"] = (
                    rec["build_s"] + rec.get("plan_s", 0.0) + rec["exec_s"]
                    + rec["hygiene_s"]
                ) / (time.perf_counter() - t0)
            execs.append(e)
    t_end = time.perf_counter()
    cpu_s = procstat.tree_cpu_s() - cpu0
    steal_s = procstat.host_steal_s() - steal0
    timed_s = t_last_write - t_begin
    layers = None
    if tracer:
        t = time.perf_counter()
        tracer.collect_spark()
        collect_s = time.perf_counter() - t
        layers = tracer.report(
            session_start_s, cpu_s, 100.0 * steal_s / (cores * (t_end - t_begin))
        )
    t = time.perf_counter()
    _stop_processes(spark)
    stop_s = time.perf_counter() - t

    # ---- checks -------------------------------------------------------
    import checks

    t = time.perf_counter()
    oracle = checks.Oracle(inputs, manifest, os.path.join(WORK, "oracle"))
    mismatches = 0
    for e in execs:
        if e["error"]:
            continue
        try:
            df = checks.read_output(e["path"])
            problem = checks.compare(
                checks.digest(df), oracle.twin(ORACLE[e["query"]])
            ) or checks.planted(e["query"], df, inputs)
        except Exception as exc:
            problem = f"check failed to run: {exc!r}"[:500]
        if problem:
            e["error"] = f"check: {problem}"
            mismatches += 1
    check_s = time.perf_counter() - t
    shutil.rmtree(out_root, ignore_errors=True)

    lat = [e["latency_s"] for e in execs if not e["error"]]
    if not lat:
        raise SystemExit("perfbench: every query failed; no metrics to report")
    docs = manifest["rows"]["documents"]
    e2e = {
        "setup_s": setup_s,
        "wall_s": timed_s,
        "query_p50_s": statistics.median(lat),
        "cpu_s": cpu_s,
        "docs_per_s": docs * passes / timed_s,
    }
    failed = sum(1 for e in execs if e["error"])
    record = {
        "workload": wl.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": bool(args.trace),
        "passes": passes,
        "cores": cores,
        "queries": names,
        "attempted": len(execs),
        "failed": failed,
        "mismatches": mismatches,
        "timed_s": t_end - t_begin,
        "gen_s": gen_s,
        "session_start_s": session_start_s,
        "stop_s": stop_s,
        "check_s": check_s,
        "host_steal_s": steal_s,
        "steal_share": steal_s / (cores * (t_end - t_begin)),
        "end_to_end": e2e,
        "errors": {f"{e['query']}#{e['pass']}": e["error"] for e in execs if e["error"]},
        "latency_s": {
            n: [round(e["latency_s"], 4) for e in execs if e["query"] == n and not e["error"]]
            for n in names
        },
    }
    if tracer:
        record["per_layer"] = {k: v["value"] for k, v in layers.items()}
        record["trace_collect_s"] = collect_s
        record["spans"] = tracer.records
        record["min_coverage"] = min(r["coverage"] for r in tracer.records)
    record["result"] = {
        "correct": mismatches == 0,
        "attempted": len(execs),
        "failed": failed,
        "metrics": layers if tracer else {
            k: {"value": round(v, 6), "unit": END_TO_END[k]} for k, v in e2e.items()
        },
    }
    return record


def _summary_lines(record: dict) -> list[str]:
    lines = [
        f"workload={record['workload']} seed={record['seed']} passes={record['passes']} "
        f"cores={record['cores']} attempted={record['attempted']} failed={record['failed']} "
        f"timed_s={record['timed_s']:.2f} host_steal_s={record['host_steal_s']:.2f} "
        f"steal_share={record['steal_share']:.4f}"
    ]
    for k, err in record["errors"].items():
        lines.append(f"FAILED {k}: {err.splitlines()[-1]}")
    if "per_layer" in record:
        lines.append(
            f"min span coverage {record['min_coverage']:.3f}; "
            f"trace collection {record['trace_collect_s']:.2f} s"
        )
        lines.append("query  latency_s build_s plan_s exec_s hygiene_s jobs task_run_s")
        for r in record["spans"]:
            lines.append(
                f"{r['tag']:32s} {r['latency_s']:8.3f} {r['build_s']:7.3f} "
                f"{r.get('plan_s', 0):6.3f} {r['exec_s']:6.3f} {r['hygiene_s']:7.3f} "
                f"{r.get('jobs', 0):4d} {r.get('task_run_s', 0):8.3f}"
            )
    return lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "kp_data_pipelines_spark", "catalog.py")):
        print(f"perfbench: no kp_data_pipelines_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    # Everything the session, the JVM and its workers print goes to
    # stderr; stdout carries only the summary and the result line.
    stdout = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.stdout = sys.stderr
    record = run(args)
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    rpath = os.path.join(
        WORK, "records",
        f"{record['workload']}-s{record['seed']}-t{int(record['trace'])}-{int(time.time())}.json",
    )
    with open(rpath, "w") as f:
        json.dump(record, f, indent=1, default=str)
    for line in _summary_lines(record):
        print(line, file=stdout)
    print(f"record {os.path.relpath(rpath, ROOT)}", file=stdout)
    print(json.dumps(record["result"]), file=stdout)
    stdout.flush()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
