#!/usr/bin/env python3
"""Serving, ingest and bulk-scan benchmark for the engine.

    python3 perfbench/run.py --workload serve_point --seed 1 --seconds 10 --trace 0

Run from the repository root. One process starts one Spark session with
the engine's ``get_spark`` defaults at ``local[<nproc>]``, generates the
inputs from ``--seed``, builds the stores, warms up, then drives the
workload's closed loop for ``--seconds``. The last line of standard
output is the result: ``{"correct", "attempted", "failed", "metrics"}``
with the end-to-end metrics (``--trace 0``) or the per-layer metrics
from spans and Spark job groups (``--trace 1``). The line before it and
``.perfbench_work/results/`` hold the box, the seed, sample counts,
workload-specific numbers, check results and output hashes; a traced
run also writes its spans there as JSON lines. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time
from pathlib import Path

import workloads
from tracing import Tracer, median

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "distributedvectordatabase_spark"
WORKLOADS = ("serve_point", "ingest_serve", "bulk_scan")
E2E_UNITS = {
    "setup_s": "s",
    "search_p50_ms": "ms",
    "queries_per_s": "1/s",
    "recall_at_10": "ratio",
}
KINDS = ("exact", "lsh", "ivf", "ivf_where", "sql", "hybrid")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpu_ticks() -> list[int]:
    """The machine-wide CPU tick counters from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def start_session(run_dir: Path, nproc: int):
    from distributedvectordatabase_spark.session import get_spark

    tmp = run_dir / "tmp"
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf={
            # keep every file Spark writes inside the run directory (the
            # scratch space comes from SPARK_LOCAL_DIRS, set in main)
            "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    try:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


def box(nproc: int) -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    return {
        "nproc": nproc,
        "master": f"local[{nproc}]",
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "pandas": pandas.__version__,
        "python": platform.python_version(),
        "machine": platform.machine(),
    }


# ---------------------------------------------------------------------------
# per-layer metrics from the spans of a traced run


def layer_metrics(tr, counts: dict, out: dict) -> tuple[dict, dict]:
    """Every per-layer metric, each taken from the workload's own spans
    when it has them, else from the probes. Returns (metrics, source)."""
    order = ("workload", "setup", "probe")
    spans = [s for s in tr.spans if s.attrs["source"] in order]
    metrics, source = {}, {}

    def pick(name, **match):
        for src in order:
            sel = [s for s in spans if s.name == name and s.attrs["source"] == src
                   and all(s.attrs.get(k) == v for k, v in match.items())]
            if sel:
                return sel, src
        return [], None

    def put(metric, unit, value, src):
        metrics[metric] = {"value": float(value), "unit": unit}
        source[metric] = src

    def span_p50(metric, name, unit="ms", scale=1.0, **match):
        sel, src = pick(name, **match)
        put(metric, unit, median([s.ms for s in sel]) * scale, src)

    def per_request(kind):
        sel, src = pick("request", kind=kind)
        return [counts[s.req] for s in sel if s.req in counts], src

    span_p50("session.start_s", "session.start", "s", 1e-3)
    for store in ("vector_store", "ivf_store", "text_index"):
        span_p50(f"sources.write_s.{store}", "sources.write", "s", 1e-3, store=store)
    for kind in KINDS:
        span_p50(f"knn.call_p50_ms.{kind}", "knn.call", kind=kind)
        span_p50(f"knn.collect_p50_ms.{kind}", "knn.collect", kind=kind)
        reqs, src = per_request(kind)
        for what in ("jobs", "stages", "tasks"):
            put(f"spark.{what}_per_request.{kind}", "count",
                median([c[what] for c in reqs]), src)
    span_p50("knn.query_collect_p50_ms", "knn.query_collect")
    for batch in ("q1", "q200"):
        span_p50(f"knn.query_relation_p50_ms.{batch}", "knn.query_relation", batch=batch)
    span_p50("sql.rewrite_p50_ms", "sql.rewrite")
    span_p50("knn.batch_topk_p50_ms", "knn.batch_topk")
    sel, src = pick("knn.batch_topk")
    put("knn.batch_topk_madds", "count", sel[0].attrs["madds"], src)
    span_p50("text_index.bm25_call_p50_ms", "text_index.bm25_call")
    span_p50("text_index.bm25_collect_p50_ms", "text_index.bm25_collect")
    for op in ("append", "delete", "compact", "scan_lookup", "read"):
        span_p50(f"sources.{op}_p50_ms", f"sources.{op}")
    sel, src = pick("sources.store_files")
    put("sources.store_files", "count", median([s.attrs["files"] for s in sel]), src)
    path, rows = out["store"]
    put("sources.bytes_per_user_byte", "ratio",
        workloads.disk_bytes(path) / workloads.user_bytes(rows),
        "workload")
    for op in workloads.CURATION_OPS:
        span_p50(f"curation.{op}_s", "curation", "s", 1e-3, op=op)
        reqs, src = per_request(op)
        put(f"spark.tasks.{op}", "count", median([c["tasks"] for c in reqs]), src)
    put("spark.failed_tasks", "count", sum(c["failed_tasks"] for c in counts.values()),
        "all")
    reqs = [s for s in spans if s.name == "request" and s.attrs["source"] == "workload"]
    put("trace.request_coverage_min", "ratio",
        min(tr.children_ms(s) / s.ms for s in reqs), "workload")
    put("trace.search_p50_ms", "ms", out["search_p50_ms"], "workload")
    put("trace.queries_per_s", "1/s", out["queries_per_s"], "workload")
    return metrics, source


# ---------------------------------------------------------------------------


def run(args, run_dir: Path, results: Path, nproc: int, t_start: float) -> dict:
    ticks = cpu_ticks()
    tr = Tracer(enabled=bool(args.trace))
    with tr.span("session.start"):
        spark = start_session(run_dir, nproc)
    tr.sc = spark.sparkContext
    try:
        from pyspark import SparkContext

        jvm_pid = SparkContext._gateway.proc.pid
        b = workloads.Bench(spark, tr, args.seed, str(run_dir / "data"), args.seconds)
        out = getattr(workloads, args.workload)(b)
        setup_s = b.setup_end - t_start
        layer = source = None
        if args.trace:
            workloads.probes(b, args.workload, out["store"][0])
            counts = tr.job_counts()
            layer, source = layer_metrics(tr, counts, out)
            tr.write(str(results / f"{args.workload}-seed{args.seed}.spans.jsonl"), counts)
        rss = vm_hwm_mb(os.getpid()) + vm_hwm_mb(jvm_pid)
    finally:
        stop_session(spark)
    e2e = {"setup_s": setup_s, **{k: out[k] for k in E2E_UNITS if k in out}}
    out["side"]["peak_rss_mb"] = rss
    # time the hypervisor ran other guests on our CPUs: a run with a high
    # share is slowed by the host, not by the engine
    delta = [b - a for a, b in zip(ticks, cpu_ticks())]
    out["side"]["cpu_steal_share"] = delta[7] / max(sum(delta), 1)
    failed = len(b.failures)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "box": box(nproc),
        "end_to_end": e2e, "side": out["side"], "per_layer": layer,
        "per_layer_source": source, "checks": b.checks, "hashes": b.hashes,
        "attempted": b.attempted, "failed": failed,
        "error_rate": failed / max(b.attempted, 1), "failures": b.failures,
    }
    if args.trace:
        metrics = layer
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in E2E_UNITS.items()}
    correct = failed == 0 and all(
        v["value"] == v["value"] for v in metrics.values()  # no NaN
    )
    record["correct"] = correct
    path = results / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    path.write_text(json.dumps(record, indent=1, default=str))
    return {"info": {"workload": args.workload, "seed": args.seed, "box": record["box"],
                     "side": out["side"], "error_rate": record["error_rate"],
                     "result_file": str(path.relative_to(ROOT))},
            "result": {"correct": correct, "attempted": b.attempted, "failed": failed,
                       "metrics": metrics}}


def main(argv=None) -> int:
    args = parse_args(argv)
    t_start = time.perf_counter()
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: the engine package {PACKAGE}/ is not next to perfbench/",
              file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work"
    run_dir = work / f"{args.workload}-{args.seed}-{os.getpid()}"
    results = work / "results"
    (run_dir / "tmp").mkdir(parents=True)
    results.mkdir(exist_ok=True)
    # Spark's Python workers are fresh interpreters started by the JVM:
    # they find the package through the PYTHONPATH the JVM inherits
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "tmp" / "spark")
    # the JVMs would otherwise keep perf counters under /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        filter(None, [os.environ.get("SPARK_LAUNCHER_OPTS"), "-XX:-UsePerfData"]))
    sys.path.insert(0, str(ROOT))
    nproc = len(os.sched_getaffinity(0))
    try:
        res = run(args, run_dir, results, nproc, t_start)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(res["info"]))
    print(json.dumps(res["result"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
