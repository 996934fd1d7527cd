"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout. One run is one workload in a fresh
process and a fresh scratch directory under ``.perfbench_runs/``; Spark's
log and console output go to a log file there, so standard output carries
only the result: one JSON line with ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics named in ``BENCHMARK.json``, or
with ``--trace 1`` its per-layer ones). The spans of a traced run are written next to the log.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _configure_env(scratch: str) -> None:
    """Parallelism, memory, worker import path and temp dirs for the JVM
    and the Python workers it starts; set before the JVM launches."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(os.cpu_count() or 1),
        "SPARK_DRIVER_MEMORY": "2g",
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p),
        "SPARK_LOCAL_DIRS": os.path.join(scratch, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
    })


def _stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path[:0] = [ROOT, HERE]
    from polygon_io_data_ingestion_pipeline_spark.session import get_spark  # noqa: E402 — fails fast outside a checkout

    import workloads
    from spans import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if args.trace else "end_to_end"]

    runs = os.path.join(os.getcwd(), ".perfbench_runs")
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    scratch = os.path.join(runs, tag)
    os.makedirs(scratch)
    _configure_env(scratch)
    # Everything but the result line goes to the log, the JVM's output too.
    out_fd = os.dup(1)
    err_fd = os.dup(2)
    log_fd = os.open(os.path.join(runs, f"{tag}.log"), os.O_WRONLY | os.O_CREAT | os.O_TRUNC)
    sys.stdout.flush()
    os.dup2(log_fd, 1)
    os.dup2(log_fd, 2)

    spark = None
    try:
        t = time.perf_counter()
        spark = get_spark("perfbench")
        session_s = time.perf_counter() - t
        tracer = Tracer(spark, tag, enabled=bool(args.trace))
        ctx = workloads.Context(spark, tracer, scratch, args.seed, args.seconds, T_START)
        res = workloads.WORKLOADS[args.workload](ctx)
        print(json.dumps({"ops_s": res.ops, "probes_s": res.probes, "layer": res.layer}), file=sys.stderr)
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        res.layer["proc.peak_rss_mb"] = _vm_hwm_mb(jvm_pid) + _vm_hwm_mb(os.getpid())
        if args.trace:
            tracer.dump(os.path.join(runs, f"{tag}.spans.json"))
    except Exception:
        traceback.print_exc()
        os.write(err_fd, traceback.format_exc().encode())
        return 1
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(scratch, ignore_errors=True)
        sys.stdout.flush()
        sys.stderr.flush()
        os.dup2(out_fd, 1)
        os.dup2(err_fd, 2)

    for msg in res.failures:
        print(msg, file=sys.stderr)
    ops_ms = [1000 * x for x in res.ops]
    # the probes' lower quartile: a probe's jitter is all upward (GC, scheduling)
    probe_s = workloads.pct(res.probes, 0.25)
    op_p50_rel = workloads.median(res.ops) / probe_s
    if args.trace:
        # a module that does not run in this workload reports 0
        values = dict.fromkeys((m["name"] for m in spec), 0.0)
        values.update(res.layer)
        values.update({
            "session.start_s": session_s,
            "trace.op_p50_ms": workloads.median(ops_ms),
            "trace.op_p90_ms": workloads.pct(ops_ms, 0.9),
            "trace.op_p50_rel": op_p50_rel,
            "probe.p25_ms": 1000 * probe_s,
            "trace.overhead_s": tracer.overhead_s,
            "trace.spans": len(tracer.spans),
        })
    else:
        values = {
            "setup_s": res.setup_s,
            "op_p50_rel": op_p50_rel,
            "lake_bytes_per_input_byte": res.lake_bytes_per_input_byte,
        }
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": max(res.attempted, 1),
        "failed": res.failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
