#!/usr/bin/env python3
"""Benchmark entry point: one seeded workload against the engine.

    python3 perfbench/run.py --workload mvcc_cdc --seed 1 --seconds 20 --trace 0

Run from the repository root. It generates the fixture, starts
``local_session()`` at ``local[2]`` (fewer if the machine has fewer cores),
sets up three to five times (stages the tables the workload reads with
``bench.stage_tables`` and builds the artifacts it serves from), runs an
untimed correctness pass, then the timed closed loop. It prints a
report of every metric, then, as its last line, one JSON object with the
end-to-end metrics of BENCHMARK.json (``--trace 0``) or its per-layer
metrics (``--trace 1``). The traced run also writes its spans and
per-operation Spark metrics to ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("olap_mix", "kernel_mix", "mvcc_cdc")
OP_CLASSES = ("commit", "lookup", "scan")
E2E_UNITS = {
    "setup_s": "s", "setup_wall_s": "s", "cpu_p50_s": "s", "throughput_ops_s": "ops/s", "latency_p50_s": "s",
    "latency_p90_s": "s", "failed_ratio": "fraction", "peak_rss_mb": "MB",
    "commit_p50_s": "s", "commit_p90_s": "s", "lookup_p50_s": "s",
    "lookup_p90_s": "s", "scan_p50_s": "s", "space_amp": "ratio",
}


def _environment(work: str) -> None:
    """Pin the run to the checkout: local[2], UTC, and every scratch file
    (Spark local dirs, JVM and Python temp files) under ``work``. Two task
    slots leave the machine's other cores to the JVM's compiler and
    collector threads and the Python driver, so a run does not time the
    scheduler. The JVM compiles with C1 only: C2's speculative compiles
    made the same run 25-30% faster or slower from one JVM to the next,
    C1 warms up sooner and repeats to about 10%."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(min(2, len(os.sched_getaffinity(0)))),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        TZ="UTC",
        PYSPARK_SUBMIT_ARGS=(
            f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1" '
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    )
    time.tzset()
    tempfile.tempdir = tmp


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def _peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM in /proc status")


def end_to_end(run, extra: dict, rss_mb: float) -> dict:
    """Every end-to-end metric; a refused tail percentile reads as its
    refusal text. ``setup_s`` is the median CPU seconds of the run's
    set-ups and ``cpu_p50_s`` the median CPU seconds of an operation
    (``Run.cpu_s``): on a shared machine wall time also counts the time
    the hypervisor lends this machine's cores to others, which moved
    wall-clock medians by a third between identical runs."""
    from stats import median, tail_percentile

    def tail(samples):
        try:
            return tail_percentile(samples, 90)
        except ValueError as e:
            return f"refused: {e}"

    lat = [o["s"] for o in run.ops]
    out = {
        "setup_s": median(run.setup_cpu),
        "setup_wall_s": median([sum(parts.values()) for parts in run.setups]),
        "cpu_p50_s": median([o["cpu_s"] for o in run.ops]),
        "throughput_ops_s": len(lat) / run.window_s,
        "latency_p50_s": median(lat),
        "latency_p90_s": tail(lat),
        "failed_ratio": sum(not o["ok"] for o in run.ops) / len(lat),
        "peak_rss_mb": rss_mb,
    }
    if extra:
        by = {k: [o["s"] for o in run.ops if o["kind"] == k] for k in OP_CLASSES}
        out.update(
            commit_p50_s=median(by["commit"]),
            commit_p90_s=tail(by["commit"]),
            lookup_p50_s=median(by["lookup"]),
            lookup_p90_s=tail(by["lookup"]),
            scan_p50_s=median(by["scan"]),
            **extra,
        )
    return out


def per_layer(run, e2e: dict) -> dict:
    """Per-layer metrics of a traced run. Span times are medians per call
    in the timed window; REST counters are medians per operation; ``self_s``
    is a layer's self time per operation; set-up parts are medians over the
    run's set-ups. A layer the workload does not use reads 0."""
    from stats import median

    tr = run.tracer
    med = lambda xs: median(xs) if xs else 0.0  # noqa: E731
    out = {"session.start_s": run.session_s}
    for step in ("storage.stage", "storage.build_money", "storage.build_ev_struct",
                 "storage.build_rec_model", "mvcc.bulk_load"):
        out[f"{step}_s"] = med([parts[step] for parts in run.setups if step in parts])
    for span in ("queries.build", "queries.exec", "sql.plan", "sql.dml",
                 "mvcc.merge", "mvcc.delete", "mvcc.trans_begin", "mvcc.trans_commit",
                 "mvcc.point_lookup", "mvcc.read", "mvcc.compact_history", "mvcc.vacuum"):
        out[f"{span}_s"] = med(tr.durations(span))
    for key in run.op_metrics[0]:
        out[key] = med([m[key] for m in run.op_metrics])
    for name in ("mvcc.lookup_candidate_files", "mvcc.files_per_commit",
                 "mvcc.table_files", "mvcc.live_tombstones", "mvcc.bytes_rewritten"):
        out[name] = med(run.counters.get(name, []))
    out["mvcc.aborted_trans"] = sum(run.counters.get("mvcc.aborted_trans", []))
    selfs = tr.self_times()
    for layer in ("queries", "sql", "mvcc"):
        out[f"{layer}.self_s"] = sum(v for k, v in selfs.items() if k.startswith(layer + ".")) / len(run.ops)
    for name in ("commit_p50_s", "lookup_p50_s", "scan_p50_s", "space_amp"):
        out[f"mvcc_cdc.{name}"] = e2e.get(name, 0.0)
    out["run.failed_ratio"] = e2e["failed_ratio"]
    out["run.peak_rss_mb"] = e2e["peak_rss_mb"]
    out["trace.overhead_s"] = median(run.trace_overhead)
    out["trace.latency_p50_s"] = e2e["latency_p50_s"]
    out["trace.cpu_p50_s"] = e2e["cpu_p50_s"]
    out["trace.throughput_ops_s"] = e2e["throughput_ops_s"]
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        contract = json.load(f)
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    _environment(work)
    sys.path[:0] = [ROOT, HERE]
    try:
        return _run(args, contract, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, contract: dict, work: str) -> int:
    import datagen
    from tracing import Tracer
    from workloads import (
        KERNEL_MIX, OLAP_MIX, ORDERS_COLS, Run, run_mvcc_cdc, run_query_mix, set_up,
    )

    from pixels_spark.session import local_session

    t0 = time.perf_counter()
    tables = datagen.build_tables()
    fixture = datagen.write_fixture(os.path.join(work, "fixture"))
    fixture_s = time.perf_counter() - t0
    tracer = Tracer(bool(args.trace))
    t = time.perf_counter()
    with tracer.span("session.start"):
        spark = local_session()
        spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t
    try:
        run = Run(spark, tracer, fixture, work, args.seed, args.seconds)
        run.session_s = session_s
        set_up(run, args.workload)
        extra = {}
        if args.workload == "mvcc_cdc":
            base = [tuple(r[c] for c in ORDERS_COLS) for r in tables["orders"].to_pylist()]
            extra = run_mvcc_cdc(run, base)
        else:
            run_query_mix(run, OLAP_MIX if args.workload == "olap_mix" else KERNEL_MIX)
        rss = _peak_rss_mb(spark)
    finally:
        t = time.perf_counter()
        _stop(spark)
        stop_s = time.perf_counter() - t

    e2e = end_to_end(run, extra, rss)
    kinds = {k: sum(o["kind"] == k for o in run.ops) for k in ("query",) + OP_CLASSES}
    print(f"# {args.workload} seed={args.seed} trace={args.trace}: {len(run.ops)} operations "
          f"in {run.window_s:.2f} s window ({', '.join(f'{k}={v}' for k, v in kinds.items() if v)})")
    phases = {"fixture": fixture_s, "session.start": session_s,
              **{f"setup{i}": sum(p.values()) for i, p in enumerate(run.setups)},
              "check": run.check_s, "window": run.window_s, "stop": stop_s,
              "total": time.perf_counter() - t0}
    print("# phases (s): " + " ".join(f"{k}={v:.2f}" for k, v in phases.items()))
    by_name: dict[str, list[float]] = {}
    for o in run.ops:
        by_name.setdefault(o["name"], []).append(o["s"])
    print("# latencies (s): " + "; ".join(
        f"{k} " + " ".join(f"{x:.2f}" for x in v) for k, v in by_name.items()))
    for name, value in e2e.items():
        shown = value if isinstance(value, str) else f"{value:.6g} {E2E_UNITS[name]}"
        print(f"  {name:<18} {shown}")
    wanted = contract["end_to_end"]
    values = e2e
    if args.trace:
        values = per_layer(run, e2e)
        wanted = contract["per_layer"]
        for m in wanted:
            print(f"  {m['name']:<32} {values[m['name']]:.6g} {m['unit']}")
        out_dir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"session_s": run.session_s, "setups": run.setups, "ops": run.ops, "spans": tracer.spans,
                       "op_metrics": run.op_metrics, "problems": run.problems,
                       "end_to_end": e2e, "per_layer": values}, f)
        print(f"# trace written to {os.path.relpath(path, ROOT)}")
    failed = sum(not o["ok"] for o in run.ops)
    print(json.dumps({
        "correct": not run.problems and failed == 0,
        "attempted": len(run.ops),
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
