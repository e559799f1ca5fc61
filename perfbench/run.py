"""Benchmark entry point.

    python3 perfbench/run.py --workload {dashboard,ingest} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout.  Each run works in its own directory
under ``.perfbench_run/`` (warehouse, Spark local dirs, generated inputs,
ingest outputs), removed at exit, so neither the repository's
``spark-warehouse/`` nor an earlier run can change an ``*_auto`` route.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.  The line before it is the
run's report (seed, sample counts, workload-specific metrics, routes).
The traced run also prints a per-layer table and writes its spans to
``.perfbench_out/``.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

WORKLOADS = ("dashboard", "ingest")
OUT_DIR = ".perfbench_out"


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _overhead(b, ops) -> tuple[float, float]:
    """``qps`` of the traced and of the untraced decks of a traced run."""
    def qps(traced: bool) -> float:
        secs = sum(d for d, t in zip(b.deck_s, b.deck_traced) if t == traced)
        return sum(1 for op in ops if op.ok and bool(op.ids) == traced) / secs
    return qps(True), qps(False)


def _environment(root: str, run_dir: str, workload: str) -> None:
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, d))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    # Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    if workload == "dashboard":
        # read by tsdb_parquet_spark.tables at import time
        os.environ["TSDB_SPARK_TSDB_PATH"] = os.path.join(run_dir, "tsdb")
        os.environ["TSDB_SPARK_BLOCK_PATH"] = os.path.join(run_dir, "tsdb_block")


def _layers(b, ops, qps_on: float, qps_off: float) -> dict[str, tuple[float, str]]:
    """Per-layer metrics of the traced run over its traced operations:
    the median per operation for times, the mean per operation for
    counts and bytes; setup probes and ratios as named."""
    from perfbench.tracing import epoch, job_spans, median, stage_summary

    t = b.tracer
    t.keep_requests({op.ids[0] for op in ops})
    stats = b.stats.collect({op.group for op in ops})
    rows = []
    for op in ops:
        req, bid, aid = op.ids
        t.add("request", op.start, op.end, None, req, req)
        t.add("build", op.start, op.build_end, req, req, bid)
        t.add("action", op.build_end, op.end, req, req, aid)
        g = stats[op.group]
        job_spans(t, g, req, (op.start, op.build_end), aid, bid)
        s = stage_summary(g["stages"])
        s["jobs"] = len(g["jobs"])
        s["eager_jobs"] = sum(
            1 for j in g["jobs"]
            if j.get("submissionTime") and epoch(j["submissionTime"]) < op.build_end)
        s["python_sent"], s["python_returned"] = g["python"]
        rows.append(s)

    def mean(key):
        return sum(r[key] for r in rows) / len(rows)

    parse = sum(s.end - s.start for s in t.spans if s.name == "promql_expr.parse")
    autos = [op for op in ops if op.route]
    writes = b.writes or [(0, 0, 0)]
    L = b.layer
    return {
        "session.start_s": (b.phase_s["session"], "s"),
        "tsdb_block.index_s": (L.get("tsdb_block.index_s", 0.0), "s"),
        "tsdb_block.decode_samples_per_s": (L.get("tsdb_block.decode_samples_per_s", 0.0), "1/s"),
        "datasource.scan_s": (L.get("datasource.scan_s", 0.0), "s"),
        "writer.write_s": (L.get("writer.write_s", 0.0), "s"),
        "writer.bytes": (sum(w[0] for w in writes) / len(writes), "B"),
        "writer.files": (sum(w[1] for w in writes) / len(writes), "count"),
        "writer.row_groups": (sum(w[2] for w in writes) / len(writes), "count"),
        "build.s": (median(op.build_end - op.start for op in ops), "s"),
        "scheduler.eager_jobs": (mean("eager_jobs"), "count"),
        "promql_expr.parse_s": (parse / len(ops), "s"),
        "catalyst.analysis_s": (median(op.phases.get("analysis", 0.0) for op in ops), "s"),
        "catalyst.optimization_s": (median(op.phases.get("optimization", 0.0) for op in ops), "s"),
        "catalyst.planning_s": (median(op.phases.get("planning", 0.0) for op in ops), "s"),
        "scheduler.jobs": (mean("jobs"), "count"),
        "scheduler.stages": (mean("stages"), "count"),
        "scheduler.tasks": (mean("tasks"), "count"),
        "scheduler.one_task_stages": (mean("one_task_stages"), "count"),
        "executor.run_s": (mean("run_s"), "s"),
        "executor.cpu_s": (mean("cpu_s"), "s"),
        "executor.gc_s": (mean("gc_s"), "s"),
        "executor.task_skew": (median(r["task_skew"] for r in rows), "ratio"),
        "exchange.shuffle_write_bytes": (mean("shuffle_write_bytes"), "B"),
        "exchange.shuffle_read_bytes": (mean("shuffle_read_bytes"), "B"),
        "exchange.spill_bytes": (mean("spill_bytes"), "B"),
        "scan.input_bytes": (mean("input_bytes"), "B"),
        "scan.input_rows": (mean("input_rows"), "count"),
        "python_udf.bytes_sent": (mean("python_sent"), "B"),
        "python_udf.bytes_returned": (mean("python_returned"), "B"),
        "transfer.action_s": (median(op.end - op.build_end for op in ops), "s"),
        "transfer.result_rows": (sum(op.rows for op in ops) / len(ops), "count"),
        "transfer.result_bytes": (sum(op.nbytes for op in ops) / len(ops), "B"),
        "sources.build_s": (L.get("sources.build_s", 0.0), "s"),
        "sources.route_hit_frac": (
            sum(1 for op in autos if op.route != "raw") / len(autos) if autos else 0.0, "ratio"),
        "oracle.duckdb_geomean_s": (b.oracle.geomean_s() if b.oracle else 0.0, "s"),
        "trace.overhead_frac": (1 - qps_on / qps_off, "ratio"),
    }


def _print_layer_table(b, n_ops: int, layers: dict, qps_on: float, qps_off: float) -> None:
    self_times = b.tracer.self_times()
    request_s = self_times["request"]["total_s"]
    print(f"# per-layer self time, workload={b.workload} seed={b.seed}; "
          f"self/request is over {request_s:.3f} s of request time, {n_ops} operations")
    print(f"{'span':<22}{'count':>8}{'total_s':>12}{'self_s':>12}{'self/request':>14}")
    for name, r in sorted(self_times.items(), key=lambda kv: -kv[1]["self_s"]):
        print(f"{name:<22}{r['count']:>8}{r['total_s']:>12.3f}{r['self_s']:>12.3f}"
              f"{r['self_s'] / request_s:>14.3f}")
    print("# setup steps (outside the timed window)")
    for name, r in b.tracer.self_times(setup=True).items():
        print(f"{name:<22}{r['count']:>8}{r['total_s']:>12.3f}")
    print(f"# trace.overhead_frac = 1 - qps of the traced decks {qps_on:.4f} / qps of the "
          f"untraced decks {qps_off:.4f}, decks {''.join('T' if t else 'U' for t in b.deck_traced)}")
    for k, (v, unit) in layers.items():
        print(f"{k:<34}{v:>16.6g} {unit}")


def _metrics(m: dict) -> dict:
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def main(argv=None) -> int:
    args = _args(argv)
    # on SIGTERM, unwind through the finally below, which stops Spark
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(root, "tsdb_parquet_spark"))):
        print("perfbench: run from the root of a tsdb_parquet_spark checkout "
              "(no __spark_entry__.py / tsdb_parquet_spark here)", file=sys.stderr)
        return 2
    if args.seconds < 1:
        print("perfbench: --seconds must be at least 1", file=sys.stderr)
        return 2

    t_process = time.perf_counter()
    sys.path[0] = root  # not perfbench/: its module names must not shadow others
    run_dir = os.path.join(root, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    b = None
    try:
        _environment(root, run_dir, args.workload)
        from perfbench.workloads import Bench, summarize

        b = Bench(args.workload, args.seed, args.seconds, bool(args.trace), root, run_dir)
        b.setup()
        ops, wall = b.window()
        e2e, report = summarize(b, ops, wall)
        if args.trace:
            traced = [op for op in ops if op.ids]
            qps_on, qps_off = _overhead(b, ops)
            layers = _layers(b, traced, qps_on, qps_off)
    finally:
        try:
            rss = b.stop() if b is not None and hasattr(b, "spark") else 0.0
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)

    failed = sum(1 for op in ops if not op.ok)
    report["peak_rss_mb"] = rss
    report["process_s"] = time.perf_counter() - t_process
    report["end_to_end"] = _metrics(e2e)
    if args.trace:
        _print_layer_table(b, len(traced), layers, qps_on, qps_off)
        report["qps_traced_decks"], report["qps_untraced_decks"] = qps_on, qps_off
        out_dir = os.path.join(root, OUT_DIR)
        os.makedirs(out_dir, exist_ok=True)
        b.tracer.dump(
            os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json"),
            {"report": report, "layers": _metrics(layers), "self_times": b.tracer.self_times(),
             "setup_times": b.tracer.self_times(setup=True)},
        )
        metrics = layers
    else:
        metrics = e2e
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": failed == 0 and not b.warm_failed,
        "attempted": len(ops),
        "failed": failed,
        "metrics": _metrics(metrics),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
