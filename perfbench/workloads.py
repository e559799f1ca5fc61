"""The workloads and the closed loop that times them.

- ``dashboard``: seeded shuffles of the oracle-backed matcher/PromQL
  entries over ``tsdb`` and the block table.  Tiny results, 3-9 jobs per
  query: Python plan build, Catalyst and the job-scheduling floor do the
  work.
- ``ingest``: seeded decks of the three ``ingest-tsdb`` paths over a pool
  of generated Prometheus blocks: the pure-Python block decode, the
  ``mapInPandas`` boundary and the sorted Parquet write.

Both run one closed-loop client: concurrent dashboard clients put the
run-to-run spread of every metric at 20-25% of the median (README.md).
The warm-up goes through the same serial loop as the timed window.

Every operation is checked after the window: queries against the DuckDB
oracle, ingests by read-back row count and generator digest.  A wrong
result counts as a failed operation.
"""

from __future__ import annotations

import itertools
import os
import re
import shutil
import statistics
import subprocess
import time
from dataclasses import dataclass, field
from typing import Any

import numpy as np

from perfbench import gen, tracing

# The engine modules (tsdb_parquet_spark, __spark_entry__, and
# perfbench.check, which imports them) are imported inside the methods:
# tsdb_parquet_spark.tables reads the tsdb paths from the environment
# when first imported, and run.py sets them per run.

# 9 of the 32 oracle-backed matcher/PromQL entries over tsdb and the
# block table, one to three of each family, so that a deck takes a few
# seconds and each query gets at least three timed samples (README.md)
DASHBOARD = [
    "q02_eq_matchers_time_range", "q03a_neq_sql_3vl", "q04_regex",  # matchers
    "q06_auto",  # at-rest routing
    "q07_sorted_merge",  # timeseries
    "q51_promql_sum_by", "q54_promql_topk",  # promql
    "q56_tsdb_block_ingest",  # the block table
    "q153_promql_predict_linear",  # promql_expr
]
# warm-up decks, in a fixed order.  Dashboard decks keep getting faster
# as the JVM compiles its hot paths: 4.1, 3.1, 3.0, 3.0, 2.6, 2.1 s over
# the first six, then 1.5-1.8 s.  A second ingest warm-up deck did not
# make the timed ingest decks after it any faster.
WARMUP_DECKS = {"dashboard": 5, "ingest": 1}
# timed decks at the least, however long they take: three samples of
# each operation even when a slow host stretches a deck past --seconds
MIN_DECKS = 3
# entries whose call builds the at-rest rung q06_auto routes to
AT_REST = ["q06_mv"]
INGEST_KINDS = ["ingest_block", "ingest_blocks", "load_write"]
POOL_BLOCKS = 2
# pool blocks: the first 190 of the vocabulary's 763 series (40,124 of
# its 154,529 samples), so that an ingest deck takes a few seconds
POOL_SERIES = 190


@dataclass
class Op:
    name: str
    start: float = 0.0
    build_end: float = 0.0
    end: float = 0.0
    rows: int = 0
    nbytes: int = 0
    samples: int = 0
    ok: bool | None = None
    route: str | None = None
    group: str | None = None
    deck: int = -1  # index of its timed deck
    ids: tuple = ()  # (request, build, action) span ids when traced
    phases: dict = field(default_factory=dict)  # Catalyst phase times when traced
    # kept until the check after the window: the Arrow result and the
    # DataFrame of a query; the output dir and expected digest of an ingest
    tbl: Any = None
    df: Any = None
    out: str | None = None
    digest: int = 0

    @property
    def latency(self) -> float:
        return self.end - self.start


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f[:8])


def _descendants(pid: int) -> list[int]:
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                pass
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        todo.extend(kids)
    return out


class Bench:
    """One run of one workload: session, seeded inputs, warm-up, timed
    window, checks and shutdown."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool,
                 root: str, run_dir: str):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.root, self.run_dir = root, run_dir
        # the dashboard entries read only tsdb/tsdb_block; sf_dir names no data
        self.sf_dir = os.path.join(run_dir, "sf")
        self.warehouse = os.path.join(run_dir, "warehouse")
        self.rng = np.random.default_rng(seed)
        self.phase_s: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.warm_failed: list[str] = []
        self.oracle = None
        self.tracer = None
        if trace:
            self.tracer = tracing.Tracer()
        self.tracing = False  # whether the next operation is traced
        self.writes: list[tuple[int, int, int]] = []  # (bytes, files, row groups)
        self.written_samples = 0
        self._ids = itertools.count(1)

    # -- lifecycle ---------------------------------------------------------

    def start(self) -> None:
        from tsdb_parquet_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": self.warehouse,
            "spark.local.dir": os.path.join(self.run_dir, "local"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(self.run_dir, 'tmp')} -XX:-UsePerfData",
        }
        if self.trace:
            conf.update({
                "spark.ui.enabled": "true",
                "spark.ui.port": "0",
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": "1000000",
                "spark.ui.retainedStages": "1000000",
                "spark.sql.ui.retainedExecutions": "1000000",
            })
        self.spark = self._timed("session", lambda: get_spark(
            app_name=f"perfbench-{self.workload}", extra_conf=conf), "session.start")
        self.sc = self.spark.sparkContext
        self.jvm = self.sc._gateway.proc
        if self.trace:
            from tsdb_parquet_spark import promql_expr

            self.tracer.wrap_parse(promql_expr)
            self.stats = tracing.SparkStats(self.sc)

    def stop(self) -> float:
        """Stop Spark and wait for the JVM and its children to exit.
        Returns the peak RSS (MB) of this process plus the JVM."""
        rss = _vm_hwm_mb("self") + _vm_hwm_mb(self.jvm.pid)
        kids = _descendants(self.jvm.pid)
        try:
            self.spark.stop()
            self.sc._gateway.shutdown()
        except Exception:  # noqa: BLE001 — a py4j call cut off by SIGTERM leaves the gateway unusable
            pass
        self.jvm.stdin.close()  # the JVM exits when its stdin closes
        try:
            self.jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.jvm.kill()
            self.jvm.wait()
        deadline = time.time() + 30
        while kids and time.time() < deadline:
            kids = [k for k in kids if os.path.exists(f"/proc/{k}")]
            time.sleep(0.1)
        for k in kids:
            try:
                os.kill(k, 9)
            except OSError:
                pass
        return rss

    def _timed(self, phase: str, fn, span: str | None = None):
        """Run ``fn`` as a setup step: its time adds to ``phase_s[phase]``
        and, traced, makes a span named ``span`` outside any request."""
        t0 = time.time()
        out = fn()
        t1 = time.time()
        self.phase_s[phase] = self.phase_s.get(phase, 0.0) + t1 - t0
        if self.trace:
            self.tracer.add(span or f"setup.{phase}", t0, t1, None, 0)
        return out

    # -- operations --------------------------------------------------------

    def _begin(self, name: str) -> Op:
        op = Op(name)
        if self.tracing:
            op.group = f"perfbench-op{next(self._ids)}"
            self.sc.setJobGroup(op.group, name)
            op.ids = tuple(self.tracer.new_id() for _ in range(3))
        return op

    def query(self, name: str) -> Op:
        """One dashboard operation: the entry call (build) through
        ``toArrow()`` (action).  Its result is kept for :meth:`verify`."""
        fn = self.queries[name]
        op = self._begin(name)
        if op.ids:
            self.tracer.current = (op.ids[1], op.ids[0])
        try:
            op.start = time.time()
            df = fn(self.spark, self.sf_dir)
            op.build_end = time.time()
            if op.ids:
                self.tracer.current = None
            op.tbl = df.toArrow()
            op.end = time.time()
        except Exception as e:  # noqa: BLE001 — a failed operation is counted, not fatal
            op.end = time.time()
            op.build_end = op.build_end or op.end
            op.ok = False
            print(f"perfbench: {name} failed: {e}"[:500], flush=True)
            return op
        finally:
            if op.ids:
                self.tracer.current = None
        if op.ids or name.endswith("_auto"):
            op.df = df
        return op

    def _route(self, df) -> str:
        """The at-rest rung the executed plan scanned: ``mv``,
        ``bucketed``, another warehouse table, or ``raw``."""
        plan = df._jdf.queryExecution().executedPlan().toString()
        tables = set(re.findall(re.escape(self.warehouse) + r"/([A-Za-z0-9_]+)", plan))
        if any("mv_" in t for t in tables):
            return "mv"
        if any(re.search(r"_b\d+_[0-9a-f]{10}$", t) for t in tables):
            return "bucketed"
        return "at-rest" if tables else "raw"

    def ingest(self, item: tuple) -> Op:
        """One ingest operation, as the ``ingest-tsdb`` CLI runs it.  Its
        output is kept for :meth:`verify`."""
        from tsdb_parquet_spark import tsdb_block, writer

        kind, blocks, pool_dir = item
        out = os.path.join(self.run_dir, "out", f"op{next(self._ids)}")
        op = self._begin(kind)
        try:
            op.start = op.build_end = time.time()
            if kind == "ingest_block":
                tsdb_block.ingest_block(self.spark, blocks[0], out)
            elif kind == "ingest_blocks":
                tsdb_block.ingest_blocks(self.spark, blocks, out)
            else:
                df = self.spark.read.format("tsdb").load(pool_dir)
                op.build_end = time.time()
                writer.write_sorted(df, out)
            op.end = time.time()
        except Exception as e:  # noqa: BLE001 — a failed operation is counted, not fatal
            op.end = time.time()
            op.ok = False
            print(f"perfbench: {kind} failed: {e}"[:500], flush=True)
            return op
        op.samples = sum(self.block_rows[b] for b in blocks)
        op.out = out
        op.digest = sum(self.block_digest[b] for b in blocks) % (1 << 64)
        return op

    def verify(self, ops: list[Op]) -> None:
        """Check every operation that ran to its end, then drop what it
        kept: a query's result against the oracle, and the route its
        ``*_auto`` plan took; an ingest's output by read-back.  For a
        traced query, also read its Catalyst phase times."""
        for op in ops:
            if op.ok is False:
                continue
            if op.out is not None:
                op.ok = self.check.ingest_ok(op.out, op.samples, op.digest)
                self.writes.append(self.check.parquet_stats(op.out))
                shutil.rmtree(op.out)
                op.out = None
                continue
            op.ok = self.oracle.verify(op.name, op.tbl)
            op.rows, op.nbytes = op.tbl.num_rows, op.tbl.nbytes
            if op.name.endswith("_auto"):
                op.route = self._route(op.df)
            if op.ids:
                op.phases.update(tracing.catalyst_phases(op.df))
            op.tbl = op.df = None

    # -- setup -------------------------------------------------------------

    def setup(self) -> None:
        from perfbench import check

        self.check = check
        self.start()
        if self.workload == "dashboard":
            self._setup_dashboard()
        else:
            self._setup_ingest()

    def _write_sorted_table(self, arrow_tbl, path: str) -> None:
        """Stage a generated table as Parquet and lay it out with
        ``writer.write_sorted``, as the CLI's ``ingest`` does."""
        import pyarrow.parquet as pq

        from tsdb_parquet_spark import writer

        staged = path + ".staged.parquet"
        pq.write_table(arrow_tbl, staged)
        self._timed("write_sorted", lambda: writer.write_sorted(
            self.spark.read.parquet(staged), path), "writer.write_sorted")
        os.remove(staged)
        self.written_samples += arrow_tbl.num_rows
        self.writes.append(self.check.parquet_stats(path))

    def _setup_dashboard(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        import __spark_entry__ as entry
        from tsdb_parquet_spark.tables import TSDB_PATH

        def inputs():
            tsdb = gen.scale_by_metric(
                self.rng, pq.read_table(os.path.join(self.root, "data", "tsdb.parquet")))
            vocab = gen.block_vocabulary(os.path.join(self.root, "data", "tsdb_block"))
            block = gen.block_frame(self.rng, vocab, 0)
            self._write_sorted_table(tsdb, os.environ["TSDB_SPARK_TSDB_PATH"])
            self._write_sorted_table(
                pa.Table.from_pandas(block, preserve_index=False),
                os.environ["TSDB_SPARK_BLOCK_PATH"],
            )

        self._timed("inputs", inputs)
        self.queries = entry.queries()
        self._timed("at_rest", lambda: [self.queries[n](self.spark, self.sf_dir) for n in AT_REST],
                    "sources.build")

        # DuckDB is no part of the engine: its time stays out of setup_s.
        # It reads a Parquet directory through a glob.
        glob = f"read_parquet('{os.path.join(TSDB_PATH, '*.parquet')}')"
        sqls = entry.oracle_sql()
        self.oracle = self._timed("oracle", lambda: self.check.Oracle(
            {n: sqls[n].replace(f"read_parquet('{TSDB_PATH}')", glob) for n in DASHBOARD}),
            "oracle.duckdb")

        self._warmup()
        self.layer = {"writer.write_s": self.phase_s["write_sorted"],
                      "sources.build_s": self.phase_s["at_rest"]}

    def _setup_ingest(self) -> None:
        from tsdb_parquet_spark import datasource, tsdb_block

        datasource.register(self.spark)
        self.block_rows: dict[str, int] = {}
        self.block_digest: dict[str, int] = {}

        def inputs():
            vocab = gen.block_vocabulary(os.path.join(self.root, "data", "tsdb_block"))
            series = vocab.groupby(
                [c for c in vocab.columns if c.startswith("label_")], dropna=False, sort=False
            ).ngroup()
            vocab = vocab[series < POOL_SERIES]
            pool_dir = os.path.join(self.run_dir, "pool")
            blocks = [os.path.join(pool_dir, f"b{i}") for i in range(POOL_BLOCKS)]
            for i, d in enumerate(blocks):
                frame = gen.block_frame(self.rng, vocab, i * gen.BLOCK_SPAN_MS)
                tsdb_block.write_block(d, gen.frame_series(frame))
                self.block_rows[d] = len(frame)
                self.block_digest[d] = gen.frame_digest(frame)
            return pool_dir, blocks

        self.pool = self._timed("inputs", inputs)
        self._warmup()
        if self.trace:
            self._ingest_probes()

    def _warmup(self) -> None:
        """A fixed number of operations, the same for every seed: whole
        decks in a fixed order, through the timed window's loop."""
        rng = np.random.default_rng(0)
        items = [it for _ in range(WARMUP_DECKS[self.workload]) for it in self._deck(rng)]
        self.warm_ops = self._timed("warmup", lambda: [self._op(item) for item in items])

    def _op(self, item) -> Op:
        return self.query(item) if self.workload == "dashboard" else self.ingest(item)

    def _deck(self, rng: np.random.Generator) -> list:
        """One seeded pass: every dashboard entry, or every ingest kind."""
        if self.workload == "dashboard":
            return [DASHBOARD[i] for i in rng.permutation(len(DASHBOARD))]
        pool_dir, blocks = self.pool
        return [
            (kind, [blocks[int(rng.integers(len(blocks)))]] if kind == "ingest_block" else blocks,
             pool_dir)
            for kind in (INGEST_KINDS[i] for i in rng.permutation(len(INGEST_KINDS)))
        ]

    def _ingest_probes(self) -> None:
        """Traced run only, after the warm-up: time the ingest layers one
        by one on the pool."""
        from tsdb_parquet_spark import tsdb_block, writer

        pool_dir, blocks = self.pool
        for b in blocks:
            self._timed("probe.read_index", lambda b=b: tsdb_block.read_index(
                os.path.join(b, "index")), "tsdb_block.read_index")
        n = self._timed("probe.read_block", lambda: sum(
            len(s) for b in blocks for _, s in tsdb_block.read_block(b)), "tsdb_block.read_block")
        self._timed("probe.scan", lambda: self.spark.read.format("tsdb").load(pool_dir)
                    .write.format("noop").mode("overwrite").save(), "datasource.scan")
        frame = self.spark.createDataFrame(tsdb_block.block_to_pandas(blocks[0])).cache()
        frame.count()
        self._timed("probe.write_sorted", lambda: writer.write_sorted(
            frame, os.path.join(self.run_dir, "probe-write")), "writer.write_sorted")
        frame.unpersist()
        p = self.phase_s
        self.layer = {
            "tsdb_block.index_s": p["probe.read_index"] / len(blocks),
            "tsdb_block.decode_samples_per_s": n / p["probe.read_block"],
            "datasource.scan_s": p["probe.scan"],
            "writer.write_s": p["probe.write_sorted"],
        }

    # -- timed window ------------------------------------------------------

    def window(self) -> tuple[list[Op], float]:
        """Closed loop, one client: the next request goes out when the
        last one returns.  Requests come in seeded decks; no deck starts
        after ``seconds`` unless fewer than ``MIN_DECKS`` have run, and a
        started deck runs to its end, so every run measures whole decks.
        A traced run runs at least 4 decks, tracing decks 1 and 4 of
        every 4 and not 2 and 3, so that a steady warm-up trend cancels
        out of ``trace.overhead_frac``.  Checks run after the window."""
        rng = np.random.default_rng(self.seed)
        ops: list[Op] = []
        self.deck_s: list[float] = []
        self.deck_traced: list[bool] = []
        min_decks = 4 if self.trace else MIN_DECKS
        ticks = _cpu_ticks()
        t_start = t = time.time()
        while t < t_start + self.seconds or len(self.deck_s) < min_decks:
            self.tracing = self.trace and len(self.deck_s) % 4 in (0, 3)
            deck = [self._op(item) for item in self._deck(rng)]
            for op in deck:
                op.deck = len(self.deck_s)
            ops += deck
            self.deck_s.append(time.time() - t)
            self.deck_traced.append(self.tracing)
            if self.tracing:  # untraced operations join no job group
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            t = time.time()
        self.tracing = False
        wall = max(op.end for op in ops) - t_start
        steal, total = (b - a for a, b in zip(ticks, _cpu_ticks()))
        # the share of the machine's CPU time the hypervisor took away
        self.steal_frac = steal / total if total else 0.0
        # The warm-up is checked here too, not between it and the window:
        # checked there, the first timed ingest deck ran 10-15% slower
        # than the next in most runs.
        t = time.time()
        n = len(self.writes)
        self.verify(self.warm_ops)
        del self.writes[n:]  # the warm-up's outputs
        self.warm_failed = [op.name for op in self.warm_ops if not op.ok]
        self.verify(ops)
        self.phase_s["verify"] = time.time() - t
        return ops, wall


def summarize(b: Bench, ops: list[Op], wall: float) -> tuple[dict, dict]:
    """End-to-end metrics of one run (name -> (value, unit)), and the
    run's report: seed, sample counts and the workload-specific metrics."""
    lat = sorted(op.latency for op in ops)
    by_name: dict[str, list[float]] = {}
    for op in ops:
        by_name.setdefault(op.name, []).append(op.latency)
    correct = [op for op in ops if op.ok]
    setup = sum(b.phase_s.get(k, 0.0) for k in ("session", "inputs", "at_rest", "warmup"))
    e2e = {
        "setup_s": (setup, "s"),
        # the median deck's: one slow deck (a GC pause, the host) moves it
        # no more than one fast deck
        "qps": (statistics.median(
            sum(1 for op in correct if op.deck == i) / d for i, d in enumerate(b.deck_s)), "1/s"),
        "latency_p50_s": (statistics.median(lat), "s"),
        "latency_geomean_s": (statistics.geometric_mean(
            statistics.median(v) for v in by_name.values()), "s"),
    }
    report = {
        "workload": b.workload, "seed": b.seed, "window_s": wall,
        "window_qps": len(correct) / wall,
        "operations": len(ops), "distinct_operations": len(by_name),
        "latency_samples": len(lat),
        "median_latency_by_operation_s": {n: statistics.median(v) for n, v in sorted(by_name.items())},
        "failed_frac": (len(ops) - len(correct)) / len(ops),
        "failed_operations": sorted({op.name for op in ops if not op.ok}),
        "warmup_failed": b.warm_failed,
        "deck_s": b.deck_s,
        "window_cpu_steal_frac": b.steal_frac,
        "phases_s": b.phase_s,
    }
    if len(lat) >= 100:  # at least 10 samples beyond p90
        report["latency_p90_s"] = statistics.quantiles(lat, n=10)[-1]
    if b.workload == "ingest":
        samples = sum(op.samples for op in correct)
        report["ingest_samples_per_s"] = samples / sum(op.latency for op in correct)
        report["bytes_per_sample"] = sum(w[0] for w in b.writes) / samples
    else:
        report["bytes_per_sample"] = sum(w[0] for w in b.writes) / b.written_samples
        report["routes"] = {
            n: sorted({op.route for op in ops if op.name == n})
            for n in DASHBOARD if n.endswith("_auto")
        }
    return e2e, report
