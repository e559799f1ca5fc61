"""Correctness checks: the DuckDB oracle for queries, the generator
digest for ingests.

Query results are compared the way ``scripts/check_oracle.py`` compares
them (its ``_family`` type families and its order-insensitive ``digest``
over ``_norm``-alised values), on Arrow tables from both engines.  Every
operation's result is checked, after the timed window: digested, or
found equal to a result of the same query that was.
"""

from __future__ import annotations

import os
import statistics
import time
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.gen import frame_digest
from scripts.check_oracle import _family, digest


def _naive_utc(v):
    # Spark's Arrow timestamps carry the session time zone (UTC); DuckDB's
    # TIMESTAMP and Spark's collect() are naive.
    if isinstance(v, datetime) and v.tzinfo is not None:
        return v.astimezone(timezone.utc).replace(tzinfo=None)
    return v


def signature(tbl: pa.Table) -> tuple:
    """(sorted column names, type families, row digest)."""
    cols = tbl.column_names
    fams = tuple(sorted((f.name, _family(str(f.type))) for f in tbl.schema))
    rows = [tuple(_naive_utc(v) for v in r.values()) for r in tbl.to_pylist()]
    return tuple(sorted(cols)), fams, digest(cols, rows)


class Oracle:
    """DuckDB signatures for a set of queries, computed once per run."""

    def __init__(self, sqls: dict[str, str]):
        import duckdb

        con = duckdb.connect()
        self.expected: dict[str, tuple] = {}
        self.seconds: dict[str, float] = {}
        self.matched: dict[str, pa.Table] = {}
        for name, sql in sqls.items():
            t0 = time.perf_counter()
            tbl = con.execute(sql).arrow()
            self.seconds[name] = time.perf_counter() - t0
            self.expected[name] = signature(tbl)
        con.close()

    def geomean_s(self) -> float:
        return statistics.geometric_mean(self.seconds.values())

    def verify(self, name: str, tbl: pa.Table) -> bool:
        """Whether ``tbl`` is the oracle's result.  A table equal, value for
        value and in the same order, to one that matched also matches;
        that comparison runs in Arrow's C++ and saves the row-by-row
        digest of a repeated query's result."""
        if name in self.matched and tbl.equals(self.matched[name]):
            return True
        if signature(tbl) != self.expected[name]:
            return False
        self.matched[name] = tbl
        return True


def parquet_stats(path: str) -> tuple[int, int, int]:
    """(bytes, files, row groups) of the Parquet files under ``path``."""
    nbytes = files = groups = 0
    for f in pq.ParquetDataset(path).files:
        nbytes += os.path.getsize(f)
        files += 1
        groups += pq.ParquetFile(f).metadata.num_row_groups
    return nbytes, files, groups


def ingest_ok(out_path: str, expected_rows: int, expected_digest: int) -> bool:
    """Read back an ingest output: row count and the generator digest."""
    df = pq.read_table(out_path).to_pandas()
    return len(df) == expected_rows and frame_digest(df) == expected_digest
