"""Seeded input generators for the benchmark workloads.

Every generator takes a ``numpy.random.Generator`` and returns plain
Arrow/pandas data; the same seed gives the same inputs.  The engine only
ever sees what these functions write to disk.

- :func:`scale_by_metric` — a committed fixture (``data/tsdb.parquet``
  for the dashboard's ``tsdb``) with its values scaled per metric by a
  seeded power of two.  The fixture's times stay: the dashboard queries
  pin their instants inside its span.
- :func:`block_frame` — the Prometheus self-scrape vocabulary of
  ``data/tsdb_block`` (763 series, 154,529 samples), time-shifted per
  block and scaled the same way.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BLOCK_SPAN_MS = 3_600_000  # per-block time shift in the ingest pool


def _labels_of(row: dict) -> dict[str, str]:
    """Wide ``label_*`` columns of one series -> Prometheus label set."""
    return {
        ("__name__" if k == "label_name" else k[len("label_"):]): v
        for k, v in row.items()
        if k.startswith("label_") and v is not None
    }


def scale_by_metric(rng: np.random.Generator, table: pa.Table) -> pa.Table:
    """``table`` with ``value`` multiplied per ``label_name`` by 2**k,
    k in {0, 1, 2} drawn from ``rng``.  Scaling up by a power of two is
    exact, commutes with every rounding step of +, -, * and /, and keeps
    a value with 6 decimals at 6 decimals.  So a query whose arithmetic
    both engines agree on bit for bit over the fixture still agrees over
    the scaled copy.  Counters stay monotone and histogram buckets stay
    cumulative."""
    names = pc.unique(table["label_name"]).sort()
    factors = np.exp2(rng.integers(0, 3, len(names))).astype(float)
    scale = pa.array(factors).take(pc.index_in(table["label_name"], names))
    return table.set_column(
        table.schema.get_field_index("value"), "value", pc.multiply(table["value"], scale))


# ---------------------------------------------------------------------------
# Prometheus block vocabulary (dashboard block table, ingest pool)

def block_vocabulary(fixture_dir: str) -> pd.DataFrame:
    """The committed block table, sorted by (series labels, time)."""
    df = pq.read_table(fixture_dir).to_pandas()
    labels = sorted(c for c in df.columns if c.startswith("label_"))
    return df.sort_values(labels + ["time"], na_position="first", kind="stable")[
        ["time", "value", *labels]
    ].reset_index(drop=True)


def block_frame(rng: np.random.Generator, vocab: pd.DataFrame, shift_ms: int) -> pd.DataFrame:
    """One block's samples: ``vocab`` shifted by ``shift_ms``, with values
    scaled as in :func:`scale_by_metric`."""
    out = scale_by_metric(rng, pa.Table.from_pandas(vocab, preserve_index=False)).to_pandas()
    out["time"] += shift_ms
    return out


def frame_series(frame: pd.DataFrame) -> list[tuple[dict[str, str], list[tuple[int, float]]]]:
    """Wide frame -> ``tsdb_block.write_block`` input (labels, samples)."""
    labels = [c for c in frame.columns if c.startswith("label_")]
    key = frame[labels].astype(object).where(frame[labels].notna(), None)
    out = []
    bounds = np.flatnonzero(
        np.r_[True, (key.iloc[1:].to_numpy() != key.iloc[:-1].to_numpy()).any(axis=1), True]
    )
    t = frame["time"].to_numpy()
    v = frame["value"].to_numpy()
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        lab = _labels_of(dict(zip(labels, key.iloc[lo])))
        out.append((lab, list(zip(t[lo:hi].tolist(), v[lo:hi].tolist()))))
    return out


def frame_digest(frame: pd.DataFrame) -> int:
    """Order-insensitive content digest: sum of per-row hashes mod 2**64
    over the columns in name order.  Additive, so the digest of several
    blocks with the same label columns ingested together is the sum of
    their digests."""
    # a label absent from every series is no column of the ingested table
    cols = sorted(c for c in frame.columns
                  if not (c.startswith("label_") and frame[c].isna().all()))
    f = frame[cols].copy()
    for c in cols:
        if c.startswith("label_"):
            f[c] = f[c].astype(object).where(f[c].notna(), None)
    h = pd.util.hash_pandas_object(f, index=False).to_numpy(dtype=np.uint64)
    return int(h.sum(dtype=np.uint64))
