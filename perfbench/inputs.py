"""Seeded benchmark inputs and their ground truth.

Every table is a pure function of its arguments: the same seed gives the
same rows, so two runs of one seed measure the same input.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

WEB_ROWS = 25_000
LINEITEM_ROWS = 600_000
LINEITEM_SEED = 42


def web_table(seed: int, rows: int = WEB_ROWS) -> pa.Table:
    """Synthetic crawl table (url, warc_ts, html, text, lang) with Zipf
    host skew, from the engine's own generator."""
    from orc_spark.engine import webgen

    return webgen.generate(rows, seed=seed)


def lineitem_table(rows: int = LINEITEM_ROWS) -> pa.Table:
    """Stand-in for the repo's sf0.1 ``lineitem.parquet`` (600k rows),
    built to its measured shape: the same eleven columns and types, every
    column drawn independently and uniformly over the file's value range
    and granularity (order keys 0..149999, about four lines per order;
    integral quantities; prices, discounts and taxes rounded to whole
    cents; ship dates at midnight, 1995-01-02..2001-11-04), and rows in
    random order, as the file has them (no column sorted). The rows are fixed: the
    benchmark seed picks the queries, not the table."""
    rng = np.random.default_rng(LINEITEM_SEED)
    day0 = np.datetime64("1995-01-02", "D")
    shipdate = (day0 + rng.integers(0, 2499, rows)).astype("datetime64[us]")
    cents = lambda lo, hi: np.round(rng.uniform(lo, hi, rows)) / 100.0  # noqa: E731
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, 150_000, rows), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, 20_000, rows), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, 1_000, rows), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, rows), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, rows).astype(np.float64)),
            "l_extendedprice": pa.array(cents(90_068, 10_499_991)),
            "l_discount": pa.array(cents(0, 10)),
            "l_tax": pa.array(cents(0, 8)),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, rows)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, rows)]),
            "l_shipdate": pa.array(shipdate, pa.timestamp("us")),
        }
    )


def write_parquet(tbl: pa.Table, path: str) -> None:
    """Write ``tbl`` as eight files of eight row groups each, so the
    scan splits into enough tasks for every core count measured."""
    os.makedirs(path, exist_ok=True)
    per = -(-tbl.num_rows // 8)
    for i in range(8):
        part = tbl.slice(i * per, per)
        pq.write_table(
            part, os.path.join(path, f"part-{i:03d}.parquet"),
            row_group_size=max(1, per // 8), compression="none",
        )


def sort_by(tbl: pa.Table, keys: list[str]) -> pa.Table:
    return tbl.take(pc.sort_indices(tbl, [(k, "ascending") for k in keys]))


def same_rows(got: pa.Table, want: pa.Table, keys: list[str],
              want_sorted: pa.Table | None = None) -> bool:
    """Exact, order-insensitive table equality (decoded vs input).
    ``want_sorted``, when given, is ``sort_by(want, keys)``."""
    if got.num_rows != want.num_rows or got.column_names != want.column_names:
        return False
    got = got.cast(want.schema)
    if want_sorted is None:
        want_sorted = sort_by(want, keys)
    return sort_by(got, keys).equals(want_sorted)


def ts_literal(us: int) -> dt.datetime:
    """Naive datetime for a microsecond epoch stamp (session tz is UTC)."""
    return dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=int(us))
