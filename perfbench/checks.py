"""Output checks: what every call must return, computed before timing.

A call's collected rows reduce to an order-insensitive digest (sha256
over the sorted canonical rows); checking a call is comparing digests.

- Keys with a DuckDB oracle in ``tweetdb_spark.ORACLES``: the oracle's
  result on the generated fixture.
- Streaming keys without an oracle: their batch computation on the
  same generated feed, run by Spark in batch mode.
- ``dedup_minhash_verdicts`` has no oracle: one row per input document,
  each planted exact-clone group inside one component, and the same
  digest on every repeat (the first call's digest becomes the
  expectation for the rest).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
from decimal import Decimal

import duckdb


def canon(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # the engines disagree on integer vs float result types (DuckDB
        # HUGEINT sums, Spark doubles), never on integral values
        if v.is_integer() and abs(v) < 2**53:
            return int(v)
        return v
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    return v


def digest(columns: list[str], rows) -> tuple[str, int]:
    """(sha256 over sorted canonical rows, row count); columns are
    taken in name order so the two engines' column orders agree."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon_rows = sorted(
        repr(tuple(canon(r[i]) for i in order)) for r in rows
    )
    h = hashlib.sha256()
    for line in canon_rows:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest(), len(canon_rows)


def oracle_digest(fixture_dir: str, sql: str, tmp_dir: str) -> tuple[str, int]:
    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory = '{tmp_dir}'")
        con.execute("SET threads = 2")
        con.execute("SET enable_progress_bar = false")  # stdout is the result
        for name in (
            "region", "nation", "customer", "supplier", "part", "orders",
            "lineitem", "events", "documents", "embeddings",
        ):
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM "
                f"'{fixture_dir}/{name}.parquet'"
            )
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        return digest(cols, cur.fetchall())
    finally:
        con.close()


def batch_twin(spark, tables, key: str):
    """Batch computation of a streaming key on the same feed, or None."""
    from pyspark.sql import functions as F

    ev = tables["events"]
    if key == "stream_dedup":
        return ev.dropDuplicates(["event_id"]).select(
            "event_id", "ts", "user_id", "event_type"
        )
    if key == "sink_jdbc_batch":
        return (
            ev.where((F.col("event_type") == "purchase") & F.col("user_id").isNotNull())
            .groupBy("user_id")
            .agg(
                F.count("*").alias("n_purchases"),
                F.round(F.sum("value"), 2).alias("total_value"),
            )
        )
    return None


def verdict_problems(rows, doc_ids: set[int], exact_groups) -> list[str]:
    """Structural checks of dedup_minhash_verdicts' output."""
    problems = []
    seen = [r["doc_id"] for r in rows]
    if len(seen) != len(set(seen)):
        problems.append("more than one verdict row for a document")
    if set(seen) != doc_ids:
        problems.append(
            f"verdict rows cover {len(set(seen))} of {len(doc_ids)} documents"
        )
    comp = {r["doc_id"]: r["component_id"] for r in rows}
    split = sum(1 for g in exact_groups if len({comp.get(d) for d in g}) != 1)
    if split:
        problems.append(f"{split} planted exact-clone groups split across components")
    keepers = {}
    for r in rows:
        if r["keep"]:
            keepers[r["component_id"]] = keepers.get(r["component_id"], 0) + 1
    if any(n != 1 for n in keepers.values()) or len(keepers) != len(set(comp.values())):
        problems.append("a component without exactly one keeper")
    return problems
