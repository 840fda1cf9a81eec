"""Seeded fixture generator for the benchmark workloads.

``generate(workload, seed, out_dir)`` writes one parquet file per table
named in ``tweetdb_spark.schemas`` (all ten) into ``out_dir`` and
returns a description of what it wrote: rows and bytes per table plus
the traffic dimensions behind them.  The same (workload, seed, scale)
always gives byte-identical files.

Every float the oracled keys aggregate is a dyadic rational (a
multiple of 1/8, 1/4 or 1/64) and every embedding component is a small
integer, so sums, averages and dot products are exact in binary
floating point.  Spark and DuckDB then agree bit for bit whatever
order they add in, and an output check never fails on rounding noise.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Token vocabulary of the reference fixtures (FIXTURES.md): the tweet
# filter keys track "spark" and "merge", which are in it.
VOCAB = (
    "row the query stream key agg scan slow table part a merge window "
    "order column join vector fast spark line small customer group value "
    "hash batch sort data big filter dup"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
EVENT_TYPES = ["signup", "click", "view", "purchase", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

# Per-workload sizes at scale 1.  Tables a workload does not read stay
# small but present, because catalog.load_tables plans all ten.
SIZES = {
    "ingest": dict(
        events=12_000, event_days=5, users=500, dup_share=0.10,
        late_share=0.15, late_max_s=2_700, user_zipf=1.2,
        documents=1_000, clone_share=0.0, high_mult=0,
        customer=150, orders=1_500, lineitem=6_000, embeddings=200,
    ),
    # the corpus keys read documents and embeddings, the read-path
    # queries the star tables and a 30-day feed (sf0.01-sized)
    "batch": dict(
        events=10_000, event_days=30, users=150, dup_share=0.0,
        late_share=0.0, late_max_s=0, user_zipf=0.0,
        documents=600, clone_share=0.30, high_mult=25,
        customer=1_500, orders=15_000, lineitem=60_000, embeddings=500,
    ),
}

WORKLOAD_IDS = {name: i for i, name in enumerate(SIZES)}
EVENT_T0 = dt.datetime(2024, 1, 1)
DATE_T0 = dt.datetime(1995, 1, 1)


def _rng(workload: str, seed: int, table: str) -> np.random.Generator:
    # one independent stream per table, so resizing one table never
    # reshuffles another
    salt = sum(ord(c) * 31 ** i for i, c in enumerate(table)) % (1 << 31)
    return np.random.default_rng([seed, WORKLOAD_IDS[workload], salt])


def _scaled(n: int, scale: float, floor: int = 1) -> int:
    return max(floor, int(round(n * scale)))


def _dates(rng, n, days):
    return np.datetime64(DATE_T0, "D") + rng.integers(0, days, n)


def _ts_col(values) -> pa.Array:
    return pa.array(values.astype("datetime64[us]"), type=pa.timestamp("us"))


def _star(rng_for, size, scale):
    n_cust = _scaled(size["customer"], scale, 10)
    n_supp = max(5, n_cust // 15)
    n_part = max(10, n_cust * 4 // 3)
    n_ord = _scaled(size["orders"], scale, 20)
    n_li = _scaled(size["lineitem"], scale, 40)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    r = rng_for("customer")
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": r.integers(-400, 40_000, n_cust) / 4.0,
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)],
    })
    r = rng_for("supplier")
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": r.integers(-400, 40_000, n_supp) / 4.0,
    })
    r = rng_for("part")
    adj = np.array(["small", "red", "blue", "green", "large"])
    noun = np.array(["ring", "widget", "bolt", "gear", "pipe"])
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(
            np.char.add(adj[r.integers(0, 5, n_part)], " "),
            noun[r.integers(0, 5, n_part)],
        ),
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": np.array(["ECONOMY", "SMALL", "STANDARD", "PROMO"])[
            r.integers(0, 4, n_part)
        ],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": 900 + r.integers(0, 4_000, n_part) / 4.0,
    })
    r = rng_for("orders")
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": r.integers(4_000, 2_000_000, n_ord) / 4.0,
        "o_orderdate": _ts_col(_dates(r, n_ord, 2_400)),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)],
    })
    r = rng_for("lineitem")
    okeys = np.sort(r.integers(0, n_ord, n_li))
    linenum = np.ones(n_li, dtype=np.int32)
    for i in range(1, n_li):  # 1-based line number within each order
        if okeys[i] == okeys[i - 1]:
            linenum[i] = linenum[i - 1] + 1
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(linenum, pa.int32()),
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": r.integers(3_600, 420_000, n_li) / 4.0,
        "l_discount": r.integers(0, 7, n_li) / 64.0,
        "l_tax": r.integers(0, 6, n_li) / 64.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_li)],
        "l_shipdate": _ts_col(_dates(r, n_li, 2_500)),
    })
    return out


def _events(r, size, scale):
    """The event feed: skewed users, out-of-order event times, and
    exact redelivered copies (same event_id, same payload)."""
    n = _scaled(size["events"], scale, 50)
    span_us = size["event_days"] * 86_400 * 10**6
    # creation order = event_id order; event time mostly follows it
    base = np.sort(r.integers(0, span_us, n))
    late = r.random(n) < size["late_share"]
    lag = r.integers(0, max(1, size["late_max_s"]) * 10**6, n)
    ts = np.where(late, np.maximum(base - lag, 0), base)
    if size["user_zipf"] > 0:
        users = (r.zipf(size["user_zipf"], n) - 1) % size["users"]
    else:
        users = r.integers(0, size["users"], n)
    etype = np.array(EVENT_TYPES)[r.integers(0, 5, n)]
    value = r.integers(1, 4_000, n) / 8.0
    props = [f'{{"k": {k}}}' for k in r.integers(0, 100, n)]
    ids = np.arange(n)
    n_dup = int(round(n * size["dup_share"]))
    dup = np.sort(r.choice(n, n_dup, replace=False)) if n_dup else np.array([], int)
    idx = np.concatenate([ids, dup])
    order = np.argsort(idx, kind="stable")  # copies sit beside originals
    idx = idx[order]
    t0 = np.datetime64(EVENT_T0, "us")
    table = pa.table({
        "event_id": pa.array(idx, pa.int64()),
        "ts": _ts_col(t0 + ts[idx].astype("timedelta64[us]")),
        "user_id": pa.array(users[idx], pa.int64()),
        "event_type": etype[idx],
        "value": value[idx],
        "props": [props[i] for i in idx],
    })
    # out-of-order share: events whose time is below the running max of
    # the events created before them
    run_max = np.maximum.accumulate(ts)
    ooo = float(np.mean(ts[1:] < run_max[:-1])) if n > 1 else 0.0
    counts = np.bincount(users, minlength=size["users"])
    dims = {
        "events_unique": int(n),
        "duplicate_share": round(n_dup / (n + n_dup), 4),
        "late_share": round(float(late.mean()), 4),
        "late_max_s": size["late_max_s"],
        "out_of_order_share": round(ooo, 4),
        "event_days": size["event_days"],
        "users": size["users"],
        "top_user_share": round(float(counts.max() / n), 4),
        "top10_user_share": round(float(np.sort(counts)[-10:].sum() / n), 4),
    }
    return table, dims


def _doc_text(r, n_tokens):
    return " ".join(np.array(VOCAB)[r.integers(0, len(VOCAB), n_tokens)])


def _documents(r, size, scale):
    """Documents with planted exact-clone and near-dup clusters.

    ``clone_share`` of the corpus are copies: low-multiplicity clusters
    (2-3 members, exact or one token changed) and, when ``high_mult``
    is set, one large exact-clone cluster of that many members.
    """
    n = _scaled(size["documents"], scale, 20)
    n_tok = np.clip(np.round(r.lognormal(3.8, 0.6, n)), 5, 400).astype(int)
    texts: list[str | None] = [None] * n
    exact_groups: list[list[int]] = []
    n_near = 0
    n_copies = int(n * size["clone_share"])
    high = min(size["high_mult"], n_copies // 2) if size["high_mult"] else 0
    slots = r.permutation(n)
    originals, copies = list(slots[: n - n_copies]), list(slots[n - n_copies :])
    for i in originals:
        texts[i] = _doc_text(r, n_tok[i])
    if high > 1:  # one high-multiplicity exact cluster
        src = originals[0]
        grp = [src] + copies[: high - 1]
        for c in grp[1:]:
            texts[c] = texts[src]
        exact_groups.append(sorted(int(x) for x in grp))
        copies = copies[high - 1 :]
    k = 1
    while copies:
        src = originals[k % len(originals)]
        k += 1
        m = int(r.integers(1, 3))  # 1-2 copies: low multiplicity
        grp, copies = copies[:m], copies[m:]
        if r.random() < 0.5:
            for c in grp:
                texts[c] = texts[src]
            exact_groups.append(sorted(int(x) for x in [src] + grp))
        else:
            toks = texts[src].split(" ")
            for c in grp:
                t = list(toks)
                t[int(r.integers(0, len(t)))] = VOCAB[int(r.integers(0, len(VOCAB)))]
                texts[c] = " ".join(t)
                n_near += 1
    lens = np.array([len(t) for t in texts])
    table = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[r.integers(0, 5, n)],
        "source": [f"src{s}" for s in r.integers(0, 20, n)],
        "n_chars": pa.array(lens, pa.int64()),
    })
    sizes = sorted((len(g) for g in exact_groups), reverse=True)
    dims = {
        "exact_clone_groups": len(exact_groups),
        "exact_clone_docs": int(sum(sizes)),
        "max_clone_multiplicity": int(sizes[0]) if sizes else 1,
        "near_dup_docs": n_near,
        "tokens_p50": int(np.median(n_tok)),
        "tokens_p90": int(np.percentile(n_tok, 90)),
        "tokens_max": int(n_tok.max()),
    }
    return table, dims, exact_groups


def _embeddings(r, size, scale):
    n = _scaled(size["embeddings"], scale, 20)
    vecs = r.integers(-8, 9, (n, 64)).astype(np.float32)
    vecs[np.all(vecs == 0, axis=1), 0] = 1.0  # no zero-norm vectors
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n), pa.int32()),
    })


def generate(workload: str, seed: int, out_dir: str, scale: float = 1.0) -> dict:
    """Write the ten fixture tables for ``workload`` at ``seed``.

    Returns ``{"tables": {name: {"rows", "bytes"}}, "traffic": {...},
    "exact_groups": [[doc_id, ...], ...]}``.
    """
    size = SIZES[workload]
    os.makedirs(out_dir, exist_ok=True)

    def rng_for(table):
        return _rng(workload, seed, table)

    tables = _star(rng_for, size, scale)
    tables["events"], ev_dims = _events(rng_for("events"), size, scale)
    tables["documents"], doc_dims, groups = _documents(
        rng_for("documents"), size, scale
    )
    tables["embeddings"] = _embeddings(rng_for("embeddings"), size, scale)
    info = {}
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy")
        info[name] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}
    return {
        "tables": info,
        "traffic": {**ev_dims, **doc_dims},
        "exact_groups": groups,
    }
