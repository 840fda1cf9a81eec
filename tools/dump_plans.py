"""Dump formatted physical plans → PLANS.md, or full per-key plan files.

Evidence artifact: lets a reviewer read the exact plans (pushed
filters, join strategies, exchange placement) without running Spark.

Usage:
    python tools/dump_plans.py
        SHOWCASE trees + scan details → PLANS.md.
    python tools/dump_plans.py --out plans/r17 --tag before|after [key ...]
        full plans → DIR/<name>_<tag>.txt for each bench HEADLINE entry
        (or the given registry keys) — the before/after pair of an
        optimization.
Both read the fixtures at $SPARK_GRAFT_SF_DIR (default sf0.01).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SHOWCASE = [
    ("agg_grouped", "TPC-H Q1 shape — pushed filter, 2-phase hash agg"),
    ("q3_top_orders", "3-way join — broadcast dims, one fact shuffle, TakeOrdered"),
    ("join_multiway", "6-way join — 3 broadcasts, 2 exchanges total"),
    ("scan_pruned", "pushdown evidence — PushedFilters + pruned ReadSchema"),
    ("win_rank_topk", "per-group top-k — WindowGroupLimit below the shuffle"),
    ("events_session_batch", "sessionization — one user_id exchange reused"),
    ("sim_topk_cosine", "vector scoring — narrow map + TakeOrdered, no shuffle"),
    ("dedup_simhash", "banded LSH — candidate equi-join on (band, value)"),
    ("join_theta_bucketed", "theta-range rewrite — bin equi-join, no BNLJ"),
    ("fn_levenshtein_blocked", "PassJoin blocking — segment equi-join + verify"),
    ("dedup_minhash_banded", "portable MinHash — band equi-join + Jaccard verify"),
    ("text_decontaminate", "benchmark 8-gram overlap — gram equi-join"),
    ("sim_ann_ivf_pq", "IVF-PQ probe — cell-pruned codes scan, broadcast ADC LUT, TakeOrdered"),
    ("dedup_containment", "prefix-filter blocking — rare-gram probe ⋈ full-gram index"),
    ("sim_maxsim_multivector", "late interaction — broadcast query tokens, ONE agg exchange (pivoted maxima), WindowGroupLimit"),
    ("table_diff", "snapshot diff — PK full-outer join on 8-byte fingerprints"),
    ("graph_triangle_count", "triangles — oriented edge list, two node-key equi-joins"),
    ("sample_weighted", "E-S weighted top-k — narrow key map + TakeOrdered, no global sort"),
    ("corpus_shuffle", "seeded shard permutation — the one exchange a sharded write pays anyway"),
    ("text_dup_ngram_fraction", "corpus dup-gram signal — gram df agg + equi-join, 2-phase aggs"),
    ("corpus_dedup_e2e", "dedup verdict — banded components, co-partitioned window + join"),
    ("corpus_pipeline_audit", "curation audit — stage signals equi-joined back to doc_id"),
    ("table_drift_psi", "PSI drift — 1-row broadcast bounds, O(buckets) shuffle"),
    ("cte_recursive_chain", "recursive CTE — UnionLoop over the successor equi-join"),
    ("join_skewed_fact", "skewed fact join — hot-key SMJ; AQE skew split execution-asserted in tests/test_plans.py"),
    ("dedup_minhash_verdicts", "dedup verdicts — exact collapse, banded LSH on uniques, component fan-back"),
    ("sketch_cms_merge", "mergeable CMS — per-shard partial agg, ≤4096-row merge, broadcast probe join"),
    ("text_segment_dedup", "segment rewrite — df agg + equi-join, order-preserving collect_list rebuild"),
    ("text_decontaminate_bloom", "bloom-prefiltered decontamination — broadcast (j,bucket) filter joins BEFORE the exact gram join"),
    ("agg_multi_distinct_decomposed", "multi-DISTINCT without Expand — map-side-deduped two-phase aggs joined on the group key"),
    ("text_quality_classifier", "hashed linear model — token-hash features ⋈ broadcast weights, one doc-key agg"),
    ("itemsets_frequent_pairs", "A-Priori pairs — item-prune semi-join, basket self-equi-join, 2-phase support count"),
    ("events_multires_rollup", "continuous-aggregate chain — raw scanned once, day/week from hourly partials"),
    ("join_shuffle_hash_hint", "explicit ShuffledHashJoin — no-sort strategy where SMJ would sort both sides"),
    ("win_count_distinct", "windowed distinct rewrite — first-occurrence flag + running sum, one user shuffle"),
    ("sketch_kmv_intersect", "KMV set algebra — TakeOrdered k-smallest hashes, tiny-sketch joins, no wide shuffle"),
    ("sim_hybrid_rrf", "hybrid retrieval — two bounded top-100 legs, rank windows over k rows, RRF join"),
    ("multimodal_shard_manifest", "shard packing — two-level prefix sum, 64-row base table, no global window"),
]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", help="write full plans here instead of PLANS.md")
    ap.add_argument("--tag", default="before", choices=["before", "after"])
    ap.add_argument("keys", nargs="*", help="registry keys (default: HEADLINE)")
    args = ap.parse_args()
    if args.keys and not args.out:
        ap.error("keys need --out")

    import tweetdb_spark
    from tweetdb_spark.session import get_spark

    tweetdb_spark.load_all_operators()
    spark = get_spark("tweetdb-plans")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    queries = tweetdb_spark.QUERIES
    if args.out:
        write_full(spark, queries, sf_dir, args.out, args.tag, args.keys)
    else:
        write_showcase(spark, queries, sf_dir)


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def write_showcase(spark, queries, sf_dir: str) -> None:
    out = ["# PLANS — formatted physical plans of showcase queries",
           "",
           f"Generated by `python tools/dump_plans.py` at `{sf_dir}`. These are",
           "the plans the engine actually executes (pre-AQE form; AQE further",
           "coalesces partitions at runtime).",
           ""]
    for key, why in SHOWCASE:
        plan = _formatted(queries[key](spark, sf_dir))
        # keep the tree + the scan details; drop the long per-node dumps
        tree, _, details = plan.partition("\n\n\n")
        keep = [tree.strip()]
        for para in details.split("\n\n"):
            if "PushedFilters" in para or "ReadSchema" in para:
                keep.append(para.strip())
                break
        out += [f"## {key}", "", why, "", "```", *keep, "```", ""]

    with open(os.path.join(os.path.dirname(__file__), "..", "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))
    print("wrote PLANS.md")


def write_full(spark, queries, sf_dir: str, out_dir: str, tag: str,
               only: list[str]) -> None:
    from bench import HEADLINE

    os.makedirs(out_dir, exist_ok=True)
    items = [(k, k) for k in only] if only else list(HEADLINE.items())
    for name, key in items:
        spark.sparkContext.setJobDescription(f"plan:{name}")
        plan = _formatted(queries[key](spark, sf_dir))
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(f"# {name} (registry key: {key}) @ {sf_dir} — {tag}\n")
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")


if __name__ == "__main__":
    main()
