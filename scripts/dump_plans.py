"""Regenerate PLANS.md: formatted physical plans for representative
queries with the scale-relevant properties called out.

The properties themselves are regression-tested in tests/test_plans.py;
this artifact makes them reviewable without running Spark.

Usage:
  python scripts/dump_plans.py [sf_dir]
  python scripts/dump_plans.py sf_dir --pair DIR SUFFIX QUERY [QUERY ...]

``--pair`` writes each named query's plan to ``DIR/<query>_<SUFFIX>.txt``
instead of PLANS.md: run it with suffix ``before`` from a checkout of
the parent commit and ``after`` from the change for a plan-diff pair.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# (query, what the plan must show at 100 TB and why)
SHOWCASE = [
    (
        "q1_pricing_summary",
        "Scan-side column pruning (ReadSchema lists only the 7 needed of 16\n"
        "lineitem columns) and predicate pushdown (PushedFilters on\n"
        "l_shipdate); partial hash aggregation before the single shuffle —\n"
        "the map-side combine is what keeps a 100 TB scan's shuffle small.",
    ),
    (
        "q3_segment_revenue",
        "Both dimension sides (filtered customer, filtered orders) broadcast\n"
        "(BroadcastHashJoin): the lineitem fact side is never shuffled for\n"
        "the joins — the only exchange is the final groupBy. At 1000\n"
        "executors that is the difference between moving KBs and moving TBs.",
    ),
    (
        "q5_nation_revenue",
        "Snowflake join chain (customer-nation-region, supplier) resolved as\n"
        "a cascade of broadcasts over one fact scan; join reordering and\n"
        "dynamic broadcast decisions are left to Catalyst + AQE.",
    ),
    (
        "dedup_latest_lineitem",
        "rn=1 ranking window triggers WindowGroupLimit (InferWindowGroupLimit\n"
        "rule): each map task keeps only the per-key top row BEFORE the\n"
        "shuffle, so the exchange carries survivors, not the full table.",
    ),
    (
        "merge_cdc_orders",
        "Join-based CDC merge is a single key shuffle (same asymptotics as\n"
        "Delta MERGE's inner join + file rewrite); source is deduped to the\n"
        "latest row per key first, window-limited map-side like above.",
    ),
    (
        "merge_bloom_orders",
        "Bloom-accelerated CDC merge: the changeset's keys fold into a\n"
        "driver-held word list, and the Union's second branch (Filter over\n"
        "the target scan, ZERO exchanges) carries every bloom-miss row —\n"
        "provably unmatched — around the merge join entirely. The join's\n"
        "target-side Exchange sits above the constant-folded bloom Filter,\n"
        "so only the ~1%-plus-fp slice of the target shuffles. At 100 TB\n"
        "this is the row-granularity analogue of Delta MERGE's\n"
        "find-touched-files pruning.",
    ),
    (
        "q18_large_orders",
        "HAVING-filtered aggregate subquery becomes a tiny relation that\n"
        "broadcasts into a semi join (BroadcastHashJoin ... LeftSemi): the\n"
        "orders/lineitem re-scan is filtered without a fact-side shuffle.",
    ),
    (
        "q7_volume_shipping",
        "Six-table multi-way join with two nation roles: supplier and both\n"
        "nation sides broadcast, so the fact table shuffles only for the\n"
        "orderkey/custkey joins; the shipdate range is pushed to the scan.\n"
        "Catalyst owns the join order — the declared plan just marks the\n"
        "broadcastable dims.",
    ),
    (
        "q17_small_quantity_revenue",
        "Correlated per-group AVG decorrelated into an aggregate joined\n"
        "back: both the brand part-list and the per-part half-averages\n"
        "broadcast (no SortMergeJoin anywhere), so the lineitem scan never\n"
        "shuffles — at 100 TB the whole query is one fact pass plus\n"
        "KB-sized broadcasts.",
    ),
    (
        "dq_checks_lineitem",
        "All 7 declared quality checks compile into ONE projection emitting\n"
        "an array of per-test structs + explode — a single pass over the\n"
        "table (one scan), not one scan per test as in the reference. The\n"
        "duplicated window's one exchange is a repartition to one wave of\n"
        "tasks (REPARTITION_BY_NUM: the shuffle width, capped at the default\n"
        "parallelism), which AQE does not coalesce, so the exploded\n"
        "long-format rows keep that many tasks.",
    ),
    (
        "similarity_topk",
        "Brute-force cosine top-k: per-partition group limit before the\n"
        "shuffle (rank window), so k rows per query survive per partition —\n"
        "the shuffle is O(queries x k), independent of corpus size.",
    ),
    (
        "q6_forecast_revenue",
        "The degenerate-but-critical shape: zero joins, zero data shuffles.\n"
        "All three predicates appear in PushedFilters, ReadSchema lists 4 of\n"
        "11 lineitem columns, and the aggregate is partial-per-split + a\n"
        "1-row final merge. At 100 TB this runs at parquet-scan speed.",
    ),
    (
        "q8_market_share",
        "Seven-way join where every dimension (part, supplier, both nation\n"
        "roles, region) broadcasts; the fact shuffles only for the\n"
        "orderkey/custkey joins. The conditional market share is computed\n"
        "as exact integer-cent sums — no float accumulation-order hazard —\n"
        "with the ratio emitted as floored ppm.",
    ),
    (
        "q21_waiting_suppliers",
        "EXISTS and NOT EXISTS decorrelated into per-order counts: one\n"
        "pair-dedup aggregate feeds both existence predicates (EXISTS ⇔\n"
        "n_sup > 1, NOT EXISTS ⇔ n_late = 1), so the plan is two orderkey\n"
        "aggregates and an equi-join instead of two wide self-joins — half\n"
        "the pair-set shuffles, no nested loops, no Expand.",
    ),
    (
        "chunk_documents",
        "Row-multiplying chunking stays map-only: explode(sequence) +\n"
        "substring fused with the scan — no Exchange anywhere. Output can\n"
        "be written partition-aligned with the input; at 100 TB chunking\n"
        "is bandwidth-bound, not shuffle-bound.",
    ),
    (
        "hash_split_documents",
        "Content-addressed train/val/test split is a pure projection over\n"
        "the scan (md5 bucket + CASE): no shuffle, no sampling state, no\n"
        "partition-order dependence — the property that makes the split\n"
        "reproducible on any cluster at any parallelism.",
    ),
    (
        "decontaminate_documents",
        "Benchmark decontamination: the holdout's distinct n-grams end in a\n"
        "BroadcastHashJoin build side, so the 100 TB corpus side is probed\n"
        "map-side during its own scan — contamination detection adds no\n"
        "corpus shuffle; only per-doc hit counts (KBs) aggregate.",
    ),
    (
        "winnow_pairs_documents",
        "Winnowing near-dup pairs with the stop-fingerprint DF-cap: join\n"
        "output grows as sum(df^2) per fingerprint, so one ubiquitous hash\n"
        "quadratics the join (measured 82 s before the cap at sf0.1, ~2.5 s\n"
        "after). The cap is one cheap aggregate + semi-join on the exploded\n"
        "fingerprints before the pair join — popularity keys never reach\n"
        "the shuffle.",
    ),
    (
        "quality_filter_documents",
        "Gopher quality rules as one codegen-fused projection: zero\n"
        "Exchange nodes, and ReadSchema shows only (doc_id, text) leaving\n"
        "the scan — the filter runs at scan speed regardless of corpus\n"
        "size, with per-rule drop reasons for free.",
    ),
    (
        "heavy_hitters_tokens",
        "Two-pass exact heavy hitters: the token stream appears only under\n"
        "map-side stages (explode + mapInPandas Misra–Gries, then a\n"
        "BroadcastHashJoin probe against the candidate set) — the only\n"
        "grouped shuffle carries candidate-matched rows. The naive\n"
        "equivalent shuffles every token once.",
    ),
    (
        "paragraph_dedup_documents",
        "Sub-document dedup in exactly two exchanges: segment-hash window\n"
        "election, then doc-keyed reassembly with partial ObjectHashAggregate\n"
        "before the second shuffle. No window group limit is possible —\n"
        "every segment row must carry its is_first verdict to reassembly.",
    ),
    (
        "semantic_dedup_embeddings",
        "SemDeDup: centroid cosine argmax is pure JVM expressions (no\n"
        "row-wise Python eval nodes); the intra-cell duplicate scan is\n"
        "ONE shuffle on cell id feeding ONE grouped Arrow stage\n"
        "(FlatMapGroupsInPandas gram matrix per cell) — candidate space\n"
        "is sum(cell^2), never n^2, with no pair join and no\n"
        "CartesianProduct/BroadcastNestedLoopJoin anywhere.",
    ),
    (
        "interval_join_events",
        "Interval-overlap join via bin-and-verify: a hash equi-join on\n"
        "(user_id, bin) with each overlapping pair claimed by exactly one\n"
        "bin — no CartesianProduct, no dropDuplicates pass. Naive Spark\n"
        "plans a pure overlap predicate as a nested-loop join.",
    ),
    (
        "weighted_sample_documents",
        "Quality-weighted sampling as a scan-fused predicate: the content\n"
        "hash compares against a per-row floor(w*65536) threshold — zero\n"
        "Exchange nodes, deterministic at any parallelism.",
    ),
    (
        "curation_pipeline_documents",
        "Four curation stages (quality rules, language ID, exact-dup\n"
        "election, weighted sampling) compile into one scan + one hash\n"
        "shuffle (the dedup window) with no joins — the per-stage verdict\n"
        "trail costs nothing extra because every rule is a column\n"
        "expression over the same pass.",
    ),
    (
        "perplexity_documents",
        "Bigram-LM perplexity: two count aggregations build the model,\n"
        "the document bigram stream joins it on the bigram key, and the\n"
        "vocabulary size arrives as a one-row broadcast — no collect, no\n"
        "UDF; at web scale the model side is vocabulary-pruned (via\n"
        "heavy_hitters) down to broadcastable size.",
    ),
    (
        "pagerank_trade_graph",
        "Power-iteration PageRank: per iteration one src-keyed\n"
        "BroadcastHashJoin/shuffle join plus one dst-keyed partial-agg sum;\n"
        "the edge⋈degree frame is InMemoryRelation (persisted once), and\n"
        "the node count enters as a one-row broadcast, not a collect.",
    ),
    (
        "triangle_count_parts",
        "Degree-ordered triangle counting: the wedge self-join and the\n"
        "closing join are both equi-joins (no CartesianProduct /\n"
        "BroadcastNestedLoopJoin anywhere); orientation bounds per-node\n"
        "fan-out by the oriented out-degree ≤ O(√m), which is what\n"
        "survives power-law hubs at 100 TB.",
    ),
    (
        "gapfill_nation_revenue",
        "Calendar gap-fill: the daily rollup partial-aggregates map-side —\n"
        "the ONLY input-sized exchange; sequence()+explode generates the\n"
        "grid output-sized, and the forward-fill window sorts one group's\n"
        "calendar per task, never the input.",
    ),
    (
        "fuzzy_pairs_documents",
        "Block→verify fuzzy matching: candidates from the shingle\n"
        "equi-join; the levenshtein verifier is the JVM built-in with the\n"
        "threshold short-circuit (no Python evaluator node in the plan),\n"
        "attached via two id-keyed hash joins — per-pair cost O(prefix·t).",
    ),
    (
        "hll_shards_customers",
        "Mergeable-sketch pipeline: hll_sketch_agg appears as a partial\n"
        "(map-side) aggregate per shard, hll_union_agg merges shard\n"
        "sketches per group — each sketch ≤ 2^lg_k bytes regardless of\n"
        "input rows, so the exchange moves |groups|×|shards| sketches.",
    ),
    (
        "snapshot_diff_orders",
        "Snapshot reconciliation: ONE full-outer key join; the per-column\n"
        "null-safe comparator and changed-column list are array\n"
        "expressions inside the projection, so unchanged rows (the vast\n"
        "majority) die in the post-join filter without materializing.",
    ),
    (
        "top_paths_events",
        "Journey mining: the per-user collapse is sort_array over structs\n"
        "(no input-sized window sort); the single Window (rank) operator\n"
        "runs above the distinct-path aggregate — one row per path, not\n"
        "per user.",
    ),
    (
        "pit_join_orders",
        "SCD2 point-in-time join: equi-join on the key with the half-open\n"
        "validity window riding as a join filter — fan-out bounded by\n"
        "versions-per-key, ≤1 survivor per fact row, no\n"
        "BroadcastNestedLoopJoin range product.",
    ),
    (
        "bootstrap_ci_events",
        "Poisson bootstrap: all 20 resamples are sibling aggregate\n"
        "expressions in ONE scan (no Generate/explode, no join); the\n"
        "resample spread folds over a 20-element array on the single\n"
        "result row — the textbook map-side uncertainty estimator.",
    ),
    (
        "rolling_distinct_users",
        "Rolling 7-day distinct: daily HLL sketches unioned by a window\n"
        "aggregate over a RANGE days frame (gaps can't widen the window);\n"
        "the input is scanned once for the sketches — never re-scanned\n"
        "per window — and the union moves kilobytes of sketch bytes.",
    ),
    (
        "copurchase_lift_parts",
        "Association rules: the dim side (part brands) broadcasts into the\n"
        "basket derivation, the pair generator is a self-EQUI-join on the\n"
        "basket id (fan-out C(brands_per_order,2) ≈ 6, bounded by basket\n"
        "width, not corpus size), and the support/confidence/lift joins are\n"
        "broadcasts of the catalog-sized item counts + one 1-row scalar.",
    ),
    (
        "ewma_daily_revenue",
        "EWMA over the gap-filled grid: the dense calendar comes from\n"
        "sequence+explode (output-sized); the decay is ONE window\n"
        "collect_list over a 14-row frame with the weighted sum as per-row\n"
        "array arithmetic inside codegen — no self-join, no UDF, and the\n"
        "only input-sized shuffle is the daily rollup.",
    ),
    (
        "zscore_anomalies_events",
        "Distribution-relative outliers: per-type stats via a map-side-\n"
        "combinable HashAggregate broadcast back onto the stream —\n"
        "deliberately NOT a window partitioned by the 5-value type column,\n"
        "which would serialize the whole corpus through 5 tasks at 100 TB.",
    ),
    (
        "key_skew_profile_lineitem",
        "Skew diagnostic: one groupBy(key) count (the same shuffle the\n"
        "prospective join would do), then every statistic — top shares,\n"
        "max/mean overload, Gini via the rank identity — folds in one pass\n"
        "over the key-count frame. The output is one row.",
    ),
    (
        "rfm_segments_customers",
        "RFM: one customer groupBy, the max-date anchor as a 1-row\n"
        "broadcast scalar join, then three NTILE windows over the\n"
        "customer-AGGREGATED frame (not the order stream) — global ranks\n"
        "are inherent to quantile segmentation; the frame they sort is the\n"
        "small one.",
    ),
    (
        "bfs_hops_trade",
        "Bounded-depth frontier BFS: each level is one equi-join probe of\n"
        "the persisted edge frame plus one anti-join against the visited\n"
        "set; the edge derivation executes ONCE (persist), not per hop, and\n"
        "lineage stays bounded by the depth.",
    ),
    (
        "theil_sen_users",
        "Pairwise-slope generation as a co-partitioned self-join on the\n"
        "group key (SortMergeJoin on user_id, no BroadcastNestedLoop /\n"
        "cartesian): cross-group pairs never materialize, so cost is\n"
        "bounded by per-entity series length, not corpus size.",
    ),
    (
        "minhash_calibration_documents",
        "Estimator calibration: exact pairs from the shingle equi-join\n"
        "(only docs SHARING a shingle ever meet) joined to map-side md5\n"
        "minhash signatures; the estimate join touches only surviving\n"
        "pairs.",
    ),
    (
        "chi2_priority_status",
        "Single input scan: contingency cells via one pair-keyed shuffle,\n"
        "marginals as window sums over the tiny cell frame — no join back\n"
        "to the input, no second scan.",
    ),
    (
        "open_orders_daily",
        "Concurrent-interval counting: +1/-1 event deltas and ONE ordered\n"
        "running-sum window — O(2n) events instead of an\n"
        "interval-by-calendar join.",
    ),
    (
        "closed_sessions_events",
        "Batch twin of the stateful sessionizer: ONE event-sized exchange\n"
        "(the key-hash partition feeds the lag window, the running-sum\n"
        "window, the session groupBy and the last-session window — Spark's\n"
        "clustered-distribution reuse), plus a 1-row watermark scalar as a\n"
        "broadcast. The streaming operator shuffles once on the same key;\n"
        "identical asymptotics.",
    ),
    (
        "rolling_distinct_by_type",
        "Multi-key sketch view: the rolling distinct is a window union of\n"
        "STORED daily HLL sketches partitioned by the non-date key —\n"
        "kilobytes per group, never a raw re-scan; the exact gate side is\n"
        "an explode + equi-join (no nested-loop range join).",
    ),
    (
        "cdf_part_orders",
        "Partition-pruned Change Data Feed (r10): BOTH snapshot scans\n"
        "carry PartitionFilters on the touched leaf set — the directory-\n"
        "metadata probe proved every other leaf inode-identical across\n"
        "the hardlink snapshots, so a 3,000-partition table where one\n"
        "date changed diffs one partition's files. The diff itself stays\n"
        "ONE full-outer SortMergeJoin with the row-kind classifier\n"
        "exploded in place.",
    ),
    (
        "fastss_d2_part",
        "FastSS d=2 (r10): the deletion neighborhood (O(n²) variants per\n"
        "string) is generated as codegen transform/substr expressions and\n"
        "exploded — no Python per row; candidates come from ONE hash\n"
        "equi-join on the variant key (never all-pairs), deduped on the\n"
        "id pair BEFORE the levenshtein verify so each pair pays the DP\n"
        "cost once. The pre-join Σ(df_l·df_r) probe refused runaway\n"
        "variants before this plan ever launched.",
    ),
    (
        "dml_orders",
        "Row-level DELETE+UPDATE DML (r10): the final read shows the\n"
        "partitioned layout both statements preserved. Each statement's\n"
        "bounded groupBy probe (partial-agg count per touched partition,\n"
        "LIMIT-capped driver transfer) found its ONE touched leaf, and the\n"
        "copy-on-write rewrite scanned only that leaf via a static\n"
        "partition_predicate — the other priorities' files were never\n"
        "read and stay inode-identical (pinned in tests/test_dml.py).\n"
        "At 100 TB a DELETE confined to 3 of 3,000 date partitions scans\n"
        "and rewrites ~0.1% of the table.",
    ),
    (
        "merge_into_orders",
        "SQL MERGE INTO with a GENERAL clause set (r11): conditional\n"
        "DELETE, explicit-SET UPDATE, conditional explicit-column INSERT\n"
        "and NOT MATCHED BY SOURCE all compile into ONE full-outer\n"
        "sort-merge join + a codegen'd first-wins action cascade fused\n"
        "into a single filter+project (plan-pinned in tests/test_plans.py:\n"
        "exactly one join node, each side scanned once). Delta's MERGE\n"
        "does the same single find-touched-files join internally; a\n"
        "per-clause pass would multiply the 100 TB scan by the clause\n"
        "count.",
    ),
    (
        "ctas_part_orders",
        "Partitioned CTAS (r11): the aggregate runs map-side partial +\n"
        "one exchange, and the read-back scan shows the hive layout the\n"
        "CREATE produced — the layout later partition-pruned DML/OPTIMIZE/\n"
        "CDF statements rely on. CREATE OR REPLACE rides the staging swap,\n"
        "so a failed replace aborts without touching the live table.",
    ),
]


def _plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    # Plans can embed non-printable literal bytes (e.g. the \x1f
    # separator / \x00NULL\x00 sentinel of merge.py's _composite_key)
    # — escape them so the dumps stay text files.
    return "".join(
        ch if ch in "\n\t" or ord(ch) >= 32 else f"\\x{ord(ch):02x}"
        for ch in buf.getvalue()
    ).rstrip()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    pair = sys.argv[3:] if sys.argv[2:3] == ["--pair"] else None
    if len(sys.argv) > 2 and (pair is None or len(pair) < 3):
        raise SystemExit(__doc__)
    import __spark_entry__ as mod
    from mydatalake_spark.session import get_spark

    spark = get_spark(
        app_name="dump-plans", master="local[4]", shuffle_partitions=4
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = mod.queries()

    if pair is not None:
        outdir, suffix, *names = pair
        os.makedirs(outdir, exist_ok=True)
        for name in names:
            path = os.path.join(outdir, f"{name}_{suffix}.txt")
            with open(path, "w") as fh:
                fh.write(_plan_text(qs[name](spark, sf_dir)) + "\n")
            print(f"wrote {path}", flush=True)
        return

    out = [
        "# PLANS — physical-plan evidence for the 100 TB design\n",
        "Generated by `python scripts/dump_plans.py` at sf_dir="
        f"`{sf_dir}`.\n"
        "Each property below is also asserted in `tests/test_plans.py`,\n"
        "so regressions fail CI rather than silently de-optimizing.\n",
    ]
    for name, why in SHOWCASE:
        plan = _plan_text(qs[name](spark, sf_dir))
        out.append(f"\n## {name}\n\n{why}\n\n```\n{plan}\n```\n")

    with open(
        os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"),
        "w",
    ) as fh:
        fh.write("\n".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
