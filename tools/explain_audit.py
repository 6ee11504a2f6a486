"""Regenerate PLANS.md: the physical plan for each headline query plus
the scale properties we assert about it (pushdown, broadcast, codegen,
exchange count).  Run from the repo root:

    python tools/explain_audit.py [sf_dir]

The point is reviewability: the plan we *designed* for 100 TB is the
plan Catalyst actually runs at any SF — pushed filters reach the scan,
small sides broadcast, and shuffle counts match the design notes in
each operator's docstring.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEADLINE = [
    ("q01_pricing_summary", "one scan, map-side partial agg, 6-group final agg"),
    ("q07_star_join_rollup", "all dims broadcast — zero fact-side join shuffles"),
    ("q13_prefix_match", "prefix-explode + broadcast lexicon + max_by"),
    ("q14_rollup", "Expand feeds ONE aggregation exchange"),
    ("q15_group_topk", "single hashpartitioning exchange for the window"),
    ("q16_pivot", "declared pivot values — one pass, one shuffle"),
    ("x01_exact_dedup", "shuffle on 60-bit fingerprint only"),
    ("x03_minhash_lsh_pairs", "band-bucket shuffle, never O(n^2) global"),
    ("x07_similarity_topk", "corpus never shuffled; queries broadcast"),
    ("x16_asof_join", "union-tag: ONE exchange, no join operator at all"),
    ("x17_range_join", "equi-join on (key, bucket) + residual range filter"),
    ("x18_hash_split", "pure projection — zero exchanges"),
    ("x19_tfidf_topk", "corpus shuffled once; df via window on collapsed tf — no join"),
    ("x59_pq_encode", "pure projection: argmin against codebook literals — zero joins, zero shuffles"),
    ("x60_pq_adc_topk", "ADC search: broadcast code→centroid maps + broadcast queries; corpus never shuffles until the per-query top-k window (WindowGroupLimit)"),
    ("x62_ivf_pq_topk", "IVF×PQ: one scan projects (id, cell, codes); broadcast (query, probed-cell) join prunes candidates to ~nprobe/n_cells; ADC via broadcast maps; top-k window only"),
    ("x58_bm25_topk", "index build = tf agg + broadcast df term table (dl computed at scan); stats 1-row + queries broadcast; score agg keeps (query,doc) parallelism"),
    ("x61_bm25_persisted_index", "persisted-index scoring: tf scan with pushed token-IN filter (range layout → row-group pruning); no tokenization, no corpus shuffle"),
    ("x12_ivf_topk", "cell assignment shuffles on vec_id only; centroids/queries broadcast; staged norms"),
    ("x14_embedding_lsh_near_dup", "band-bucket shuffle + pair distinct; verify joins keyed on int ids"),
    ("x24_salted_join", "hot keys spread over (key, salt) buckets; dim replicated per salt"),
    ("q22_cube", "full grouping lattice via ONE Expand + one hash-agg exchange"),
    ("q25_scd2", "both window passes reuse a single user_id exchange"),
    ("q27_funnel", "one user_id shuffle regardless of funnel depth, plus the constant-size SinglePartition exchange of final-agg partials"),
    ("q06_latest_event_per_user", "one user_id shuffle serves the dedup window; rn=1 filter rides it"),
    ("x20_dedup_clusters", "LSH pair generation once; each CC round shuffles only the (node,label) frame, never the corpus"),
    ("x22_kmeans_clusters", "per-round: narrow centroid-literal assignment pass (no join/shuffle) + one k×dim-group mean; final plan shows the last-round lineage"),
    ("x26_pack_sequences", "sharded running-sum: shard-local window + broadcast shard offsets — no global sort"),
    ("x28_stable_row_ids", "per-shard rank + broadcast offsets — dense ids without a global sort exchange"),
    ("x29_repetition_filters", "all repetition metrics in one scan-local codegen projection — no data exchange beyond the undersplit-scan spread (a no-op at cluster scale)"),
    ("x30_pii_scan", "regex counts + redaction chain in one scan-local projection — zero exchanges"),
    ("x31_contamination", "corpus side: distinct n-grams array-side, ONE doc_id count exchange; bench side: distinct + BroadcastExchange only (test sets are tiny)"),
    ("x32_canonical_docs", "x20's cluster kernel + ONE cluster_id window exchange for the quality policy; cluster map joined via AQE (broadcast while it fits)"),
    ("x33_token_budget_select", "monotone quality-bucket shards: shard-local window + broadcast offsets — total-order running sum without a global sort exchange"),
    ("x34_epoch_shuffle", "one block-key exchange; dense epoch positions via broadcast block offsets — no global sort"),
    ("x35_incremental_dedup", "batch probes the persisted band index on (band, band_key) — corpus never self-joined; per-doc agg shuffles batch ids only"),
    ("x37_leakage_safe_split", "cluster build (x20 kernel) + zero-shuffle hash-split projection keyed by cluster_id — no extra exchange beyond the cluster join"),
    ("x38_chunk_documents", "tokenize-once + explode start offsets + slice — scan-local Project+Generate; no exchange beyond the undersplit-scan spread (a no-op at cluster scale)"),
    ("x39_vocab_coverage", "corpus-scale work = one explode + one token hash-agg exchange (plus the undersplit-scan spread); every later exchange moves only the distinct-token table (vocab-bounded rows), where the monotone log2(cnt) shards + broadcast offsets replace a global sort"),
    ("x40_passage_dedup", "ONE corpus scan (explode_outer keeps short docs, no rejoin); two key exchanges — passage-key COUNT window + per-doc re-agg (plus the undersplit-scan spread, a no-op at cluster scale); sentinel key de-skews passage-less rows"),
    ("x68_duplicate_spans", "gaps-and-islands substring dedup: ONE corpus scan; gram-key window exchange moves 8-byte scan-side hashes; doc_id exchange feeds the islands windows AND both rollups (HashPartitioning(doc_id) satisfies the (doc,island) clustering — no further exchange)"),
    ("x69_span_cut_text", "span-cut rewrite: x68's gram-key window detects dup starts; positions collapse per doc and rejoin the corpus by doc_id; the per-token cut is a doc-local array exists — no extra shuffle beyond the rejoin"),
    ("x41_semantic_dedup", "IVF-cell-bucketed pairwise (never corpus-quadratic): one cell-key join for the exists-lower-neighbor mark, one vec_id mark join; no iteration — keep-first is closure-free"),
    ("x42_lm_quality", "LM trains in ONE checkpointed pass (explode + token hash-agg); top-V cut via orderBy+limit -> TakeOrderedAndProject (no global sort materialization); scoring pass = single corpus scan + broadcast LM join + one doc_id exchange; explode_outer keeps empty docs without a rejoin"),
    ("x43_corpus_funnel", "gates keep their own plans; the funnel adds only co-keyed doc_id flag joins that collapse to a SCALAR aggregate before the 3-row stack — nothing stage-shaped ever moves"),
    ("x44_snapshot_diff", "fingerprints are scan-side projections; ONE co-keyed full-outer join on doc_id is the only exchange — 8-byte hashes shuffle, never document strings"),
    ("x45_bigram_lm", "scoring reads the persisted LM artifacts, so the plan holds no training: corpus scan (plus the undersplit-scan spread, a no-op at cluster scale) + two broadcast joins (bigram table, vocab) + the one-row stats broadcast + one doc_id exchange"),
    ("x46_source_quota", "two-phase top-Q: salted (source,salt) window prunes map-side, final source window sees <= SALTS*Q rows per source — no full-source sort at any scale"),
    ("x47_weighted_sample", "hash-derived E-S keys in a scan-local projection; orderBy+limit -> TakeOrderedAndProject (per-partition k-heaps, no global sort exchange)"),
    ("x48_script_mix", "five regexp_count columns + argmax fold in ONE codegen projection — zero exchanges beyond the undersplit-scan spread"),
    ("x49_zipf_fit", "corpus collapses to the shared checkpointed token-counts table; top-R via TakeOrderedAndProject; the unpartitioned rank window holds exactly R (constant) rows; final OLS is a scalar agg"),
    ("x50_source_similarity", "distinct (source,shingle) hash-agg pinned once for three consumers; shingle-keyed self-join (co-occurrence-bounded, AQE-skew-split) + two broadcast size joins"),
    ("x51_random_projection", "constant ±1 sign matrix embedded as literals; zero-shuffle scan-local fixed-dim fold — no hashing, no exchange beyond the undersplit-scan spread"),
    ("x52_source_calibration", "one source-keyed window exchange for pct_in_source; pct_global = two-phase monotone-shard rank (shard-keyed window + in-plan triangular-join broadcast offsets) — NO unpartitioned window, NO plan-build-time collect"),
    ("x53_cms_heavy_hitters", "counts pinned once (checkpoint); sketch cells = one <=D*W-row hash-agg; probe joins the broadcast 24 KiB cell table; total = one-row broadcast nested loop"),
    ("x54_zorder_layout", "ONE corpus-grain shuffle to <=2^16 grid cells (checkpointed); both layouts' file stats are tiny hash-aggs over the cell table; z-value is zero-shuffle shift/mask codegen"),
    ("x55_kmv_source_overlap", "x50's distinct (source,shingle) kernel is the only corpus-grain exchange; per-source bottom-K window collapses to S*K sketch rows; pair stage = broadcast NLJ over two constant-size frames"),
    ("x56_native_session_window", "one user_id exchange feeds MergingSessionsExec (Catalyst's native session operator) — same shuffle count as the gaps-and-islands form, no window-function pass"),
    ("x57_mergeable_rollup", "two slice-local map-side-combined hash-aggs (history, batch) + one grain-bounded merge agg — events never re-shuffled together, merge input is O(grain) rows"),
    ("x63_fuzzy_join", "PassJoin banding: DISTINCT keys once; segment/probe explodes are scan-local; candidates = equi-join on (len, seg, value) — NO CartesianProduct/BNLJ anywhere; verify is thresholded levenshtein on candidates only"),
    ("x64_mmr_diversified_topk", "pool = broadcast-query brute-force top-k (corpus never shuffles); pairwise sims = broadcast pool-id hash probe of the corpus + ONE query_id collect exchange, pool^2 sims computed in array lambdas (no pool self-join, no corpus shuffle); greedy rerank = ONE query_id exchange into applyInPandas"),
    ("x65_ivf_pq_persisted_index", "persisted-index ADC scoring: codes scan with pushed In(__cell,...) filter (range layout -> row-group pruning); centroids/codebooks read from driver-sized artifact tables; NO re-encode, NO codebook rebuild — scoring is O(probed postings)"),
    ("x66_ann_mmr_rerank", "ANN-pooled MMR: IVF×PQ candidate generation (broadcast probes join codes on cell — ~nprobe/n_cells of the corpus) + |Q|*pool id-keyed exact cosine rerank + broadcast pool-id pairwise sims in array lambdas (no pool self-join) + ONE query_id exchange into applyInPandas; the brute-force corpus scan x64 pays is GONE"),
    ("x67_persisted_ann_mmr", "persisted-ANN MMR serving: scoring scans the frozen codes artifact with the pushed In(__cell,...) filter (x65's plan) — NO re-train, NO corpus re-encode; exact rerank is |Q|*pool id-keyed lookups; pairwise sims via broadcast pool ids (no pool self-join); ONE query_id exchange into the greedy applyInPandas"),
    ("st13_streaming_scd2", "the dimension table lives hash-bucketed by user — this audits the final table read (scan shows __bucket partition dirs); the per-batch merge reads ONLY affected buckets (partition pruning) and rewrites ONLY them via dynamic overwrite (untouched buckets pinned mtime-identical by tests/test_streaming_scd2.py)"),
]

# claims about a builder's plans, audited beside the query's serving
# frame: one plan per artifact the builder writes
BUILD_CLAIMS = {
    "x45_bigram_lm": "all three artifacts read the token counts as one checkpoint (Scan ExistingRDD), so no plan re-aggregates tokens; bigrams = corpus scan (plus the undersplit-scan spread) + one bigram-key hash-agg exchange + TakeOrderedAndProject top-B cut (no global sort), broadcast into the counts join; lm_vocab = TakeOrderedAndProject top-V over the counts; lm_stats = two scalar aggregates crossed into one row",
}


def _audit(spark, df) -> list[str]:
    """PLANS.md lines for ``df``: the Exchange and broadcast-join
    counts of its executed plan, then its formatted plan."""
    df.collect()  # let AQE finalize
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    # count nodes on the executed (AQE-final) plan, where each node
    # prints exactly once; formatted output is kept for display only
    executed = (
        df._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    # strip volatile ids ( #123 / plan_id=.. ) so regeneration diffs clean
    plan = re.sub(r"#\d+L?", "#", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=", plan)
    n_ex = executed.count("Exchange ")
    n_bc = executed.count("BroadcastHashJoin")
    return [
        f"**Observed:** {n_ex} Exchange node(s), {n_bc} broadcast join(s).",
        "",
        "```",
        plan.strip(),
        "```",
        "",
    ]


def main() -> None:
    from pyspark.sql import SparkSession

    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.plans import suites

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .appName("explain-audit")
        .getOrCreate()
    )
    # FULL registry so the audit can name fine-grained queries that the
    # scored registry folds into suites
    qs = suites.FULL_QUERIES
    out = [
        "# PLANS — physical-plan audit of the headline queries",
        "",
        f"Generated by `tools/explain_audit.py` at `{sf_dir}`.  For each query:",
        "the design claim, then the executed plan (AQE final).  Things to check:",
        "`PushedFilters`/`ReadSchema` on scans (pushdown + pruning),",
        "`BroadcastHashJoin` where a side is small, `Exchange` count vs the",
        "operator docstring, and `WholeStageCodegen` spans covering the",
        "expression work.",
        "",
    ]
    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.plans.extensions import (
        SERVING_FRAMES,
    )
    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.plans.quality import (
        x45_training_frames,
    )
    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.session import (
        scratch_dir,
    )

    # the persisted-index registry entries localCheckpoint their
    # result, which hides the scoring plan behind Scan ExistingRDD;
    # build each index at an audit-owned root and audit the live
    # serving frame, so the pushed token-IN / __cell-IN filter on the
    # index scan is visible
    build_frames = {"x45_bigram_lm": x45_training_frames}
    for name, claim in HEADLINE:
        out += [f"## {name}", "", f"**Design claim:** {claim}."]
        with scratch_dir(f"{name}_audit_") as root:
            if name in SERVING_FRAMES:
                df = SERVING_FRAMES[name](spark, sf_dir, root)
            else:
                df = qs[name](spark, sf_dir)
            out += _audit(spark, df)
        if name in build_frames:
            out += [f"**Builder claim:** {BUILD_CLAIMS[name]}.", ""]
            for artifact, frame in build_frames[name](spark, sf_dir).items():
                out += [f"### {name} builder: {artifact}", "", *_audit(spark, frame)]
    with open(os.path.join(os.path.dirname(__file__), "..", "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"PLANS.md written ({len(HEADLINE)} queries)")


if __name__ == "__main__":
    main()
