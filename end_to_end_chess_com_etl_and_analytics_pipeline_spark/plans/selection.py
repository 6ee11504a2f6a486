"""Corpus-selection operators: the step AFTER dedup and quality gating
in a training-data pipeline — deciding which documents ship, in what
order (driver contract part 3).

Five first-class operators:

- x32: canonical-document selection — collapse every near-duplicate
  cluster (MinHash-LSH pairs → connected components, the x20 kernel) to
  its single best-quality member; unclustered docs keep themselves.
  "Keep one per cluster" made concrete: the keep *policy* is
  highest-quality-wins, not lowest-id-wins.
- x33: token-budget selection — greedy best-quality-first selection
  under a hard token budget (the "we can afford N tokens this run"
  cut).  Needs a TOTAL-ORDER running sum, implemented without a global
  sort: quality-bucket sharding + per-shard window + broadcast offsets
  (the operators.ids two-phase pattern).
- x34: deterministic epoch shuffle — block-wise training-order shuffle
  keyed by a seeded hash, so every run/epoch reproduces the same order
  with zero RNG state.  One shuffle on the block key; the only
  sequential step touches n_blocks rows.
- x35: incremental dedup — an arriving batch probed against the
  persisted corpus LSH index (operators.dedup.incremental_lsh_matches);
  the corpus is never re-paired, the daily cost is O(batch).
- st06: the streaming composition of x35 — the index persisted to
  parquet, arriving batches probed in foreachBatch micro-batches
  (streaming.pipeline.streaming_incremental_dedup); union of
  micro-batch verdicts ≡ the one-shot probe.
- x37: leakage-safe train/val/test split — the hash split keyed by
  near-dup cluster id, so duplicate pairs can never straddle train and
  test (the eval-inflation hole a doc_id-keyed split leaves open).
- x44: corpus snapshot diff — per-doc added/removed/changed/unchanged
  between two corpus versions via content fingerprints; the dataset-
  versioning audit run between crawls (one co-keyed full-outer join).
- x36: temperature-balanced domain mixture — per-``source`` sampling at
  rate ∝ 1/√n_source (the √-temperature rebalancing multilingual/
  multi-domain corpora use), gated by a deterministic seeded hash so
  the mixture is reproducible.  Formulated WITHOUT a cross-domain
  normalizing sum: each domain's keep-threshold is an integer derived
  from its own count alone, so there is no float-summation-order
  divergence between engines.

Scale notes (the 100 TB shape):
- x32 adds ONE window shuffle (by cluster_id) on top of x20; the
  cluster-map join is left to AQE (broadcast while the near-dup set
  fits, shuffled join beyond).
- x33's shard key is *monotone in the global order* (quality buckets),
  so shard-ascending concatenation of the per-shard orders IS the
  global order — the running sum never funnels the corpus through one
  partition.  The single-threaded fraction is the n_shards-row offset
  table.
- x34 is the same two-phase shape over hash blocks; block sizes are
  near-uniform by construction, so there is no skew to mitigate.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import md5_long, md5_long_sql
from ..functions.rounding import round_fixed, round_fixed_sql
from ..functions.text import bpe_ish_token_count, casefold, quality_score, tokens
from ..operators.ids import shard_offsets
from ..session import run_concurrently, scratch_dir
from ..sources.tables import load_table, read_parquet_noinfer

# x33: quality-bucket shard count and the token budget.  The budget is
# chosen at fixture scale so BOTH outcomes occur at sf0.01 and sf0.1
# (total BPE tokens: ~27k / ~270k); the selection mechanics are the
# operator under test.
N_QSHARDS = 32
TOKEN_BUDGET = 10_000

# x34: training-order shuffle blocks and the epoch seed.
N_BLOCKS = 64
EPOCH_SEED = "epoch0"


def _dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared near-dup cluster kernel (MinHash-LSH pairs → connected
    components; x20's constants): (node, component) labels.  x32 and
    x37 both consume it — pass one precomputed frame via their
    ``clusters`` argument to pay for the pair generation + CC iteration
    once (the registry suite does; see suites._corpus_selection_suite)."""
    from ..operators.graph import connected_components
    from ..operators.dedup import minhash_lsh_pairs
    from ..plans.extensions import (
        _MINHASH_BANDS,
        _MINHASH_N,
        _MINHASH_SHINGLE,
    )

    docs = load_table(spark, "documents", sf_dir)
    pairs = minhash_lsh_pairs(
        docs,
        num_hashes=_MINHASH_N,
        bands=_MINHASH_BANDS,
        shingle_len=_MINHASH_SHINGLE,
    )
    return connected_components(pairs, src="id_a", dst="id_b")


def x32_canonical_docs(
    spark: SparkSession, sf_dir: str, clusters: DataFrame | None = None
) -> DataFrame:
    """Keep-one-per-cluster with a quality policy: near-dup clusters
    from the x20 kernel (same MinHash-LSH constants), each labeled doc
    joined back to its quality score, and ``is_canonical`` = the
    cluster's (quality DESC, doc_id ASC) winner.  Docs in no cluster
    are their own singleton cluster and always canonical.

    Reference parity: the reference has no corpus operators at all —
    this extends the latest-wins "keep one" idea (python_scripts.py
    merge semantics) from exact keys to near-duplicate clusters."""
    docs = load_table(spark, "documents", sf_dir)
    if clusters is None:
        clusters = _dup_clusters(spark, sf_dir)
    # NULL text scores as empty text (analysis-family NULL contract);
    # such docs are always singleton clusters (the dedup kernel excludes
    # NULL docs from signature generation)
    scored = docs.select(
        "doc_id",
        quality_score(F.coalesce(F.col("text"), F.lit(""))).alias("quality"),
    )
    labeled = (
        scored.join(clusters, scored.doc_id == clusters.node, "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("cluster_id"),
            "quality",
        )
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    return labeled.select(
        "doc_id",
        "cluster_id",
        "quality",
        (F.row_number().over(w) == 1).alias("is_canonical"),
    )


def x33_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy token-budget selection: rank the corpus best-quality-first
    and keep documents while the running BPE-token total stays within
    TOKEN_BUDGET (inclusive of the doc's own tokens).

    The running sum is over a TOTAL order (quality DESC, doc_id ASC) —
    the naive ``SUM() OVER (ORDER BY ...)`` is a single-partition
    window, the classic scale cliff.  Distributed form: shard by
    quality bucket ``floor((1-q)·32)`` — monotone non-increasing in q,
    so shard order extends to the global order — rank/sum within each
    shard, then add broadcast per-shard offsets.  Same-quality docs
    always share a bucket, so the tie-break never crosses shards."""
    docs = load_table(spark, "documents", sf_dir).withColumn(
        "text", F.coalesce(F.col("text"), F.lit(""))
    )  # NULL text ≡ '' (analysis-family NULL contract)
    stats = docs.select(
        "doc_id",
        quality_score("text").alias("quality"),
        bpe_ish_token_count("text").cast("bigint").alias("n_bpe_tokens"),
    )
    qshard = F.least(
        F.floor((F.lit(1.0) - F.col("quality")) * N_QSHARDS),
        F.lit(N_QSHARDS - 1),
    ).cast("long")
    base = stats.withColumn("__shard", qshard)
    w_local = Window.partitionBy("__shard").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    ranked = base.withColumn(
        "__rank", F.row_number().over(w_local)
    ).withColumn(
        "__cum",
        F.sum("n_bpe_tokens").over(
            w_local.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    # n_shards rows — the whole sequential fraction of this plan.
    # Derived from the post-window frame (max rank = shard count, max
    # running sum = shard token total), NOT from ``base``: an agg over
    # ``base`` is a second consumer of the scan lineage and re-executes
    # the quality/BPE text projection over the whole corpus — measured
    # 234.8s -> 128.2s at 5M docs (fresh-session best-of-3,
    # tools/x33_profile.py; the text functions are ~110s of the plan,
    # the window ~2s).  Both consumers now sit above one identical
    # Exchange, which ReuseExchange
    # deduplicates, so the corpus is scanned and scored ONCE.
    counts = ranked.groupBy("__shard").agg(
        F.max("__rank").alias("__n"), F.max("__cum").alias("__tok")
    )
    offsets = shard_offsets(
        counts, "__shard", {"__n": "__n_off", "__tok": "__tok_off"}
    )
    return (
        ranked.join(F.broadcast(offsets), "__shard")
        .select(
            "doc_id",
            "quality",
            "n_bpe_tokens",
            (F.col("__n_off") + F.col("__rank")).cast("bigint").alias("sel_rank"),
            (F.col("__tok_off") + F.col("__cum")).cast("bigint").alias("cum_tokens"),
            (
                (F.col("__tok_off") + F.col("__cum")) <= F.lit(TOKEN_BUDGET)
            ).alias("selected"),
        )
    )


def x34_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic block-wise training-order shuffle: a seeded 60-bit
    md5 key per doc, blocks = key mod N_BLOCKS, order within a block by
    (key, doc_id), and a dense global epoch position via broadcast
    block offsets.  Re-running with the same seed reproduces the order
    bit-for-bit on any cluster size; changing the seed is a fresh
    epoch.  Readers stream blocks sequentially — the standard
    block-shuffle layout for training shards."""
    docs = load_table(spark, "documents", sf_dir)
    keyed = docs.select(
        "doc_id",
        md5_long(
            F.concat(
                F.lit(EPOCH_SEED), F.lit("|"), F.col("doc_id").cast("string")
            )
        ).alias("shuffle_key"),
    ).withColumn("block", F.pmod(F.col("shuffle_key"), F.lit(N_BLOCKS)))
    w_local = Window.partitionBy("block").orderBy("shuffle_key", "doc_id")
    ranked = keyed.withColumn("__rank", F.row_number().over(w_local))
    counts = keyed.groupBy("block").agg(F.count("*").alias("__n"))
    w_off = Window.orderBy("block").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "block", F.coalesce(F.sum("__n").over(w_off), F.lit(0)).alias("__off")
    )
    return (
        ranked.join(F.broadcast(offsets), "block")
        .select(
            "doc_id",
            "block",
            "shuffle_key",
            (F.col("__rank") - 1).cast("bigint").alias("pos_in_block"),
            (F.col("__off") + F.col("__rank") - 1).cast("bigint").alias(
                "epoch_pos"
            ),
        )
    )


# x35: every 5th doc plays the arriving batch; the rest are the
# already-indexed corpus.
BATCH_MOD = 5


def x35_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: probe an arriving batch against the persisted
    corpus LSH index (operators.dedup.incremental_lsh_matches) — the
    corpus is never re-paired, only the O(batch) probe joins the index.
    The batch/corpus split is deterministic (doc_id mod 5) so the
    oracle can reproduce it."""
    from ..operators.dedup import band_signatures, incremental_lsh_matches
    from ..plans.extensions import (
        _MINHASH_BANDS,
        _MINHASH_N,
        _MINHASH_SHINGLE,
    )

    docs = load_table(spark, "documents", sf_dir)
    batch = docs.where(F.col("doc_id") % BATCH_MOD == 0)
    # ONE shingle+minhash pass over the whole corpus, split into
    # probe/index sides by filter (r11): the two sides are disjoint
    # doc_id sets, so signatures over the union then filtered are
    # row-identical to two per-side passes — but a band_signatures
    # pass is scan-dominated (measured 0.72 s over all docs vs 0.74 s
    # over the 1/5 batch alone at sf0.1), so paying it once instead of
    # twice saves a full corpus text scan.  The checkpoint pins the
    # banded table — O(corpus × bands) rows of (id, band, md5),
    # executor-local, the same linear-storage-vs-rescan trade the BM25
    # tf materialization makes.
    sig_all = band_signatures(
        docs,
        num_hashes=_MINHASH_N,
        bands=_MINHASH_BANDS,
        shingle_len=_MINHASH_SHINGLE,
    ).localCheckpoint()
    return incremental_lsh_matches(
        sig_all.where(F.col("doc_id") % BATCH_MOD != 0),
        batch,
        num_hashes=_MINHASH_N,
        bands=_MINHASH_BANDS,
        shingle_len=_MINHASH_SHINGLE,
        probe_signatures=sig_all.where(F.col("doc_id") % BATCH_MOD == 0),
    )


def _x35_sql() -> str:
    # band_sig re-derived with the x20 oracle's geometry (same
    # constants), split into probe/index sides by the same doc_id mod
    from ..plans.extensions import _MINHASH_N, _MINHASH_BANDS, _minhash_sig_cte

    rpb = _MINHASH_N // _MINHASH_BANDS
    return f"""
WITH {_minhash_sig_cte()},
banded AS (
    SELECT doc_id, CAST(seed // {rpb} AS INTEGER) AS band, minhash
    FROM sig),
band_sig AS (
    SELECT doc_id, band,
           md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY minhash)) AS band_key
    FROM banded GROUP BY doc_id, band),
hits AS (
    SELECT p.doc_id,
           COUNT(DISTINCT c.doc_id) AS n_corpus_collisions,
           MIN(c.doc_id) AS first_match
    FROM band_sig p JOIN band_sig c
      ON p.band = c.band AND p.band_key = c.band_key
    WHERE p.doc_id % {BATCH_MOD} = 0 AND c.doc_id % {BATCH_MOD} <> 0
    GROUP BY p.doc_id)
SELECT d.doc_id,
       coalesce(h.n_corpus_collisions, 0) AS n_corpus_collisions,
       h.first_match,
       h.first_match IS NULL AS is_novel
FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
WHERE d.doc_id % {BATCH_MOD} = 0
"""


def _x32_sql() -> str:
    # the x20 transitive-closure CTE re-used verbatim as a derived
    # table (single source of truth for the cluster geometry), then the
    # quality policy on top
    from ..plans.extensions import _QUALITY_SQL, _X20_SQL

    return f"""
WITH comp AS (SELECT * FROM ({_X20_SQL}) t),
scored AS (SELECT doc_id, {_QUALITY_SQL} AS quality
           FROM (SELECT doc_id, coalesce(text, '') AS text FROM documents) documents),
labeled AS (
    SELECT s.doc_id, coalesce(c.cluster_id, s.doc_id) AS cluster_id, s.quality
    FROM scored s LEFT JOIN comp c ON s.doc_id = c.doc_id)
SELECT doc_id, cluster_id, quality,
       (ROW_NUMBER() OVER (
            PARTITION BY cluster_id ORDER BY quality DESC, doc_id ASC) = 1)
           AS is_canonical
FROM labeled
"""


def _x33_sql() -> str:
    from ..functions.text import BPE_EXTRACT_SQL
    from ..plans.extensions import _QUALITY_SQL

    bpe = f"CAST(len({BPE_EXTRACT_SQL.format(c='text')}) AS BIGINT)"
    return f"""
WITH stats AS (
    SELECT doc_id, {_QUALITY_SQL} AS quality, {bpe} AS n_bpe_tokens
    FROM (SELECT doc_id, coalesce(text, '') AS text FROM documents) documents)
SELECT doc_id, quality, n_bpe_tokens,
       CAST(ROW_NUMBER() OVER (ORDER BY quality DESC, doc_id ASC) AS BIGINT)
           AS sel_rank,
       CAST(SUM(n_bpe_tokens) OVER (
            ORDER BY quality DESC, doc_id ASC ROWS UNBOUNDED PRECEDING)
           AS BIGINT) AS cum_tokens,
       CAST(SUM(n_bpe_tokens) OVER (
            ORDER BY quality DESC, doc_id ASC ROWS UNBOUNDED PRECEDING)
           AS BIGINT) <= {TOKEN_BUDGET} AS selected
FROM stats
"""


def _x34_sql() -> str:
    key = md5_long_sql(f"concat('{EPOCH_SEED}', '|', CAST(doc_id AS VARCHAR))")
    return f"""
WITH keyed AS (
    SELECT doc_id, {key} AS shuffle_key FROM documents),
b AS (
    SELECT doc_id, shuffle_key, shuffle_key % {N_BLOCKS} AS block FROM keyed)
SELECT doc_id, block, shuffle_key,
       CAST(ROW_NUMBER() OVER (
            PARTITION BY block ORDER BY shuffle_key, doc_id) - 1 AS BIGINT)
           AS pos_in_block,
       CAST(ROW_NUMBER() OVER (
            ORDER BY block, shuffle_key, doc_id) - 1 AS BIGINT) AS epoch_pos
FROM b
"""


def st06_streaming_incremental_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming twin of x35: the corpus band index is PERSISTED to
    parquet, the batch docs arrive as a file-source stream (several
    files → several micro-batches), and each micro-batch probes the
    index in foreachBatch.  The appended verdicts must equal the
    one-shot batch probe, so the oracle is x35's SQL."""
    import os as _os

    from ..operators.dedup import band_signatures
    from ..plans.extensions import (
        _MINHASH_BANDS,
        _MINHASH_N,
        _MINHASH_SHINGLE,
    )
    from ..streaming.pipeline import streaming_incremental_dedup

    docs = load_table(spark, "documents", sf_dir)
    with scratch_dir("st06_") as root:
        index_path = _os.path.join(root, "index")
        batch_dir = _os.path.join(root, "batch")
        out_path = _os.path.join(root, "verdicts")
        ckpt = _os.path.join(root, "ckpt")
        # the index build and the batch staging write are independent
        # corpus passes — overlap them so the cheap batch write
        # back-fills the signature pass's task tail
        run_concurrently(
            lambda: band_signatures(
                docs.where(F.col("doc_id") % BATCH_MOD != 0),
                num_hashes=_MINHASH_N,
                bands=_MINHASH_BANDS,
                shingle_len=_MINHASH_SHINGLE,
            ).write.parquet(index_path),
            # several arriving files → several micro-batches
            lambda: docs.where(F.col("doc_id") % BATCH_MOD == 0)
            .repartition(3)
            .write.parquet(batch_dir),
        )
        streaming_incremental_dedup(
            spark,
            batch_dir,
            index_path,
            out_path,
            ckpt,
            num_hashes=_MINHASH_N,
            bands=_MINHASH_BANDS,
            shingle_len=_MINHASH_SHINGLE,
        )
        # pin results before the scratch dir disappears
        return read_parquet_noinfer(spark, out_path).localCheckpoint()


# x37: leakage-safe split fractions and hash seed.
SPLIT_FRACTIONS = {"train": 80, "val": 10, "test": 10}
SPLIT_SEED = "leaksafe0"


def x37_leakage_safe_split(
    spark: SparkSession, sf_dir: str, clusters: DataFrame | None = None
) -> DataFrame:
    """Train/val/test split that cannot leak near-duplicates across
    splits: the hash-split key is the near-dup CLUSTER id (x20 kernel),
    not the doc id, so every member of a duplicate cluster lands in the
    same split.  Splitting by doc_id — what x18 does, and what most
    pipelines do — puts one copy of a duplicated document in train and
    another in test, silently inflating eval scores; keying the
    existing zero-shuffle hash split by cluster_id closes that hole
    for the cost of the cluster build the dedup pass already ran."""
    from ..operators.sampling import hash_split

    docs = load_table(spark, "documents", sf_dir)
    if clusters is None:
        clusters = _dup_clusters(spark, sf_dir)
    labeled = docs.join(
        clusters, docs.doc_id == clusters.node, "left"
    ).select(
        "doc_id",
        F.coalesce("component", "doc_id").alias("cluster_id"),
    )
    return hash_split(
        labeled, "cluster_id", SPLIT_FRACTIONS, seed=SPLIT_SEED
    )


def _x37_sql() -> str:
    from ..operators.sampling import hash_split_case_sql
    from ..plans.extensions import _X20_SQL

    case = hash_split_case_sql("cluster_id", SPLIT_FRACTIONS, seed=SPLIT_SEED)
    return f"""
WITH comp AS (SELECT * FROM ({_X20_SQL}) t),
labeled AS (
    SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id)
SELECT doc_id, cluster_id, {case} AS split FROM labeled
"""


# x36: expected take per domain = MIX_C·√n_docs (capped at n_docs);
# hash gate over a 2^20 modulus.  MIX_C chosen so fixture domains land
# strictly between 0 and 1 keep probability at sf0.01 and sf0.1.
MIX_C = 8.0
MIX_H = 1 << 20
MIX_SEED = "mix0"


def x36_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """√-temperature domain rebalancing: sample each ``source`` domain
    at rate min(1, MIX_C/√n) — large domains are downsampled toward
    √-proportional representation, small domains kept whole.  The gate
    is a seeded md5 over doc_id, so membership is stable across runs
    and cluster sizes.

    Plan shape: one tiny per-source count aggregation, broadcast back
    onto the corpus, then a scan-local projection — the corpus itself
    is never shuffled.  The per-domain threshold is
    floor(MIX_C·MIX_H/√n): integer-valued from scalar double ops that
    are IEEE-identical across engines (no normalizing sum across
    domains, whose addition order would differ)."""
    docs = load_table(spark, "documents", sf_dir)
    counts = docs.groupBy("source").agg(F.count("*").alias("n_source"))
    thresholds = counts.select(
        "source",
        "n_source",
        F.floor(
            F.lit(MIX_C * MIX_H) / F.sqrt(F.col("n_source").cast("double"))
        )
        .cast("bigint")
        .alias("__thr"),
    )
    gate = md5_long(
        F.concat(F.lit(MIX_SEED), F.lit("|"), F.col("doc_id").cast("string"))
    ) % F.lit(MIX_H)
    return (
        docs.join(F.broadcast(thresholds), "source")
        .select(
            "doc_id",
            "source",
            "n_source",
            F.least(F.lit(MIX_H), F.col("__thr")).alias("keep_threshold"),
            (gate < F.col("__thr")).alias("sampled"),
        )
    )


def _x36_sql() -> str:
    gate = md5_long_sql(f"concat('{MIX_SEED}', '|', CAST(doc_id AS VARCHAR))")
    return f"""
WITH counts AS (
    SELECT source, COUNT(*) AS n_source,
           CAST(FLOOR({MIX_C * MIX_H} / SQRT(CAST(COUNT(*) AS DOUBLE))) AS BIGINT)
               AS thr
    FROM documents GROUP BY source)
SELECT d.doc_id, d.source, c.n_source,
       LEAST({MIX_H}, c.thr) AS keep_threshold,
       ({gate}) % {MIX_H} < c.thr AS sampled
FROM documents d JOIN counts c ON d.source = c.source
"""


# x38: context-window chunking — chunk/stride in whitespace tokens.
# Stride < chunk ⇒ consecutive chunks overlap by CHUNK_TOKENS -
# CHUNK_STRIDE tokens (the standard pretraining/RAG windowing).
CHUNK_TOKENS = 64
CHUNK_STRIDE = 48


def x38_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping context-window chunking: every document split into
    CHUNK_TOKENS-token windows starting every CHUNK_STRIDE tokens — the
    preprocessing step that turns a document corpus into model-sized
    training/retrieval units.

    One scan, zero shuffles: tokenize once, explode the start-offset
    sequence, slice — all scan-local array expressions, so the plan is
    a Project+Generate over the parquet scan at any corpus size (the
    chunk fan-out multiplies rows ~n_tokens/stride-fold, which is the
    output's intrinsic size, not a plan overhead).  Empty documents
    produce zero chunks (and Spark's ``sequence`` rejects a 0→-1
    range, so the n≥1 filter is also a correctness guard).

    Reference parity: no reference counterpart (its texts are PGN blobs
    consumed whole); this is part of the LLM-pipeline extension surface.
    """
    from ..functions.text import tokens

    docs = load_table(spark, "documents", sf_dir)
    base = (
        docs.select("doc_id", tokens("text").alias("__tk"))
        .withColumn("__n", F.size("__tk"))
        .where(F.col("__n") >= 1)
    )
    chunk = F.slice(F.col("__tk"), F.col("s") + 1, F.lit(CHUNK_TOKENS))
    return (
        base.withColumn(
            "s",
            F.explode(
                F.sequence(
                    F.lit(0), F.col("__n") - 1, F.lit(CHUNK_STRIDE)
                )
            ),
        )
        .select(
            "doc_id",
            (F.col("s") / CHUNK_STRIDE).cast("bigint").alias("chunk_seq"),
            F.col("s").cast("bigint").alias("start_token"),
            F.size(chunk).alias("n_chunk_tokens"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
    )


def _x38_sql() -> str:
    from .extensions import _TOKS_SQL

    tk = _TOKS_SQL.format(c="text")
    return f"""
WITH base AS (
    SELECT doc_id, {tk} AS tk, len({tk}) AS n
    FROM documents
    WHERE len({tk}) >= 1)
SELECT doc_id,
       CAST(s // {CHUNK_STRIDE} AS BIGINT) AS chunk_seq,
       CAST(s AS BIGINT) AS start_token,
       CAST(len(list_slice(tk, s + 1, s + {CHUNK_TOKENS})) AS INTEGER)
           AS n_chunk_tokens,
       array_to_string(list_slice(tk, s + 1, s + {CHUNK_TOKENS}), ' ')
           AS chunk_text
FROM base, UNNEST(range(0, CAST(n AS BIGINT), {CHUNK_STRIDE})) AS t(s)
"""


# x39: tokenizer-style vocabulary build — top-VOCAB_SIZE lowercased
# whitespace tokens by corpus frequency, with coverage fractions.
# Sized below the fixtures' distinct-token count (31 at sf0.01) so the
# rank cut actually binds and both kept/dropped outcomes are exercised
# (same reasoning as TOKEN_BUDGET above); a real tokenizer build sets
# this to 10^4-10^5.
VOCAB_SIZE = 24


def x39_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary + OOV coverage: the top-VOCAB_SIZE tokens by
    frequency (ties broken lexicographically), each with its corpus
    frequency fraction and the cumulative coverage at its rank — the
    last row's ``cum_frac`` is exactly the in-vocab token coverage, and
    1 − it the OOV rate a tokenizer of this vocab would see.

    The global (cnt DESC, token ASC) rank and running sum are built
    WITHOUT a global sort: tokens shard by floor(log2(cnt)) — every
    count in bucket k exceeds every count in bucket k+1, so the shard
    key is monotone in the target order and per-shard window + n_shards
    broadcast offsets compose the exact total order (the operators.ids
    two-phase pattern).  Corpus-scale cost is one explode + one
    hash-agg shuffle on token; the windows run over the distinct-token
    table, orders of magnitude smaller."""
    from ..functions.text import casefold, tokens

    docs = load_table(spark, "documents", sf_dir)
    counts = (
        docs.select(
            F.explode(tokens(casefold(F.col("text")))).alias("token")
        )
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )
    # log2-bucket shard: ascending __shard == descending cnt block-wise
    sharded = counts.withColumn(
        "__shard", (-F.floor(F.log2(F.col("cnt").cast("double")))).cast("long")
    )
    w_local = Window.partitionBy("__shard").orderBy(
        F.desc("cnt"), F.asc("token")
    )
    ranked = sharded.withColumn(
        "__rank", F.row_number().over(w_local)
    ).withColumn(
        "__cum",
        F.sum("cnt").over(w_local.rowsBetween(Window.unboundedPreceding, 0)),
    )
    shard_stats = sharded.groupBy("__shard").agg(
        F.count("*").alias("__n"), F.sum("cnt").alias("__tok")
    )
    offsets = shard_offsets(
        shard_stats, "__shard", {"__n": "__n_off", "__tok": "__tok_off"}
    )
    total = counts.agg(
        F.sum("cnt").cast("double").alias("__total")
    )
    from ..functions.rounding import round_fixed

    return (
        ranked.join(F.broadcast(offsets), "__shard")
        .withColumn("rank", (F.col("__n_off") + F.col("__rank")).cast("bigint"))
        .where(F.col("rank") <= VOCAB_SIZE)
        .crossJoin(F.broadcast(total))
        .select(
            "rank",
            "token",
            "cnt",
            round_fixed(
                F.col("cnt").cast("double") / F.col("__total"), 6
            ).alias("frac"),
            round_fixed(
                (F.col("__tok_off") + F.col("__cum")).cast("double")
                / F.col("__total"),
                6,
            ).alias("cum_frac"),
        )
    )


def _x39_sql() -> str:
    from .extensions import _CASEFOLD_SQL, _TOKS_SQL
    from ..functions.rounding import round_fixed_sql

    tk = _TOKS_SQL.format(c=_CASEFOLD_SQL.format(c="text"))
    frac = round_fixed_sql("CAST(r.cnt AS DOUBLE) / t.total", 6)
    cum = round_fixed_sql("CAST(r.cum_cnt AS DOUBLE) / t.total", 6)
    return f"""
WITH tok AS (SELECT unnest({tk}) AS token FROM documents),
c AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
t AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS total FROM c),
r AS (SELECT token, cnt,
             ROW_NUMBER() OVER (ORDER BY cnt DESC, token ASC) AS rank,
             SUM(cnt) OVER (ORDER BY cnt DESC, token ASC) AS cum_cnt
      FROM c)
SELECT CAST(r.rank AS BIGINT) AS rank, r.token, r.cnt,
       {frac} AS frac, {cum} AS cum_frac
FROM r, t WHERE r.rank <= {VOCAB_SIZE}
"""


# x44: snapshot-diff derivation mods.  The two corpus snapshots are
# derived deterministically from the one documents fixture so BOTH
# engines build identical inputs: prev drops doc_id % 5 == 0 (those
# read as "added" in curr) and suffixes text for doc_id % 7 == 0
# ("changed"); curr drops doc_id % 11 == 0 ("removed").  All four
# statuses occur at sf0.01 (added ~91, removed ~37, changed ~52).
SNAP_ADDED_MOD = 5
SNAP_CHANGED_MOD = 7
SNAP_REMOVED_MOD = 11


def snapshot_diff(prev: DataFrame, curr: DataFrame) -> DataFrame:
    """Corpus snapshot diff: per-document added / removed / changed /
    unchanged status between two corpus versions — the dataset-
    versioning audit run between crawls or before retraining ("what
    actually moved since the last cut?").

    Identity is ``doc_id``; change detection is the engine's exact-
    dedup content fingerprint (``functions.text.fingerprint`` — 60-bit
    hash of casefolded whitespace-normalized text), null-safe so two
    NULL-text versions of a doc compare as unchanged in both engines.

    Shape at 100 TB: fingerprints are scan-side projections; the only
    exchange is ONE co-keyed full-outer join on doc_id (both sides
    shuffle once on the same key — AQE handles the merge), and the
    output is a zero-shuffle projection of it.  No content strings
    move: 8-byte fingerprints travel, not documents."""
    from ..functions.text import fingerprint

    p = prev.select(
        "doc_id",
        fingerprint("text").alias("__fp_prev"),
        F.lit(1).alias("__in_prev"),
    )
    c = curr.select(
        "doc_id",
        fingerprint("text").alias("__fp_curr"),
        F.lit(1).alias("__in_curr"),
    )
    j = p.join(c, "doc_id", "full_outer")
    status = (
        F.when(F.col("__in_prev").isNull(), F.lit("added"))
        .when(F.col("__in_curr").isNull(), F.lit("removed"))
        .when(
            F.col("__fp_prev").eqNullSafe(F.col("__fp_curr")),
            F.lit("unchanged"),
        )
        .otherwise(F.lit("changed"))
    )
    return j.select(
        "doc_id",
        status.alias("status"),
        F.coalesce(F.col("__fp_curr"), F.col("__fp_prev")).alias("fp"),
    )


def x44_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """snapshot_diff over two deterministic snapshots of the documents
    fixture (see SNAP_*_MOD)."""
    docs = load_table(spark, "documents", sf_dir)
    prev = docs.where(F.col("doc_id") % SNAP_ADDED_MOD != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % SNAP_CHANGED_MOD == 0,
            F.concat(F.col("text"), F.lit(" v1")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    curr = docs.where(F.col("doc_id") % SNAP_REMOVED_MOD != 0)
    return snapshot_diff(prev, curr)


def _x44_sql() -> str:
    from ..functions.text import CASEFOLD_SQL

    def fp(c: str) -> str:
        return md5_long_sql(
            CASEFOLD_SQL.format(
                c=f"regexp_replace(trim({c}), '\\s+', ' ', 'g')"
            )
        )

    return f"""
WITH prev AS (SELECT doc_id,
                     CASE WHEN doc_id % {SNAP_CHANGED_MOD} = 0
                          THEN text || ' v1' ELSE text END AS text
              FROM documents WHERE doc_id % {SNAP_ADDED_MOD} <> 0),
curr AS (SELECT doc_id, text FROM documents
         WHERE doc_id % {SNAP_REMOVED_MOD} <> 0),
p AS (SELECT doc_id, {fp('text')} AS fp_prev, 1 AS in_prev FROM prev),
c AS (SELECT doc_id, {fp('text')} AS fp_curr, 1 AS in_curr FROM curr),
j AS (SELECT COALESCE(p.doc_id, c.doc_id) AS doc_id,
             p.fp_prev, p.in_prev, c.fp_curr, c.in_curr
      FROM p FULL OUTER JOIN c ON p.doc_id = c.doc_id)
SELECT doc_id,
       CASE WHEN in_prev IS NULL THEN 'added'
            WHEN in_curr IS NULL THEN 'removed'
            WHEN fp_prev IS NOT DISTINCT FROM fp_curr THEN 'unchanged'
            ELSE 'changed' END AS status,
       COALESCE(fp_curr, fp_prev) AS fp
FROM j
"""


# --- x46: per-source quota cap ---------------------------------------------
SRC_QUOTA = 12  # keep at most this many docs per source
N_QUOTA_SALTS = 4  # phase-1 fan-out within a source


def x46_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota cap: keep each source's top-``SRC_QUOTA`` docs
    by (quality DESC, doc_id ASC) — the anti-domination gate that stops
    one crawler/domain from swamping a training mix (C4/RefinedWeb-style
    source balancing).

    Two-phase top-Q so no source is ever fully sorted in one task:
    phase 1 ranks within (source, doc_id % N_QUOTA_SALTS) — a doc's
    salted rank is ≤ its true per-source rank, so local rank ≤ Q keeps
    a superset of every true top-Q doc while discarding the bulk of a
    hot source map-side; phase 2 ranks the ≤ SALTS·Q survivors per
    source.  The phase-2 window therefore touches a CONSTANT number of
    rows per source at any corpus size — a 10-billion-doc domain costs
    the same final sort as a 100-doc one."""
    docs = load_table(spark, "documents", sf_dir)
    scored = docs.select(
        "doc_id",
        "source",
        quality_score(F.coalesce(F.col("text"), F.lit(""))).alias("quality"),
    ).withColumn(
        "__salt", F.pmod(F.col("doc_id"), F.lit(N_QUOTA_SALTS))
    )
    w1 = Window.partitionBy("source", "__salt").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    survivors = scored.withColumn("__r1", F.row_number().over(w1)).where(
        F.col("__r1") <= SRC_QUOTA
    )
    w2 = Window.partitionBy("source").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    return (
        survivors.select(
            "doc_id",
            "source",
            "quality",
            F.row_number().over(w2).cast("int").alias("src_rank"),
        )
        .where(F.col("src_rank") <= SRC_QUOTA)
    )


def _x46_sql() -> str:
    from ..plans.extensions import _QUALITY_SQL

    return f"""
WITH scored AS (
    SELECT doc_id, source, {_QUALITY_SQL} AS quality
    FROM (SELECT doc_id, source, coalesce(text, '') AS text
          FROM documents) documents),
r AS (
    SELECT doc_id, source, quality,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY quality DESC, doc_id ASC)
               AS INTEGER) AS src_rank
    FROM scored)
SELECT doc_id, source, quality, src_rank FROM r WHERE src_rank <= {SRC_QUOTA}
"""


# --- x47: weighted sampling without replacement -----------------------------
WS_SEED = "ws0"
WS_K = 25
_HASH_SPACE = float(1 << 60)  # md5_long is a 60-bit hash


def x47_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted sampling without replacement
    (Efraimidis-Spirakis exponential-sort): each doc draws a
    DETERMINISTIC uniform u from the shared 60-bit md5 hash and
    receives key = -ln(u) / w with w = its quality score; the k
    smallest keys are exactly a weighted sample without replacement.

    Hash-derived u makes the draw reproducible across runs, engines,
    and repartitionings (same property as deterministic_sample), and
    the top-k cut is orderBy+limit → TakeOrderedAndProject: per-
    partition k-row heaps, no global sort, driver merge of
    k·n_partitions rows."""
    docs = load_table(spark, "documents", sf_dir)
    scored = docs.select(
        "doc_id",
        quality_score(F.coalesce(F.col("text"), F.lit(""))).alias("quality"),
    )
    u = (
        md5_long(
            F.concat(F.lit(WS_SEED + "|"), F.col("doc_id").cast("string"))
        ).cast("double")
        + F.lit(1.0)
    ) / F.lit(_HASH_SPACE)
    # quality 0 docs get a tiny-but-positive weight: never favored,
    # never a division by zero
    key = -F.log(u) / F.greatest(F.col("quality"), F.lit(1e-6))
    return (
        scored.withColumn("__k", key)
        .orderBy(F.asc("__k"), F.asc("doc_id"))
        .limit(WS_K)
        .select("doc_id", "quality", round_fixed(F.col("__k"), 6).alias("es_key"))
    )


def _x47_sql() -> str:
    from ..plans.extensions import _QUALITY_SQL

    h = md5_long_sql(f"concat('{WS_SEED}', '|', CAST(doc_id AS VARCHAR))")
    return f"""
WITH scored AS (
    SELECT doc_id, {_QUALITY_SQL} AS quality
    FROM (SELECT doc_id, coalesce(text, '') AS text FROM documents) documents),
keyed AS (
    SELECT doc_id, quality,
           -ln((CAST({h} AS DOUBLE) + 1.0) / {_HASH_SPACE!r}) /
               GREATEST(quality, 0.000001) AS k
    FROM scored)
SELECT doc_id, quality, {round_fixed_sql('k', 6)} AS es_key
FROM keyed ORDER BY k ASC, doc_id ASC LIMIT {WS_K}
"""


# --- x50: source-pair n-gram Jaccard ----------------------------------------
SRC_SHINGLE_N = 3


def _source_shingles(docs: DataFrame) -> DataFrame:
    """Checkpointed DISTINCT (source, shingle) over the corpus — the
    shared source-grain kernel of x50 (exact Jaccard) and x55 (KMV
    sketch).  Shingle construction uses the shifted-slice + zip_with
    form (x45's measured 20x lesson: no per-element interpreted
    array_join); the checkpoint pins the post-distinct set so every
    consumer reads the collapsed table, not the corpus."""
    toks = tokens(casefold(F.coalesce(F.col("text"), F.lit(""))))
    t2 = F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0)))
    g2 = F.zip_with(toks, t2, lambda a, b: F.concat(a, F.lit(" "), b))
    t3 = F.slice(toks, 3, F.greatest(F.size(toks) - 2, F.lit(0)))
    g3 = F.filter(
        F.zip_with(g2, t3, lambda a, b: F.concat(a, F.lit(" "), b)),
        lambda x: x.isNotNull(),
    )
    return (
        docs.select("source", F.explode(g3).alias("shingle"))
        .distinct()
        .localCheckpoint()
    )


def x50_source_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise source-level Jaccard over distinct token
    3-shingles — "which crawls/dumps overlap, and how much" at the
    SOURCE grain (the corpus-mixture design question; doc-grain overlap
    is x01-x14's job).

    Scale shape: the corpus collapses to DISTINCT (source, shingle)
    first (hash-agg, map-side combined), pair counts come from a
    shingle-keyed self-join — candidate work is proportional to
    shingle co-occurrence, never |A|x|B| — and source sizes broadcast
    back onto the pair counts.  Shingle construction uses the
    shifted-slice + zip_with form (x45's measured 20x lesson: no
    per-element interpreted array_join).  Hot boilerplate shingles are
    the skew risk; AQE skew-join handles them, same as the LSH band
    joins."""
    docs = load_table(spark, "documents", sf_dir)
    # checkpointed kernel: sh feeds THREE consumers (both join sides and
    # the size agg) — without pinning, the corpus shingle-explode pass
    # runs three times (measured: 14 exchanges → 6)
    sh = _source_shingles(docs)
    sizes = sh.groupBy("source").agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, on="shingle")
        .where(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(
        F.col("source").alias("source_a"), F.col("n_sh").alias("n_a")
    )
    sb = sizes.select(
        F.col("source").alias("source_b"), F.col("n_sh").alias("n_b")
    )
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("n_inter").cast("bigint").alias("n_inter"),
            round_fixed(
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
        )
    )


def _x50_sql() -> str:
    from ..functions.text import CASEFOLD_SQL, TOKS_SQL
    from ..plans.quality import _ngrams_sql

    tk = TOKS_SQL.format(c=CASEFOLD_SQL.format(c="coalesce(text, '')"))
    return f"""
WITH toks AS (SELECT source, {tk} AS w FROM documents),
sh AS (
    SELECT DISTINCT source, unnest({_ngrams_sql(SRC_SHINGLE_N)}) AS shingle
    FROM toks),
sizes AS (SELECT source, COUNT(*) AS n_sh FROM sh GROUP BY source),
inter AS (
    SELECT a.source AS source_a, b.source AS source_b,
           COUNT(*) AS n_inter
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
    GROUP BY 1, 2)
SELECT i.source_a, i.source_b,
       CAST(i.n_inter AS BIGINT) AS n_inter,
       {round_fixed_sql(
           "CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter)", 6)}
           AS jaccard
FROM inter i
JOIN sizes sa ON i.source_a = sa.source
JOIN sizes sb ON i.source_b = sb.source
"""


# --- x55: KMV sketch source overlap ------------------------------------------
# K-minimum-values (bottom-k / theta) sketch: keep the K smallest hash
# values per source.  K is the sketch's whole memory footprint, so the
# cross-source comparison cost is O(sources² · K) — independent of
# corpus size — where x50's exact form pays a shingle-keyed self-join.
KMV_K = 128


def x55_kmv_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV-sketch source-overlap estimation — the sketch companion to
    x50's exact source-pair Jaccard (Apache-DataSketches-style theta
    sketch; Bar-Yossef et al. 2002, Beyer et al. 2007).  Per source,
    keep the K smallest 60-bit md5 hashes of its distinct shingles;
    for a pair (A, B), the K smallest of the union are an unbiased
    sample of A ∪ B, and the fraction of them present in BOTH sketches
    estimates |A∩B| / |A∪B| with ~1/√K error.

    The hash order is the shared md5 contract, so the sketches — and
    therefore the estimates — are DETERMINISTIC and hash-compared
    exactly against the oracle (the accuracy-vs-x50 bound is pinned in
    tests/test_sketch.py, where the exact join is affordable).

    Shape at 100 TB: the corpus-grain work is the same one distinct
    (source, shingle) hash-agg x50 pays; everything after is sketch-
    sized — one source-keyed window over it (per-source top-K by hash)
    collapses each source to K rows, and the pair stage touches only
    S·K rows (model-artifact-sized BY CONSTRUCTION, at any corpus
    size), so its broadcast pair join never grows."""
    docs = load_table(spark, "documents", sf_dir)
    sh = _source_shingles(docs).where(F.col("source").isNotNull())
    hashed = sh.select("source", md5_long(F.col("shingle")).alias("h"))
    w = Window.partitionBy("source").orderBy(F.asc("h"))
    kmv = (
        hashed.withColumn("__r", F.row_number().over(w))
        .where(F.col("__r") <= KMV_K)
        .select("source", "h")
        # sketch feeds the pair table and both membership sides
        .localCheckpoint()
    )
    srcs = kmv.select("source").distinct()
    pairs = (
        srcs.select(F.col("source").alias("source_a"))
        .crossJoin(srcs.select(F.col("source").alias("source_b")))
        .where(F.col("source_a") < F.col("source_b"))
    )
    # membership per (pair, hash): kmv is S·K rows → broadcast; the
    # IN-pair predicate compiles to a broadcast nested loop over two
    # constant-sized frames (this is sketch algebra, not corpus work)
    mem = (
        pairs.join(
            F.broadcast(kmv),
            (F.col("source") == F.col("source_a"))
            | (F.col("source") == F.col("source_b")),
        )
        .groupBy("source_a", "source_b", "h")
        .agg(
            F.max((F.col("source") == F.col("source_a")).cast("int")).alias(
                "in_a"
            ),
            F.max((F.col("source") == F.col("source_b")).cast("int")).alias(
                "in_b"
            ),
        )
    )
    pw = Window.partitionBy("source_a", "source_b").orderBy(F.asc("h"))
    top = mem.withColumn("__r", F.row_number().over(pw)).where(
        F.col("__r") <= KMV_K
    )
    return top.groupBy("source_a", "source_b").agg(
        F.count("*").cast("bigint").alias("k_used"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("bigint").alias("matches"),
        round_fixed(
            F.sum(F.col("in_a") * F.col("in_b")).cast("double")
            / F.count("*"),
            6,
        ).alias("est_jaccard"),
    )


def _x55_sql() -> str:
    from ..functions.text import CASEFOLD_SQL, TOKS_SQL
    from ..plans.quality import _ngrams_sql

    tk = TOKS_SQL.format(c=CASEFOLD_SQL.format(c="coalesce(text, '')"))
    h = md5_long_sql("shingle")
    return f"""
WITH toks AS (SELECT source, {tk} AS w FROM documents),
sh AS (
    SELECT DISTINCT source, unnest({_ngrams_sql(SRC_SHINGLE_N)}) AS shingle
    FROM toks WHERE source IS NOT NULL),
hashed AS (SELECT source, {h} AS h FROM sh),
kmv AS (SELECT source, h FROM (
            SELECT source, h,
                   ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS r
            FROM hashed) WHERE r <= {KMV_K}),
srcs AS (SELECT DISTINCT source FROM kmv),
pairs AS (SELECT a.source AS source_a, b.source AS source_b
          FROM srcs a JOIN srcs b ON a.source < b.source),
mem AS (SELECT p.source_a, p.source_b, k.h,
               MAX(CASE WHEN k.source = p.source_a THEN 1 ELSE 0 END) AS in_a,
               MAX(CASE WHEN k.source = p.source_b THEN 1 ELSE 0 END) AS in_b
        FROM pairs p JOIN kmv k
          ON k.source = p.source_a OR k.source = p.source_b
        GROUP BY 1, 2, 3),
top AS (SELECT *, ROW_NUMBER() OVER (
            PARTITION BY source_a, source_b ORDER BY h) AS r
        FROM mem)
SELECT source_a, source_b,
       CAST(COUNT(*) AS BIGINT) AS k_used,
       CAST(SUM(in_a * in_b) AS BIGINT) AS matches,
       {round_fixed_sql("CAST(SUM(in_a * in_b) AS DOUBLE) / COUNT(*)", 6)}
           AS est_jaccard
FROM top WHERE r <= {KMV_K}
GROUP BY 1, 2
"""


def x52_source_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality calibration: a raw quality score is not
    comparable ACROSS sources (a mid-tier academic page outscores a
    top-tier forum post), so mixture builders select on the quality
    PERCENTILE WITHIN each source.  percent_rank over (source) plus
    the corpus-wide percentile for reference; RANK-based, so ties get
    identical values in both engines and no float summation is
    involved — the only doubles are the two (n-1)-denominator
    divisions, bit-identical by construction.

    Scale: one window shuffle keyed by source (hot sources are a
    ranking, not a running aggregate — percent_rank needs only (rank,
    count), both computable per-partition-group).  The corpus-wide
    percentile is NOT a global ``Window.orderBy`` (that is a
    single-partition sort of every document — the scale cliff the r6
    verdict flagged): it runs on the same monotone-shard two-phase
    kernel as x33/x34/x39 — shard by ``floor(quality·32)`` (monotone
    NON-DECREASING in quality, so shard order extends the global ASC
    order and quality ties never cross shards), row_number within each
    shard, then add per-shard row offsets from a driver-sized collect
    of the ≤ n_shards-row count aggregate (joined back broadcast).
    (quality, doc_id) is a total order (doc_id unique), so RANK ==
    ROW_NUMBER and percent_rank = (global_rank − 1) / (n − 1) exactly;
    n rides the same offsets table."""
    docs = load_table(spark, "documents", sf_dir)
    scored = docs.select(
        "doc_id",
        "source",
        quality_score(F.coalesce(F.col("text"), F.lit(""))).alias("quality"),
    )
    w_src = Window.partitionBy("source").orderBy(
        F.asc("quality"), F.asc("doc_id")
    )
    # two-phase global rank: quality ∈ [0,1] by construction, shard is
    # monotone in the window's leading key
    qshard = F.least(
        F.floor(F.col("quality") * N_QSHARDS), F.lit(N_QSHARDS - 1)
    ).cast("long")
    base = scored.withColumn("__shard", qshard)
    w_local = Window.partitionBy("__shard").orderBy(
        F.asc("quality"), F.asc("doc_id")
    )
    # ≤ n_shards rows — the whole sequential fraction of this plan is
    # the triangular offset join (operators.ids.shard_offsets): no
    # unpartitioned WindowExec at any scale, and — unlike the r7
    # collect() form — the offsets re-derive from the live table on
    # every execution, so a re-evaluated plan can never rank against a
    # stale plan-build-time snapshot
    counts = base.groupBy("__shard").agg(F.count("*").alias("__n"))
    offsets = shard_offsets(counts, "__shard", {"__n": "__off"}).crossJoin(
        F.broadcast(counts.agg(F.sum("__n").alias("__total")))
    )
    ranked = base.withColumn("__rank", F.row_number().over(w_local))
    return (
        ranked.join(F.broadcast(offsets), "__shard")
        .select(
            "doc_id",
            "source",
            "quality",
            round_fixed(F.percent_rank().over(w_src), 6).alias(
                "pct_in_source"
            ),
            round_fixed(
                F.when(F.col("__total") > 1,
                       (F.col("__off") + F.col("__rank") - F.lit(1))
                       / (F.col("__total") - F.lit(1)))
                .otherwise(F.lit(0.0)),
                6,
            ).alias("pct_global"),
        )
    )


def _x52_sql() -> str:
    from ..plans.extensions import _QUALITY_SQL

    return f"""
WITH scored AS (
    SELECT doc_id, source, {_QUALITY_SQL} AS quality
    FROM (SELECT doc_id, source, coalesce(text, '') AS text
          FROM documents) documents)
SELECT doc_id, source, quality,
       {round_fixed_sql(
           "PERCENT_RANK() OVER ("
           "PARTITION BY source ORDER BY quality ASC, doc_id ASC)", 6)}
           AS pct_in_source,
       {round_fixed_sql(
           "PERCENT_RANK() OVER (ORDER BY quality ASC, doc_id ASC)", 6)}
           AS pct_global
FROM scored
"""


SELECTION_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "x32_canonical_docs": x32_canonical_docs,
    "x33_token_budget_select": x33_token_budget_select,
    "x34_epoch_shuffle": x34_epoch_shuffle,
    "x35_incremental_dedup": x35_incremental_dedup,
    "x36_mixture_sample": x36_mixture_sample,
    "st06_streaming_incremental_dedup": st06_streaming_incremental_dedup,
    "x37_leakage_safe_split": x37_leakage_safe_split,
    "x38_chunk_documents": x38_chunk_documents,
    "x39_vocab_coverage": x39_vocab_coverage,
    "x44_snapshot_diff": x44_snapshot_diff,
    "x46_source_quota": x46_source_quota,
    "x47_weighted_sample": x47_weighted_sample,
    "x50_source_similarity": x50_source_similarity,
    "x52_source_calibration": x52_source_calibration,
    "x55_kmv_source_overlap": x55_kmv_source_overlap,
}

SELECTION_ORACLE: dict[str, str] = {
    "x32_canonical_docs": _x32_sql(),
    "x33_token_budget_select": _x33_sql(),
    "x34_epoch_shuffle": _x34_sql(),
    "x35_incremental_dedup": _x35_sql(),
    "x36_mixture_sample": _x36_sql(),
    "st06_streaming_incremental_dedup": _x35_sql(),
    "x37_leakage_safe_split": _x37_sql(),
    "x38_chunk_documents": _x38_sql(),
    "x39_vocab_coverage": _x39_sql(),
    "x44_snapshot_diff": _x44_sql(),
    "x46_source_quota": _x46_sql(),
    "x47_weighted_sample": _x47_sql(),
    "x50_source_similarity": _x50_sql(),
    "x52_source_calibration": _x52_sql(),
    "x55_kmv_source_overlap": _x55_sql(),
}
