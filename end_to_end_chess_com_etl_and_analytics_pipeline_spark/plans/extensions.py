"""Driver contract, part 2: training-data pipeline extension queries.

The operators a large-scale LLM-training-data pipeline needs beyond the
reference's own surface (BASELINE.json north star): deduplication (exact,
MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine), similarity
search, text analysis, and windowed/sessionized event aggregation — each
as a (Spark query, DuckDB oracle SQL) pair over the ``documents`` /
``embeddings`` / ``events`` fixtures.

Everything is DuckDB-recomputable because the hash contract is shared
md5 (functions.hashing) and rounding is scale-0 (functions.rounding).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import (
    MINHASH_H_MOD,
    MINHASH_PRIME,
    SHINGLE_COMBINE_B,
    md5_long_sql,
    minhash_coeffs,
)
from ..functions.rounding import round_fixed, round_fixed_sql
from ..functions.text import (
    STOPWORDS,
    bpe_ish_token_count,
    casefold,
    fingerprint,
    punct_ratio,
    tokens,
)
from ..functions.vectors import cosine_sql, usable_vec_sql
from ..operators.dedup import (
    embedding_near_dup_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signature_table,
    ngram_jaccard_pairs,
    simhash_signatures,
)
from ..operators.similarity import brute_force_topk, ivf_topk, mmr_rerank
from ..operators.windows import sessionize, sliding_agg, tumbling_agg
from ..sources.tables import load_table, raw_row_count, read_parquet_noinfer
from ..session import local_df, persisted_index, run_concurrently, scratch_dir
from .quality import x45_build_model, x45_serving_frame

# ---------------------------------------------------------------------------
# shared oracle-SQL building blocks
# ---------------------------------------------------------------------------

# sanitized embeddings sources (NaN/Inf/zero-vector contract — see
# functions.vectors.usable_vec): the cosine family reads _EMB_USABLE,
# kmeans/quantization read _EMB_FINITE
_EMB_USABLE = f"(SELECT * FROM embeddings WHERE {usable_vec_sql('embedding')})"
_EMB_FINITE = (
    f"(SELECT * FROM embeddings"
    f" WHERE {usable_vec_sql('embedding', require_nonzero=False)})"
)

# whitespace tokenization with empties dropped — single-sourced next to
# its Spark twin (functions.text.tokens)
from ..functions.text import TOKS_SQL as _TOKS_SQL  # noqa: E402
from ..functions.text import BPE_EXTRACT_SQL as _BPE_EXTRACT_SQL  # noqa: E402
from ..functions.text import CASEFOLD_SQL as _CASEFOLD_SQL  # noqa: E402


def _shingle_cte(n: int, table: str = "documents") -> str:
    """CTE producing DISTINCT (doc_id, shingle) word n-grams, mirroring
    functions.text.word_shingles (short docs yield one whole-text shingle)."""
    toks = _TOKS_SQL.format(c="text")
    return f"""
toks AS (SELECT doc_id, {toks} AS w FROM {table}),
shingled AS (
    SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id, unnest(
            -- coalesce: DuckDB array_to_string([]) is NULL, Spark
            -- array_join(empty) is '' (the r4 x13 sweep lesson)
            CASE WHEN len(w) < {n} THEN [coalesce(array_to_string(w, ' '), '')]
                 ELSE list_transform(
                     range(1, CAST(len(w) AS BIGINT) - {n - 2}),
                     i -> array_to_string(
                         w[CAST(i AS INTEGER):CAST(i + {n - 1} AS INTEGER)], ' '))
            END) AS shingle
        FROM toks))
"""


_FINGERPRINT_SQL = md5_long_sql(
    _CASEFOLD_SQL.format(c="regexp_replace(trim(text), '\\s+', ' ', 'g')")
)

_MINHASH_N, _MINHASH_SHINGLE, _MINHASH_BANDS = 8, 3, 4


def _minhash_sig_cte() -> str:
    """CTE ``sig`` = (doc_id, seed, minhash), mirroring
    operators.dedup.minhash_signature_table: one md5 per *token*
    (30-bit), shingle hash = polynomial combine of consecutive token
    hashes mod 2^31-1, then the (a_i*h + b_i) mod p universal family per
    seed — all constants shared with functions.hashing.

    DuckDB's list_reduce has no initial accumulator, but
    f(x, y) = (x*B + y) mod p satisfies f(0, x) = x, so the fold over
    [h1..hk] equals the zero-initialized polynomial exactly."""
    a_co, b_co = minhash_coeffs(_MINHASH_N)
    a_arr = "[" + ",".join(str(a) for a in a_co) + "]"
    b_arr = "[" + ",".join(str(b) for b in b_co) + "]"
    k = _MINHASH_SHINGLE
    th = md5_long_sql("t")
    fold = f"(acc, h) -> (acc * {SHINGLE_COMBINE_B} + h) % {MINHASH_PRIME}"
    toks = _TOKS_SQL.format(c="text")
    return f"""
th AS (
    SELECT doc_id,
           list_transform({toks}, t -> {th} % {MINHASH_H_MOD}) AS ths
    FROM documents),
hs AS (
    SELECT doc_id, unnest(
        CASE WHEN len(ths) = 0 THEN [CAST(0 AS BIGINT)]
             WHEN len(ths) < {k} THEN [list_reduce(ths, {fold})]
             ELSE list_transform(
                 range(1, CAST(len(ths) AS BIGINT) - {k - 2}),
                 i -> list_reduce(
                     ths[CAST(i AS INTEGER):CAST(i + {k - 1} AS INTEGER)],
                     {fold}))
        END) AS h
    FROM th),
sig AS (
    SELECT doc_id, CAST(s.seed AS INTEGER) AS seed,
           MIN(({a_arr}[CAST(s.seed AS INTEGER) + 1] * h
                + {b_arr}[CAST(s.seed AS INTEGER) + 1]) % {MINHASH_PRIME}) AS minhash
    FROM hs, range(0, {_MINHASH_N}) s(seed)
    GROUP BY doc_id, s.seed)
"""


# ---------------------------------------------------------------------------
# dedup family
# ---------------------------------------------------------------------------


def x01_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one shuffle on a uniform 60-bit fingerprint of the
    normalized text; keeps the lowest doc_id per group."""
    # spread=False: one fingerprint hash then a map-side-combined
    # groupBy — the exchange a spread inserts costs more than the map
    # work it would parallelize.
    return exact_dedup(load_table(spark, "documents", sf_dir, spread=False))


_X01_SQL = f"""
SELECT {_FINGERPRINT_SQL} AS fp, MIN(doc_id) AS keep_id, COUNT(*) AS dup_count
FROM documents GROUP BY 1
"""


def x02_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (long shape): 8 seeded md5 hash fns over
    distinct word 3-gram shingles."""
    return minhash_signature_table(
        load_table(spark, "documents", sf_dir),
        num_hashes=_MINHASH_N,
        shingle_len=_MINHASH_SHINGLE,
    )


_X02_SQL = f"WITH {_minhash_sig_cte()} SELECT doc_id, seed, minhash FROM sig"


def x03_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding over the MinHash signatures: candidate near-dup pairs
    are docs sharing any band signature (4 bands × 2 rows).  The shuffle
    key is the band hash — bucket-local candidate generation, never
    O(n²) global."""
    return minhash_lsh_pairs(
        load_table(spark, "documents", sf_dir),
        num_hashes=_MINHASH_N,
        bands=_MINHASH_BANDS,
        shingle_len=_MINHASH_SHINGLE,
    )


_X03_SQL = f"""
WITH {_minhash_sig_cte()},
banded AS (
    SELECT doc_id, CAST(seed // {_MINHASH_N // _MINHASH_BANDS} AS INTEGER) AS band,
           minhash
    FROM sig),
band_sig AS (
    SELECT doc_id, band,
           md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY minhash)) AS band_key
    FROM banded GROUP BY doc_id, band)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM band_sig a JOIN band_sig b
  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
"""


def x04_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-2-gram Jaccard over a deterministic candidate set
    (every 50th doc, pairwise) — the verify stage of an LSH pipeline."""
    docs = load_table(spark, "documents", sf_dir)
    sampled = docs.where(F.col("doc_id") % 50 == 0).select("doc_id")
    cand = (
        sampled.select(F.col("doc_id").alias("id_a"))
        .crossJoin(sampled.select(F.col("doc_id").alias("id_b")))
        .where(F.col("id_a") < F.col("id_b"))
    )
    return ngram_jaccard_pairs(
        docs, shingle_len=2, threshold=0.0, candidates=cand
    )


_X04_SQL = f"""
WITH {_shingle_cte(2)},
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingled GROUP BY doc_id),
cand AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM documents a, documents b
    WHERE a.doc_id % 50 = 0 AND b.doc_id % 50 = 0 AND a.doc_id < b.doc_id),
inter AS (
    SELECT c.id_a, c.id_b, COUNT(*) AS n_common
    FROM cand c
    JOIN shingled sa ON sa.doc_id = c.id_a
    JOIN shingled sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
    GROUP BY c.id_a, c.id_b)
SELECT i.id_a, i.id_b,
       {round_fixed_sql('CAST(n_common AS DOUBLE) / (za.n_sh + zb.n_sh - n_common)', 6)} AS jaccard
FROM inter i
JOIN sizes za ON za.doc_id = i.id_a
JOIN sizes zb ON zb.doc_id = i.id_b
WHERE CAST(n_common AS DOUBLE) / (za.n_sh + zb.n_sh - n_common) >= 0.0
"""


def x05_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash signatures from per-token 60-bit hashes."""
    return simhash_signatures(load_table(spark, "documents", sf_dir), bits=32)


_X05_SQL = f"""
WITH toks AS (
    SELECT doc_id, unnest({_TOKS_SQL.format(c=_CASEFOLD_SQL.format(c='text'))}) AS tok
    FROM documents),
hashed AS (SELECT doc_id, {md5_long_sql('tok')} AS h FROM toks),
bits AS (
    SELECT doc_id, CAST(r.i AS INTEGER) AS bit,
           SUM(CASE WHEN ((h >> CAST(r.i AS INTEGER)) & 1) = 1 THEN 1 ELSE -1 END) AS s
    FROM hashed, range(0, 32) r(i)
    GROUP BY doc_id, r.i)
SELECT doc_id,
       CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT)
           AS simhash
FROM bits GROUP BY doc_id
"""


def x06_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cos ≥ 0.2) over a bounded id
    range — the exact-verify kernel; the scale path pre-buckets by IVF
    cell (operators.similarity)."""
    emb = load_table(spark, "embeddings", sf_dir).where(F.col("vec_id") < 200)
    return embedding_near_dup_pairs(emb, threshold=0.2)


_X06_SQL = f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       {round_fixed_sql(cosine_sql('a.embedding', 'b.embedding'), 6)} AS cos
FROM {_EMB_USABLE} a, {_EMB_USABLE} b
WHERE a.vec_id < 200 AND b.vec_id < 200 AND a.vec_id < b.vec_id
  AND {round_fixed_sql(cosine_sql('a.embedding', 'b.embedding'), 6)} >= 0.2
"""


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------


def x07_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for 8 query vectors: broadcast queries ×
    one corpus pass, deterministic tie-break on candidate id."""
    emb = load_table(spark, "embeddings", sf_dir)
    return brute_force_topk(emb, emb.where(F.col("vec_id") < 8), k=5)


_X07_SQL = f"""
WITH scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
           {round_fixed_sql(cosine_sql('q.embedding', 'c.embedding'), 6)} AS cos
    FROM {_EMB_USABLE} q, {_EMB_USABLE} c
    WHERE q.vec_id < 8 AND c.vec_id != q.vec_id),
ranked AS (
    SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) AS INTEGER) AS rank
    FROM scored)
SELECT query_id, cand_id, cos, rank FROM ranked WHERE rank <= 5
"""


def x12_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate top-k: corpus vectors bucketed by nearest
    coarse centroid, queries probe their 2 nearest cells only — the
    100 TB scale path where each query scans ~nprobe/n_cells of the
    corpus instead of all of it.

    The coarse centroids are every ``stride``-th embedding with
    ``stride = max(50, ceil(n/100))`` — i.e. the cell count is CAPPED
    (~100) regardless of corpus size.  Deriving centroids with a fixed
    modulus instead makes the cell count grow linearly with the corpus
    and the assignment cost O(n·cells) = O(n²) — measured 8.8× runtime
    at 10× data before this cap (tools/scale_probe.py); with the cap
    assignment is O(n·100), linear.  The floor of 50 keeps both fixture
    scales on their original centroid sets.  The count() powering the
    stride is a metadata-cheap scalar, the same corpus-size input a
    real IVF build uses to size its codebook."""
    import math
    import os

    from ..functions.vectors import usable_vec

    # usable vectors only (finite, nonzero — the cosine contract); the
    # SIZING count below stays raw on purpose: it is a metadata-cheap
    # codebook-size heuristic, not a semantics input
    emb = load_table(spark, "embeddings", sf_dir).where(
        usable_vec(F.col("embedding"))
    )
    n = raw_row_count(spark, os.path.join(sf_dir, "embeddings.parquet"))
    stride = max(50, math.ceil(n / 100))
    centroids = emb.where(F.col("vec_id") % stride == 3).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid")
    )
    return ivf_topk(
        emb, emb.where(F.col("vec_id") < 8), centroids, k=5, nprobe=2
    )


_IVF_CELL_COS = round_fixed_sql(cosine_sql("e.embedding", "c.centroid"), 6)

# stride must be the SAME arithmetic as x12_ivf_topk: max(50, ceil(n/100))
_IVF_STRIDE_SQL = (
    "(SELECT GREATEST(CAST(CEIL(COUNT(*) / 100.0) AS BIGINT), 50) "
    "FROM embeddings)"
)

_X12_SQL = f"""
WITH cent AS (
    SELECT vec_id AS centroid_id, embedding AS centroid
    FROM {_EMB_USABLE} emb_c WHERE vec_id % {_IVF_STRIDE_SQL} = 3),
cells AS (
    SELECT vec_id, embedding, centroid_id AS cell FROM (
        SELECT e.vec_id, e.embedding, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                   ORDER BY {_IVF_CELL_COS} DESC, c.centroid_id ASC) AS rn
        FROM {_EMB_USABLE} e, cent c) WHERE rn = 1),
qcells AS (
    SELECT vec_id AS query_id, embedding AS qv, centroid_id AS cell FROM (
        SELECT e.vec_id, e.embedding, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                   ORDER BY {_IVF_CELL_COS} DESC, c.centroid_id ASC) AS rn
        FROM {_EMB_USABLE} e, cent c WHERE e.vec_id < 8) WHERE rn <= 2),
scored AS (
    SELECT q.query_id, ce.vec_id AS cand_id,
           {round_fixed_sql(cosine_sql("q.qv", "ce.embedding"), 6)} AS cos
    FROM qcells q JOIN cells ce ON q.cell = ce.cell AND ce.vec_id != q.query_id),
ranked AS (
    SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) AS INTEGER) AS rank
    FROM scored)
SELECT query_id, cand_id, cos, rank FROM ranked WHERE rank <= 5
"""


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


def x08_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text statistics: token counts (whitespace + BPE-ish
    regex), word-length/punctuation/stopword ratios, composite quality
    score, heuristic language ID, fingerprint — zero Python in the loop.

    Staged projection: the text is tokenized ONCE into intermediate
    array columns (multi-referenced expensive aliases, which
    CollapseProject keeps materialized), and every stat derives from
    them — instead of each stat expression re-running split+filter over
    the raw text.  Semantics identical to the functions.text building
    blocks (same SQL oracle).

    Cost note (r2 bench regression investigated in r4, sf0.1=5000 docs):
    the stages cost ~0.19s tokens / 0.22s BPE-ish count / 0.16s punct /
    0.19s fingerprint / 0.46s stopword hits.  A packed-lane map-lookup
    rewrite of the stopword stage measured 0.45s — no gain, because
    Spark interprets higher-order functions and the per-token lambda
    invocation, not the comparison count, is the floor.  The non-HOF
    alternative (explode + broadcast-join a stopword table + re-group)
    adds a corpus-wide shuffle; this stays a single scan-local
    projection, which is the right trade at 100 TB."""
    from ..functions.text import tokens

    # NULL text ≡ empty text for ANALYSIS ops (the dedup family instead
    # EXCLUDES NULL docs — see operators.dedup._shingle_hash_df): every
    # doc keeps a stats row, and both engines agree on '' semantics
    docs = load_table(spark, "documents", sf_dir).withColumn(
        "text", F.coalesce(F.col("text"), F.lit(""))
    )
    def _hits(words: list[str]):
        sw = F.array(*[F.lit(w) for w in words])
        return F.size(F.filter(F.col("__ltoks"), lambda t: F.array_contains(sw, t)))

    sw_hits = {lang: _hits(words) for lang, words in STOPWORDS.items()}
    staged = docs.select(
        "doc_id",
        "text",
        tokens("text").alias("__toks"),
        tokens(casefold(F.col("text"))).alias("__ltoks"),
    ).select(
        "doc_id",
        F.size("__toks").alias("n_tokens"),
        bpe_ish_token_count("text").alias("n_bpe_tokens"),
        F.when(F.size("__toks") == 0, F.lit(0.0))
        .otherwise(
            F.aggregate(
                F.col("__toks"), F.lit(0), lambda acc, t: acc + F.length(t)
            ).cast("double")
            / F.size("__toks")
        )
        .alias("avg_wlen"),
        punct_ratio("text").alias("punct_ratio"),
        *[sw_hits[lang].alias(f"__hits_{lang}") for lang in STOPWORDS],
        fingerprint("text").alias("fp"),
    )
    stop_ratio_c = F.when(F.col("n_tokens") == 0, F.lit(0.0)).otherwise(
        F.col("__hits_en").cast("double") / F.col("n_tokens")
    )
    len_score = F.least(F.col("n_tokens").cast("double") / F.lit(50.0), F.lit(1.0))
    punct_penalty = F.lit(1.0) - F.least(F.col("punct_ratio") * 5, F.lit(1.0))
    sw_score = F.lit(1.0) - F.least(
        F.abs(stop_ratio_c - F.lit(0.1)) * 4, F.lit(1.0)
    )
    best, best_score = F.lit("und"), F.lit(0)
    for lang in STOPWORDS:  # first-listed language wins ties via strict >
        is_better = F.col(f"__hits_{lang}") > best_score
        best = F.when(is_better, F.lit(lang)).otherwise(best)
        best_score = F.when(is_better, F.col(f"__hits_{lang}")).otherwise(best_score)
    return staged.select(
        "doc_id",
        "n_tokens",
        "n_bpe_tokens",
        "avg_wlen",
        "punct_ratio",
        stop_ratio_c.alias("stop_ratio"),
        round_fixed((len_score + punct_penalty + sw_score) / 3, 6).alias("quality"),
        best.alias("lang_guess"),
        "fp",
    )


def _sw_array(lang: str) -> str:
    return "[" + ", ".join(f"'{w}'" for w in STOPWORDS[lang]) + "]"


def _sw_hits(lang: str) -> str:
    return (
        f"len(list_filter({_TOKS_SQL.format(c=_CASEFOLD_SQL.format(c='text'))},"
        f" t -> list_contains({_sw_array(lang)}, t)))"
    )


_N_TOKS = f"len({_TOKS_SQL.format(c='text')})"
# empty-text guards mirror the Spark expressions exactly (punct_ratio
# and stop_ratio are defined 0.0 on empty docs — a NULLIF here would
# NULL the whole score instead; found by the NULL-injected sweep)
_PUNCT_RATIO_SQL = (
    "CASE WHEN length(text) = 0 THEN 0.0"
    " ELSE CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE)"
    " / length(text) END"
)
_QUALITY_SQL = round_fixed_sql(
    "("
    f"LEAST(CAST({_N_TOKS} AS DOUBLE) / 50.0, 1.0)"
    f" + (1.0 - LEAST(({_PUNCT_RATIO_SQL}) * 5, 1.0))"
    f" + (1.0 - LEAST(ABS((CASE WHEN {_N_TOKS} = 0 THEN 0.0"
    f"   ELSE CAST({_sw_hits('en')} AS DOUBLE) / {_N_TOKS} END) - 0.1) * 4, 1.0))"
    ") / 3",
    6,
)

_X08_SQL = f"""
SELECT doc_id,
       CAST({_N_TOKS} AS INTEGER) AS n_tokens,
       CAST(len({_BPE_EXTRACT_SQL.format(c='text')}) AS INTEGER)
           AS n_bpe_tokens,
       CASE WHEN {_N_TOKS} = 0 THEN 0.0
            ELSE CAST(list_sum(list_transform({_TOKS_SQL.format(c='text')}, t -> length(t))) AS DOUBLE)
                 / {_N_TOKS} END AS avg_wlen,
       CASE WHEN length(text) = 0 THEN 0.0
            ELSE CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE)
                 / length(text) END AS punct_ratio,
       CASE WHEN {_N_TOKS} = 0 THEN 0.0
            ELSE CAST({_sw_hits('en')} AS DOUBLE) / {_N_TOKS} END AS stop_ratio,
       {_QUALITY_SQL} AS quality,
       CASE WHEN GREATEST({_sw_hits('en')}, {_sw_hits('de')}, {_sw_hits('fr')}, {_sw_hits('es')}) = 0 THEN 'und'
            WHEN {_sw_hits('en')} = GREATEST({_sw_hits('en')}, {_sw_hits('de')}, {_sw_hits('fr')}, {_sw_hits('es')}) THEN 'en'
            WHEN {_sw_hits('de')} = GREATEST({_sw_hits('en')}, {_sw_hits('de')}, {_sw_hits('fr')}, {_sw_hits('es')}) THEN 'de'
            WHEN {_sw_hits('fr')} = GREATEST({_sw_hits('en')}, {_sw_hits('de')}, {_sw_hits('fr')}, {_sw_hits('es')}) THEN 'fr'
            ELSE 'es' END AS lang_guess,
       {_FINGERPRINT_SQL} AS fp
FROM (SELECT doc_id, coalesce(text, '') AS text FROM documents) documents
"""


# ONE source of truth for the SRP-LSH geometry: the Spark call and the
# DuckDB oracle both derive from these constants (a hardcoded-oracle /
# drifted-default mismatch cost x14 its round-3 parity).  r7 rebind
# (r6 verdict "What's wrong" #2): the old contract pinned 8-bit bands
# and threshold 0.2 — INSIDE the fixture's random-cosine band (p99.9 ≈
# 0.38), so output was Θ(n²) by construction and fixed-width bands made
# candidates n²/256.  Now the threshold sits above the random band and
# bits-per-band grows with log2(n) via lsh_auto_geometry — both engines
# derive bits from the SAME integer-exact usable-vector count, and the
# oracle embeds plane literals up to the _X14_MAX_BITS cap (1M vectors;
# the engine path is uncapped — the cap only bounds the oracle's SQL).
_X14_BANDS, _X14_DIM = 4, 64
_X14_MAX_BITS = 20
_X14_THRESHOLD = 0.5


def x14_embedding_lsh_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup via signed-random-projection LSH:
    hyperplane-sign signatures with corpus-sized bands-per-bit
    (lsh_auto_geometry — ceil(log2 n) bits, floored at 8, 4 bands),
    exact cosine verify on candidates only — the bucket-local scale
    path next to the brute-force kernel (x06).  Threshold 0.5 is above
    the fixture's random-cosine band (p99.9 ≈ 0.38), so output is the
    genuine near-dup set, never a quadratic slice of random pairs."""
    from ..functions.vectors import usable_vec
    from ..operators.dedup import (
        embedding_lsh_near_dup_pairs,
        lsh_auto_geometry,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    n = emb.where(usable_vec(F.col("embedding"))).count()
    n_planes, bands = lsh_auto_geometry(
        n, bands=_X14_BANDS, max_bits=_X14_MAX_BITS
    )
    return embedding_lsh_near_dup_pairs(
        emb,
        dim=_X14_DIM,
        n_planes=n_planes,
        bands=bands,
        threshold=_X14_THRESHOLD,
    )


def _x14_sql() -> str:
    """Oracle twin of the auto-geometry binding: bits-per-band comes
    from the same integer-exact formula — ``GREATEST(8, length(bin(
    GREATEST(n,2) - 1)))`` ≡ ``max(8, (max(n,2)-1).bit_length())`` —
    computed over the usable-vector count in-SQL, capped at
    _X14_MAX_BITS.  Signature bits are evaluated for every plane up to
    the cap (bands·max_bits literals, prefix-stable: srp_planes(k)[i]
    == srp_planes(k')[i] for i < min(k,k')); each band then folds only
    its first ``rpb`` bits into the band key, exactly the contiguous
    [band·rpb, band·rpb+rpb) layout embedding_lsh_near_dup_pairs
    uses."""
    from ..operators.dedup import srp_planes

    bands, dim = _X14_BANDS, _X14_DIM
    planes = srp_planes(_X14_MAX_BITS * bands, dim)
    planes_lit = (
        "["
        + ", ".join(
            "[" + ", ".join(repr(v) for v in plane) + "]" for plane in planes
        )
        + "]"
    )
    return f"""
WITH params AS (
    SELECT LEAST({_X14_MAX_BITS},
                 GREATEST(8, length(bin(GREATEST(COUNT(*), 2) - 1)))) AS rpb
    FROM {_EMB_USABLE} e),
sig AS (
    SELECT vec_id,
           list_transform({planes_lit},
               p -> CASE WHEN list_sum(list_transform(range(1, {dim + 1}),
                        i -> CAST(e.embedding[i] AS DOUBLE) * p[i])) >= 0
                    THEN 1 ELSE 0 END) AS bits
    FROM {_EMB_USABLE} e),
band_sig AS (
    SELECT s.vec_id, b.band,
           list_sum(list_transform(range(1, p.rpb + 1),
               j -> s.bits[b.band * p.rpb + j]
                    * (CAST(1 AS BIGINT) << (p.rpb - j)))) AS band_key
    FROM sig s, params p,
         (SELECT unnest(range({bands})) AS band) b),
cand AS (
    SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
    FROM band_sig a JOIN band_sig b
      ON a.band = b.band AND a.band_key = b.band_key AND a.vec_id < b.vec_id)
SELECT c.id_a, c.id_b,
       {round_fixed_sql(cosine_sql('ea.embedding', 'eb.embedding'), 6)} AS cos
FROM cand c
JOIN {_EMB_USABLE} ea ON ea.vec_id = c.id_a
JOIN {_EMB_USABLE} eb ON eb.vec_id = c.id_b
WHERE {round_fixed_sql(cosine_sql('ea.embedding', 'eb.embedding'), 6)} >= {_X14_THRESHOLD}
"""


def x13_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rabin-Karp rolling-hash document fingerprint: polynomial char
    8-gram hashes from one staged char-codes pass, winnowed to the
    h % 16 == 0 subset (content-defined sketch, stable under edits
    elsewhere in the doc)."""
    from ..operators.dedup import rolling_fingerprint

    return rolling_fingerprint(load_table(spark, "documents", sf_dir))


from ..functions.text import (  # noqa: E402  (shared Rabin-Karp constants)
    ROLLING_B as _RK_B,
    ROLLING_K as _RK_K,
    ROLLING_P as _RK_P,
    ROLLING_W as _RK_W,
)

_X13_SQL = f"""
WITH kh AS (
    SELECT doc_id,
           list_transform(range(1, GREATEST(length(text) - {_RK_K - 1}, 0) + 1),
               i -> list_reduce(
                        list_transform(range(0, {_RK_K}),
                            j -> CAST(ascii(substring(text, CAST(i + j AS INTEGER), 1)) AS BIGINT)),
                        (acc, c) -> (acc * {_RK_B} + c) % {_RK_P})) AS hs
    FROM documents),
sel AS (
    SELECT doc_id,
           list_sort(list_distinct(list_filter(hs, h -> h % {_RK_W} = 0))) AS s
    FROM kh)
SELECT doc_id, CAST(len(s) AS INTEGER) AS n_grams,
       md5(coalesce(array_to_string(s, ','), '')) AS fp_sketch
FROM sel
"""


def x15_skew_salted_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key counting under skew: events has a handful of event_type
    values (every one is a hot key), so the count runs as (key, salt)
    partials then key totals — no reducer ever sees a whole key.  The
    oracle is the plain GROUP BY, proving the two-phase plan is
    semantics-preserving."""
    from ..operators.skew import two_phase_count

    return two_phase_count(load_table(spark, "events", sf_dir), ["event_type"])


_X15_SQL = "SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type"


def x24_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The salted-join path end-to-end: every events row carries one of a
    handful of event_type values (maximal key skew), so the plain join
    would funnel each key through one reducer.  ``salted_join`` spreads
    each hot key over 8 (key, salt) buckets with the dim replicated per
    salt.  The dim is derived deterministically from the type itself, so
    the oracle is the equivalent plain join — proving the salted plan is
    row-identical (no loss, no duplication)."""
    from ..operators.skew import salted_join

    events = load_table(spark, "events", sf_dir).select(
        "event_id", "user_id", "event_type"
    )
    type_dim = events.select("event_type").distinct().select(
        "event_type",
        F.upper("event_type").alias("type_label"),
        F.length("event_type").alias("type_len"),
    )
    return salted_join(events, type_dim, ["event_type"], salt_buckets=8)


_X24_SQL = """
WITH type_dim AS (
    SELECT DISTINCT event_type,
           UPPER(event_type) AS type_label,
           CAST(LENGTH(event_type) AS INTEGER) AS type_len
    FROM events)
SELECT e.event_id, e.user_id, e.event_type, d.type_label, d.type_len
FROM events e JOIN type_dim d ON e.event_type = d.event_type
"""


def x25_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: a different keep-rate per
    class (all purchases, half the clicks, a tenth of the views, a
    quarter of everything else), decided by the cross-engine md5 bucket
    of the row key — reproducible across runs, engines and partition
    layouts, unlike ``df.sample``/``sampleBy``.  Zero-shuffle projection
    + filter; the training-data curation primitive for rebalancing
    class-skewed corpora."""
    from ..operators.sampling import split_bucket

    rate = (
        F.when(F.col("event_type") == "purchase", 100)
        .when(F.col("event_type") == "click", 50)
        .when(F.col("event_type") == "view", 10)
        .otherwise(25)
    )
    return (
        load_table(spark, "events", sf_dir)
        .select("event_id", "user_id", "event_type")
        .where(split_bucket(F.col("event_id"), "strat0") < rate)
    )


def _x25_sql() -> str:
    from ..operators.sampling import split_bucket_sql

    bucket = split_bucket_sql("event_id", "strat0")
    return f"""
SELECT event_id, user_id, event_type FROM events
WHERE {bucket} < CASE event_type WHEN 'purchase' THEN 100
                                 WHEN 'click' THEN 50
                                 WHEN 'view' THEN 10
                                 ELSE 25 END
"""


# ---------------------------------------------------------------------------
# temporal joins (as-of, range)
# ---------------------------------------------------------------------------


def x16_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: each event picks up the customer's most
    recent order at event time (operators.asof.asof_join — union-tag +
    one window pass, a single shuffle on the key; no per-row search).
    The right side is pre-deduped to one row per (customer, date) so
    "latest" is well-defined (max o_orderkey wins)."""
    from ..operators.asof import asof_join

    events = load_table(spark, "events", sf_dir).select("event_id", "user_id", "ts")
    orders_daily = (
        load_table(spark, "orders", sf_dir)
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").alias("order_ts"),
        )
        .agg(
            F.max("o_orderkey").alias("last_order_key"),
            F.max_by("o_totalprice", "o_orderkey").alias("last_order_price"),
        )
    )
    return asof_join(
        events,
        orders_daily,
        on=["user_id"],
        left_ts="ts",
        right_ts="order_ts",
        right_payload=["last_order_key", "last_order_price"],
    ).select("event_id", "user_id", "last_order_key", "last_order_price")


_X16_SQL = """
WITH rd AS (
    SELECT o_custkey AS user_id, o_orderdate AS order_ts,
           MAX(o_orderkey) AS last_order_key,
           max_by(o_totalprice, o_orderkey) AS last_order_price
    FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1, 2)
-- NULL-ts events carry NULL payload (CONTRACTS.md): DuckDB's ASOF
-- sorts NULLs high (a NULL probe time would match the LATEST state),
-- so NULL-ts rows are routed around the ASOF and re-attached.
SELECT e.event_id, e.user_id, rd.last_order_key, rd.last_order_price
FROM (SELECT * FROM events WHERE ts IS NOT NULL) e ASOF LEFT JOIN rd
  ON e.user_id = rd.user_id AND e.ts >= rd.order_ts
UNION ALL BY NAME
SELECT event_id, user_id,
       CAST(NULL AS BIGINT) AS last_order_key,
       CAST(NULL AS DOUBLE) AS last_order_price
FROM events WHERE ts IS NULL
"""


def x17_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution-window range join: every signup opens a 1-hour
    window; count the same user's events (any type) landing inside it —
    executed bucketed (operators.asof.bucketed_range_join): equi-join on
    (key, time bucket) + residual predicate, never a cross product.
    Sums go through integer micros so partial-agg order can't move the
    hash."""
    from ..operators.asof import bucketed_range_join

    all_events = load_table(spark, "events", sf_dir)
    events = all_events.select("event_id", "user_id", "ts", "value")
    windows = all_events.where(F.col("event_type") == "signup").select(
        "user_id",
        F.col("event_id").alias("window_id"),
        F.col("ts").alias("win_start"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("win_end"),
    )
    joined = bucketed_range_join(
        events,
        windows,
        on=["user_id"],
        left_ts="ts",
        right_start="win_start",
        right_end="win_end",
        bucket_secs=3600,
    )
    # non-finite OR micros-overflowing values contribute NULL (SUM
    # skips them, both engines); under ANSI a NaN at a plain bigint
    # cast kills the job — and so does a finite 1e300 (CAST_OVERFLOW),
    # hence try_cast, the same poison handling at both failure points
    v = F.col("value")
    micros = F.when(
        F.isnan(v) | (F.abs(v) == F.lit(float("inf"))), F.lit(None)
    ).otherwise(F.round(v * 1000000, 0).try_cast("bigint"))
    return joined.groupBy("window_id").agg(
        F.count("*").alias("n_events"),
        F.sum(micros).alias("sum_value_micros"),
    )


_X17_SQL = """
WITH w AS (
    SELECT user_id, event_id AS window_id, ts AS win_start,
           ts + INTERVAL 1 HOUR AS win_end
    FROM events WHERE event_type = 'signup')
SELECT w.window_id, COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN isnan(value) OR isinf(value) THEN NULL
                ELSE TRY_CAST(ROUND(value * 1000000, 0) AS BIGINT) END) AS BIGINT)
           AS sum_value_micros
FROM events e JOIN w
  ON e.user_id = w.user_id
 AND e.ts >= w.win_start
 AND e.ts < w.win_end
GROUP BY w.window_id
"""


# ---------------------------------------------------------------------------
# dataset splitting, term weighting, duplicate clustering, sketches
# ---------------------------------------------------------------------------

_SPLITS = {"train": 80, "val": 10, "test": 10}


def x18_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment for every document
    (operators.sampling.hash_split): md5-bucket of the doc key → 80/10/10
    contiguous ranges.  Pure projection — zero shuffles, stable across
    runs/engines/partitionings; the per-row assignment is what the
    oracle verifies (not just split sizes)."""
    from ..operators.sampling import hash_split

    # spread=False: a one-column projection with one cheap hash — no map
    # work worth parallelizing, and hash_split itself never shuffles.
    docs = load_table(spark, "documents", sf_dir, spread=False).select("doc_id")
    return hash_split(docs, key="doc_id", splits=_SPLITS)


def _x18_sql() -> str:
    from ..operators.sampling import hash_split_case_sql

    case = hash_split_case_sql("doc_id", _SPLITS)
    return f"SELECT doc_id, {case} AS split FROM documents"


def x19_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 salient terms per document by tf-idf-style rarity weighting.
    idf is kept rational (tf/df instead of tf·log(N/df)) so the score is
    a single IEEE division — bit-identical across engines, same ranking
    for fixed N — and the emitted columns are pure integers/strings.
    The exploded corpus (the 100 TB-scale intermediate) is shuffled
    exactly ONCE (the tf aggregation); df is a window count over the
    already-collapsed tf table, so the remaining two shuffles move only
    distinct (doc, token) rows — no second scan, no self-join."""
    docs = load_table(spark, "documents", sf_dir)
    exploded = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("token")
    )
    tf = exploded.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    with_df = tf.withColumn(
        "df", F.count("*").over(Window.partitionBy("token"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        (F.col("tf") * F.lit(1.0) / F.col("df")).desc(), F.col("token").asc()
    )
    return (
        with_df.select(
            "doc_id", "token", "tf", "df", F.row_number().over(w).alias("rnk")
        )
        .where(F.col("rnk") <= 3)
    )


_X19_SQL = f"""
WITH exploded AS (
    SELECT doc_id, unnest({_TOKS_SQL.format(c="text")}) AS token FROM documents),
tf AS (
    SELECT doc_id, token, COUNT(*) AS tf FROM exploded GROUP BY doc_id, token),
df AS (
    SELECT token, COUNT(*) AS df
    FROM (SELECT DISTINCT doc_id, token FROM exploded) GROUP BY token)
SELECT doc_id, token, tf, df, CAST(rnk AS INTEGER) AS rnk
FROM (
    SELECT tf.doc_id, tf.token, tf.tf, df.df,
           ROW_NUMBER() OVER (
               PARTITION BY tf.doc_id
               ORDER BY tf.tf * 1.0 / df.df DESC, tf.token ASC
           ) AS rnk
    FROM tf JOIN df ON tf.token = df.token)
WHERE rnk <= 3
"""


_X58_TOPQ, _X58_K = 8, 5


def x58_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval (operators/retrieval.py): top-5 documents
    for each of the corpus's 8 globally most frequent tokens, derived
    in-plan (total-occurrence count desc, token asc — a deterministic
    stand-in for a user query set, so the whole query is
    self-contained and oracle-checkable).  Inverted-index shape: the
    corpus shuffles ONCE into the (doc, term, tf) table (dl computed at
    scan); df comes from a groupBy over that table, joined back as a
    broadcast term table (only the DuckDB oracle phrases df as a
    window); corpus stats broadcast back as a 1-row aggregate; the
    query side is broadcast.  North-star
    extension — the reference has no retrieval surface."""
    from ..operators.retrieval import bm25_topk

    docs = load_table(spark, "documents", sf_dir)
    return bm25_topk(docs, k=_X58_K, top_terms=_X58_TOPQ)


def st11_streaming_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of x58: the BM25 index (term df table, corpus
    scalars, derived query set) is built batch-side and PERSISTED to
    parquet — the frozen artifacts — the documents arrive as a
    file-source stream (3 files → 3 micro-batches), each micro-batch's
    scores append via streaming/pipeline.py::streaming_bm25_scores, and
    the final per-query top-k ranks the appended scores.  Equal to the
    one-shot x58 by construction (a doc's scores depend only on its own
    tokens + the frozen index), so the oracle is x58's SQL."""
    import os as _os

    from ..operators.retrieval import (
        bm25_index,
        bm25_rank_topk,
        bm25_tf,
    )
    from ..streaming.pipeline import streaming_bm25_scores

    docs = load_table(spark, "documents", sf_dir)
    with scratch_dir("st11_") as root:
        # tokenize ONCE: terms, scalars, and the derived qterms are
        # three consumers of tf's tokenize+agg lineage — without
        # materialization each artifact write re-tokenized the corpus
        # (same fix as bm25_topk / write_bm25_index)
        tf = bm25_tf(docs).localCheckpoint()
        terms, scalars = bm25_index(tf)
        qterms = (
            terms.orderBy(F.col("cnt").desc(), F.col("token").asc())
            .limit(_X58_TOPQ)
            .select(F.col("token").alias("query"), "token")
        )
        paths = {
            n: _os.path.join(root, n)
            for n in ("terms", "scalars", "qterms", "batch", "scores", "ckpt")
        }
        # the four artifact writes are independent — overlap them
        run_concurrently(
            lambda: terms.write.parquet(paths["terms"]),
            lambda: scalars.write.parquet(paths["scalars"]),
            lambda: qterms.write.parquet(paths["qterms"]),
            # several arriving files → several micro-batches
            lambda: docs.repartition(3).write.parquet(paths["batch"]),
        )
        streaming_bm25_scores(
            spark,
            paths["batch"],
            paths["terms"],
            paths["scalars"],
            paths["qterms"],
            paths["scores"],
            paths["ckpt"],
        )
        return bm25_rank_topk(
            read_parquet_noinfer(spark, paths["scores"]), _X58_K
        ).localCheckpoint()


_X58_SCORE = round_fixed_sql(
    "SUM(LN(CAST(1.0 AS DOUBLE) "
    "      + (n_docs - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE)))"
    "  * (tf * CAST(2.2 AS DOUBLE))"
    "    / (tf + CAST(1.2 AS DOUBLE)"
    "         * (CAST(0.25 AS DOUBLE)"
    "            + CAST(0.75 AS DOUBLE)"
    "              * (dl / (CAST(sum_dl AS DOUBLE) / n_docs)))))",
    6,
)

def _x58_sql(query_offset: int = 0) -> str:
    """The BM25 oracle, parameterized by the rank offset of the query
    window (x58 scores the top-{_X58_TOPQ} tokens, x61 the next
    {_X58_TOPQ}) — one builder instead of a fragile string .replace
    that silently no-ops if the base SQL is ever reformatted."""
    return f"""
WITH exploded AS (
    SELECT doc_id, len(toks) AS dl, unnest(toks) AS token
    FROM (SELECT doc_id,
                 {_TOKS_SQL.format(c="coalesce(text, '')")} AS toks
          FROM documents)),
tf AS (
    SELECT doc_id, token, COUNT(*) AS tf, MIN(dl) AS dl
    FROM exploded GROUP BY doc_id, token),
enriched AS (
    SELECT doc_id, token, tf, dl,
           COUNT(*) OVER (PARTITION BY token) AS df
    FROM tf),
scalars AS (
    SELECT SUM(tf) AS sum_dl, COUNT(DISTINCT doc_id) AS n_docs FROM tf),
queries AS (
    SELECT token AS query FROM (
        SELECT token, SUM(tf) AS cnt FROM tf GROUP BY token)
    ORDER BY cnt DESC, token ASC LIMIT {_X58_TOPQ} OFFSET {query_offset}),
scored AS (
    SELECT q.query, e.doc_id, {_X58_SCORE} AS score
    FROM enriched e CROSS JOIN scalars JOIN queries q ON e.token = q.query
    GROUP BY q.query, e.doc_id)
SELECT query, doc_id, score, CAST(rnk AS INTEGER) AS rnk
FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query ORDER BY score DESC, doc_id ASC) AS rnk
    FROM scored)
WHERE rnk <= {_X58_K}
"""


_X58_SQL = _x58_sql(0)


def x61_bm25_persisted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 against a PERSISTED index (the batch path rebuilds the
    index per query batch; st11 freezes only terms/scalars).  The full
    index (operators/retrieval.py::bm25_build_index — tf range-laid-out
    by token, so scans prune row groups) and the corpus's top-16 term
    ranking are built once per session by :func:`x61_build_index`
    through ``session.persisted_index``, keyed by the documents
    table's files (path, length, modification time): a rewritten table
    rebuilds on the next call, and the index lives until the registry
    releases it or the interpreter exits.  Every call then scores the
    SECOND query batch (the terms ranked 9..16 by total count —
    disjoint from x58's top-8, proving the artifacts serve arbitrary
    later batches) via :func:`x61_serving_frame`: no re-tokenization,
    no corpus shuffle, the tf scan pushed down to ``token IN (batch
    terms)``.  Scoring cost is O(postings of the query terms),
    independent of corpus size (SCALE.md's persisted-vs-rebuild row).
    The result is materialized, so it outlives a later rebuild.
    Oracle: the x58 SQL with the query window OFFSET by 8."""
    import os as _os

    root, top_terms = persisted_index(
        spark,
        "bm25",
        (2 * _X58_TOPQ,),
        [_os.path.join(sf_dir, "documents.parquet")],
        lambda root: x61_build_index(spark, sf_dir, root),
    )
    return x61_serving_frame(spark, root, top_terms).localCheckpoint()


def x61_build_index(spark: SparkSession, sf_dir: str, root: str) -> list[str]:
    """Build + persist the documents' BM25 index at ``root``; return
    its {2·_X58_TOPQ} most frequent terms (total count desc, token
    asc), the ranking x61's query batch is sliced from."""
    from ..operators.retrieval import bm25_build_index

    bm25_build_index(load_table(spark, "documents", sf_dir), root)
    terms = read_parquet_noinfer(spark, root + "/terms")
    return [
        r["token"]
        for r in terms.orderBy(F.col("cnt").desc(), F.col("token").asc())
        .limit(2 * _X58_TOPQ)
        .collect()
    ]


def x61_serving_frame(
    spark: SparkSession, root: str, top_terms: list[str]
) -> DataFrame:
    """The UNMATERIALIZED scoring frame of x61's query batch (terms
    ranked 9..16) against the index at ``root``.  Split out so the plan
    audit (tools/explain_audit.py) can explain the real scoring plan —
    the pushed ``token IN (...)`` filter on the tf scan — instead of
    the ``Scan ExistingRDD`` the registry entry's localCheckpoint
    leaves behind.  The frame reads from ``root`` lazily."""
    from ..operators.retrieval import bm25_topk_from_index

    batch = top_terms[_X58_TOPQ:]
    queries = local_df(
        spark, [(t, [t]) for t in batch], "query string, terms array<string>"
    )
    # the query tokens are driver-resident, so the pruning-token
    # derivation needs no collect job
    return bm25_topk_from_index(
        spark, root, queries, k=_X58_K, query_tokens=batch
    )


_X61_SQL = _x58_sql(query_offset=_X58_TOPQ)


def x20_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate cluster resolution: MinHash-LSH candidate pairs
    (x03) → connected components (operators.graph — iterative min-label
    propagation, one shuffle per round, rounds = diameter) → every
    clustered doc labeled with its cluster's minimum doc_id.  This is
    the step that turns pairwise dedup output into "keep one per
    cluster"."""
    from ..operators.graph import connected_components

    pairs = minhash_lsh_pairs(
        load_table(spark, "documents", sf_dir),
        num_hashes=_MINHASH_N,
        bands=_MINHASH_BANDS,
        shingle_len=_MINHASH_SHINGLE,
    )
    return connected_components(pairs, src="id_a", dst="id_b").select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )


# transitive closure by recursive CTE — exponential in path count on big
# graphs, but exact on the fixture's small near-dup graph (the point is
# to certify the iterative Spark algorithm against an independent
# formulation)
_X20_SQL = f"""
WITH RECURSIVE {_minhash_sig_cte()},
banded AS (
    SELECT doc_id, CAST(seed // {_MINHASH_N // _MINHASH_BANDS} AS INTEGER) AS band,
           minhash
    FROM sig),
band_sig AS (
    SELECT doc_id, band,
           md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY minhash)) AS band_key
    FROM banded GROUP BY doc_id, band),
pairs AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM band_sig a JOIN band_sig b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
edges AS (
    SELECT id_a AS a, id_b AS b FROM pairs
    UNION SELECT id_b, id_a FROM pairs),
reach(a, b) AS (
    SELECT a, b FROM edges
    UNION
    SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b <> r.a)
SELECT a AS doc_id, LEAST(MIN(b), a) AS cluster_id FROM reach GROUP BY a
"""


# ONE k for the x22 query AND its oracle (the drifted-constant rule)
_X22_K = 8


def x22_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means over the embedding corpus (operators.clustering):
    3 rounds, k=8, deterministic init/ties.  Per round the corpus sees
    one narrow assignment pass (centroid literals — no join, no corpus
    shuffle) and one k×dim-group mean; that's the 100 TB-shaped loop
    that produces IVF's coarse centroids (x12).

    Centroid floats depend on partial-agg order, so raw per-cluster
    sizes can't hash-match an oracle; like x21, the query emits the
    invariants an oracle CAN check exactly: every vector assigned to
    exactly one of k non-empty clusters.  The numpy-differential test
    (tests/test_clustering.py) pins centroid accuracy."""
    from ..operators.clustering import kmeans

    emb = load_table(spark, "embeddings", sf_dir)
    assigned, _ = kmeans(emb, k=_X22_K, rounds=3)
    sizes = assigned.groupBy("cluster_id").agg(F.count("*").alias("n"))
    # groupBy only yields clusters with >=1 member, so "every cluster
    # non-empty" is exactly "all k cluster ids materialized" — a
    # min(n)>0 over the groups would be vacuously true
    return sizes.agg(
        F.count("*").cast("bigint").alias("n_clusters"),
        F.sum("n").alias("n_vectors_total"),
        (F.count("*") == _X22_K).alias("all_clusters_nonempty"),
    )


_X22_SQL = f"""
SELECT CAST({_X22_K} AS BIGINT) AS n_clusters,
       COUNT(*) AS n_vectors_total,
       TRUE AS all_clusters_nonempty
FROM {_EMB_FINITE} e
"""




_X59_M, _X59_KC = 4, 16


def x59_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode (operators/pq.py): 64-dim embeddings
    → 4 subspace codes + the exact squared reconstruction error — the
    compression that lets a 100 TB embedding corpus's searchable
    representation live in a fraction of its footprint (Jégou et al.
    2011).  This scoring flavor uses the deterministic UNTRAINED
    codebooks (the 16 lowest-id finite vectors, sliced — the Lloyd's
    init, the same house pattern as x12's stride centroids) so the
    oracle reproduces every code and error bit-for-bit; the trained
    path (per-subspace distributed Lloyd's) and ADC top-k recall are
    pinned by tests/test_pq.py.  Encoding is a pure projection: per-row
    argmin against foldable codebook literals — zero joins, zero
    shuffles."""
    from ..operators.pq import pq_codebooks_init, pq_encode

    emb = load_table(spark, "embeddings", sf_dir)
    books = pq_codebooks_init(emb, m=_X59_M, k=_X59_KC)
    return pq_encode(emb, books)


def _x59_sql() -> str:
    sub = 64 // _X59_M

    def d2(j: int) -> str:
        off = j * sub
        ea = f"CAST(e.embedding[i + {off}] AS DOUBLE)"
        ca = f"CAST(c.cv[i + {off}] AS DOUBLE)"
        return (
            f"list_sum(list_transform(range(1, {sub + 1}), "
            f"i -> ({ea} - {ca}) * ({ea} - {ca})))"
        )

    encs = ",\n".join(
        f"""enc{j} AS (
    SELECT vec_id, CAST(code AS INTEGER) AS code_{j}, d AS err_{j} FROM (
        SELECT e.vec_id, c.code, {d2(j)} AS d,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                   ORDER BY {d2(j)} ASC, c.code ASC) AS rn
        FROM {{emb}} e, cb c) WHERE rn = 1)"""
        for j in range(_X59_M)
    )
    joins = " ".join(f"JOIN enc{j} USING (vec_id)" for j in range(1, _X59_M))
    err_sum = " + ".join(f"err_{j}" for j in range(_X59_M))
    return f"""
WITH cb AS (
    SELECT ROW_NUMBER() OVER (ORDER BY vec_id ASC) - 1 AS code, embedding AS cv
    FROM (SELECT vec_id, embedding FROM {{emb}}
          ORDER BY vec_id ASC LIMIT {_X59_KC})),
{encs}
SELECT vec_id, {", ".join(f"code_{j}" for j in range(_X59_M))},
       {round_fixed_sql(err_sum, 6)} AS recon_sq
FROM enc0 {joins}
""".replace("{emb}", _EMB_FINITE)


_X59_SQL = _x59_sql()


# ADC query set/size — ONE constant pair for the query and its oracle
_X60_NQ, _X60_K = 5, 5


def x60_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-k (operators/pq.py::pq_adc_topk) —
    the SEARCH half of product quantization, oracle-scored (r6 verdict
    "What's missing" #2: x59 covered only compression): encode the
    corpus with the deterministic untrained codebooks (x59's exact
    geometry), reconstruct every candidate from broadcast code→centroid
    maps, and rank the 5 lowest-id finite vectors' queries by one
    ordered 64-element squared-L2 fold per (query, candidate) —
    distances rounded to 6 before ranking, ties to the lower candidate
    id, self-matches excluded.  Scale shape: the corpus side never
    shuffles until the final per-query top-k window (WindowGroupLimit
    keeps it skinny); codebook maps and queries broadcast.  The trained
    path's recall floor stays pinned by tests/test_pq.py."""
    from ..functions.vectors import usable_vec
    from ..operators.pq import pq_adc_topk, pq_codebooks_init, pq_encode

    emb = load_table(spark, "embeddings", sf_dir)
    books = pq_codebooks_init(emb, m=_X59_M, k=_X59_KC)
    codes = pq_encode(emb, books)
    queries = (
        emb.where(usable_vec(F.col("embedding"), require_nonzero=False))
        .orderBy(F.col("vec_id").asc())
        .limit(_X60_NQ)
    )
    return pq_adc_topk(codes, books, queries, k=_X60_K)


def _x60_sql() -> str:
    """Oracle twin: x59's encode CTEs, reconstruction as the concat of
    per-subspace codebook slices, and the SAME ordered 64-element fold
    (list_sum over range — the cosine_sql contract) rounded to 6
    BEFORE ranking, ties to the lower candidate id."""
    sub = 64 // _X59_M

    def d2(j: int) -> str:
        off = j * sub
        ea = f"CAST(e.embedding[i + {off}] AS DOUBLE)"
        ca = f"CAST(c.cv[i + {off}] AS DOUBLE)"
        return (
            f"list_sum(list_transform(range(1, {sub + 1}), "
            f"i -> ({ea} - {ca}) * ({ea} - {ca})))"
        )

    encs = ",\n".join(
        f"""enc{j} AS (
    SELECT vec_id, CAST(code AS INTEGER) AS code_{j} FROM (
        SELECT e.vec_id, c.code,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                   ORDER BY {d2(j)} ASC, c.code ASC) AS rn
        FROM {{emb}} e, cb c) WHERE rn = 1)"""
        for j in range(_X59_M)
    )
    code_joins = " ".join(
        f"JOIN enc{j} USING (vec_id)" for j in range(1, _X59_M)
    )
    recon_parts = " || ".join(
        f"list_transform(b{j}.cv[{j * sub + 1}:{(j + 1) * sub}], "
        f"x -> CAST(x AS DOUBLE))"
        for j in range(_X59_M)
    )
    book_joins = " ".join(
        f"JOIN cb b{j} ON b{j}.code = k.code_{j}" for j in range(_X59_M)
    )
    fold = (
        "list_sum(list_transform(range(1, 65), "
        "i -> (CAST(q.qv[i] AS DOUBLE) - r.rv[i])"
        " * (CAST(q.qv[i] AS DOUBLE) - r.rv[i])))"
    )
    return f"""
WITH cb AS (
    SELECT ROW_NUMBER() OVER (ORDER BY vec_id ASC) - 1 AS code, embedding AS cv
    FROM (SELECT vec_id, embedding FROM {{emb}}
          ORDER BY vec_id ASC LIMIT {_X59_KC})),
{encs},
codes AS (
    SELECT vec_id, {", ".join(f"code_{j}" for j in range(_X59_M))}
    FROM enc0 {code_joins}),
recon AS (
    SELECT k.vec_id AS cand_id, {recon_parts} AS rv
    FROM codes k {book_joins}),
q AS (
    SELECT vec_id AS query_id, embedding AS qv FROM {{emb}} e
    ORDER BY vec_id ASC LIMIT {_X60_NQ}),
scored AS (
    SELECT q.query_id, r.cand_id,
           {round_fixed_sql(fold, 6)} AS approx_d2
    FROM recon r, q WHERE r.cand_id <> q.query_id)
SELECT query_id, cand_id, approx_d2, CAST(rnk AS INTEGER) AS rnk
FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY approx_d2 ASC, cand_id ASC) AS rnk
    FROM scored)
WHERE rnk <= {_X60_K}
""".replace("{emb}", _EMB_FINITE)


_X60_SQL = _x60_sql()


# IVF × PQ: query set size / top-k / probed cells — shared with the oracle
_X62_NQ, _X62_K, _X62_NPROBE = 5, 5, 2


def _ivf_pq_model(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list[tuple[int, list[float]]], list, list]:
    """(finite corpus, stride coarse centroids, init PQ codebooks,
    16-lowest-id rows) — the deterministic SQL-reproducible IVF×PQ
    model every member of the family (x62/x65/x66/st12) derives from;
    one builder so the Spark side can never drift from the oracle's
    cent/cb CTEs.  The 4th element is the collected codebook-init rows
    (the {_X59_KC} lowest usable ids, ascending): both query batches
    the family uses (x62/st12's first {_X62_NQ} by id, x65/x67's next
    {_X62_NQ}) are SLICES of it, so callers build their query frame
    via :func:`_model_queries` with zero further corpus scans (r11:
    each distributed ``orderBy.limit``/``offset`` query subtree paid a
    corpus scan per action it fed — probes collect, scoring join,
    rerank)."""
    import math
    import os as _os

    from ..functions.vectors import usable_vec

    emb = load_table(spark, "embeddings", sf_dir)
    # raw sizing count — the same metadata-cheap heuristic x12 uses
    # (footer metadata, no Spark job)
    n = raw_row_count(spark, _os.path.join(sf_dir, "embeddings.parquet"))
    stride = max(50, math.ceil(n / 100))
    fin = emb.where(usable_vec(F.col("embedding"), require_nonzero=False))
    # ONE collect for both driver-sized model pieces (r11: they were two
    # sequential jobs — stride centroids, then pq_codebooks_init's
    # 16-lowest-id rows — each ~0.5 s of fixed job cost; a tagged union
    # fetches both in a single job).  Semantics identical:
    # pq_codebooks_init is the k-lowest-usable-id slice-per-subspace
    # rule, reproduced here over the same filter.
    tagged = (
        fin.where(F.col("vec_id") % stride == 3)
        .select("vec_id", "embedding", F.lit(True).alias("__cent"))
        .unionByName(
            fin.orderBy(F.col("vec_id").asc())
            .limit(_X59_KC)
            .select("vec_id", "embedding", F.lit(False).alias("__cent"))
        )
    )
    rows = tagged.collect()
    cents = sorted(
        (r["vec_id"], [float(v) for v in r["embedding"]])
        for r in rows
        if r["__cent"]
    )  # driver-sized by the capped-cell-count contract (~100 rows)
    init = sorted(
        (r for r in rows if not r["__cent"]), key=lambda r: r["vec_id"]
    )
    if not init:
        books: list = [[] for _ in range(_X59_M)]
    else:
        dim = len(init[0]["embedding"])
        if dim % _X59_M != 0:
            raise ValueError(
                f"embedding dim {dim} not divisible by m={_X59_M}"
            )
        sub = dim // _X59_M
        books = [
            [
                (code, [float(v) for v in r["embedding"]][j * sub:(j + 1) * sub])
                for code, r in enumerate(init)
            ]
            for j in range(_X59_M)
        ]
    return fin, cents, books, init


def _model_queries(
    spark: SparkSession, schema, init: list, lo: int, hi: int
) -> DataFrame:
    """The family's query batch as a LOCAL frame: rows ranked
    [lo, hi) by ascending vec_id among the usable corpus — exactly
    ``fin.orderBy(vec_id).offset(lo).limit(hi - lo)``, but sliced from
    the already-collected init rows (``init`` is the _X59_KC ≥ hi
    lowest usable ids, ascending) so the query side is a
    LocalTableScan instead of a corpus-scanning TakeOrdered subtree.
    Columns (vec_id, embedding) take their types from ``schema``, the
    corpus's, so the element type (array<float>) and all downstream
    arithmetic are identical."""
    from pyspark.sql.types import StructType

    return local_df(
        spark,
        [(r["vec_id"], r["embedding"]) for r in init[lo:hi]],
        StructType([schema["vec_id"], schema["embedding"]]),
    )


def x62_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF × PQ (operators/pq.py::ivf_pq_topk) — the production ANN
    composition (r6 verdict next-round #7): IVF cell pruning (x12's
    stride-derived coarse codebook, squared-L2 assignment) decides
    WHICH vectors each query scans, PQ ADC over the codes (x59/x60's
    untrained codebooks) decides WHAT each scan touches.  One corpus
    scan projects (id, cell, codes); the (query, probed-cell) table and
    the code→centroid maps broadcast; the only corpus-wide exchange is
    the final per-query top-k window.  recall@5 vs exact brute force is
    pinned at sf0.1 by tests/test_pq.py; the oracle reproduces every
    cell assignment, code, and ADC distance exactly."""
    from ..operators.pq import ivf_pq_topk

    fin, cents, books, init = _ivf_pq_model(spark, sf_dir)
    queries = _model_queries(spark, fin.schema, init, 0, _X62_NQ)
    return ivf_pq_topk(
        fin, queries, cents, books, k=_X62_K, nprobe=_X62_NPROBE
    )


def _x62_ann_ctes(q_sql: str, k: int, nprobe: int) -> str:
    """The shared IVF×PQ oracle CTE chain (x12's stride centroid CTE in
    squared-L2 flavor, x59/x60's encode + reconstruction CTEs, cell
    assignment and probe ranking by the same ordered fold, ADC distance
    rounded to 6 before ranking, every tie to the lower id), ending
    with CTE ``ann``(query_id, cand_id, adc_d2, rnk).  ``q_sql`` is the
    query-batch CTE body (must yield query_id, qv) — x62 takes the
    first {_X62_NQ} ids, x65 the NEXT {_X62_NQ} (OFFSET), x66 the MMR
    query set; one builder so the three oracles can never drift."""
    sub = 64 // _X59_M

    def sqd(a: str, b: str) -> str:
        return (
            "list_sum(list_transform(range(1, 65), "
            f"i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
            f" * (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))))"
        )

    def d2(j: int) -> str:
        off = j * sub
        ea = f"CAST(e.embedding[i + {off}] AS DOUBLE)"
        ca = f"CAST(c.cv[i + {off}] AS DOUBLE)"
        return (
            f"list_sum(list_transform(range(1, {sub + 1}), "
            f"i -> ({ea} - {ca}) * ({ea} - {ca})))"
        )

    encs = ",\n".join(
        f"""enc{j} AS (
    SELECT vec_id, CAST(code AS INTEGER) AS code_{j} FROM (
        SELECT e.vec_id, c.code,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                   ORDER BY {d2(j)} ASC, c.code ASC) AS rn
        FROM {{emb}} e, cb c) WHERE rn = 1)"""
        for j in range(_X59_M)
    )
    code_joins = " ".join(
        f"JOIN enc{j} USING (vec_id)" for j in range(1, _X59_M)
    )
    recon_parts = " || ".join(
        f"list_transform(b{j}.cv[{j * sub + 1}:{(j + 1) * sub}], "
        f"x -> CAST(x AS DOUBLE))"
        for j in range(_X59_M)
    )
    book_joins = " ".join(
        f"JOIN cb b{j} ON b{j}.code = k.code_{j}" for j in range(_X59_M)
    )
    return f"""cent AS (
    SELECT vec_id AS centroid_id, embedding AS centroid
    FROM {{emb}} emb_c WHERE vec_id % {_IVF_STRIDE_SQL} = 3),
cb AS (
    SELECT ROW_NUMBER() OVER (ORDER BY vec_id ASC) - 1 AS code, embedding AS cv
    FROM (SELECT vec_id, embedding FROM {{emb}}
          ORDER BY vec_id ASC LIMIT {_X59_KC})),
{encs},
codes AS (
    SELECT vec_id, {", ".join(f"code_{j}" for j in range(_X59_M))}
    FROM enc0 {code_joins}),
recon AS (
    SELECT k.vec_id AS cand_id, {recon_parts} AS rv
    FROM codes k {book_joins}),
cells AS (
    SELECT vec_id, centroid_id AS cell FROM (
        SELECT e.vec_id, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                   ORDER BY {sqd('e.embedding', 'c.centroid')} ASC,
                            c.centroid_id ASC) AS rn
        FROM {{emb}} e, cent c) WHERE rn = 1),
q AS ({q_sql}),
qcells AS (
    SELECT query_id, qv, centroid_id AS cell FROM (
        SELECT q.query_id, q.qv, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                   ORDER BY {sqd('q.qv', 'c.centroid')} ASC,
                            c.centroid_id ASC) AS rn
        FROM q, cent c) WHERE rn <= {nprobe}),
adc AS (
    SELECT qc.query_id, ce.vec_id AS cand_id,
           {round_fixed_sql(sqd('qc.qv', 'r.rv'), 6)} AS adc_d2
    FROM qcells qc
    JOIN cells ce ON qc.cell = ce.cell AND ce.vec_id <> qc.query_id
    JOIN recon r ON r.cand_id = ce.vec_id),
ann AS (
    SELECT query_id, cand_id, adc_d2, CAST(rnk AS INTEGER) AS rnk
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY adc_d2 ASC, cand_id ASC) AS rnk
        FROM adc)
    WHERE rnk <= {k})""".replace("{emb}", _EMB_FINITE)


def _x62_q_sql(query_offset: int = 0) -> str:
    """The x62/x65 query-batch CTE body: the {_X62_NQ} finite vectors
    starting at rank ``query_offset`` by ascending id — x65 offsets by
    {_X62_NQ} so its batch is DISJOINT from x62's, proving the persisted
    artifact serves arbitrary later batches (the x61 offset pattern)."""
    off = f" OFFSET {query_offset}" if query_offset else ""
    return (
        f"SELECT vec_id AS query_id, embedding AS qv FROM {_EMB_FINITE} e"
        f" ORDER BY vec_id ASC LIMIT {_X62_NQ}{off}"
    )


def _x62_sql(query_offset: int = 0) -> str:
    return (
        "WITH "
        + _x62_ann_ctes(_x62_q_sql(query_offset), _X62_K, _X62_NPROBE)
        + "\nSELECT query_id, cand_id, adc_d2, rnk FROM ann\n"
    )


_X62_SQL = _x62_sql()


def st12_streaming_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of x62: coarse centroids + PQ codebooks are built
    batch-side and FROZEN; the embedding corpus arrives as a
    file-source stream (3 files → 3 micro-batches), each micro-batch
    encodes to (id, cell, codes) via
    streaming/pipeline.py::streaming_ivf_pq_encode and appends to the
    code table; the final ADC top-k ranks queries over the accumulated
    codes (operators/pq.py::ivf_pq_topk_from_codes).  A row's (cell,
    codes) is a pure per-row function of (vector, frozen codebooks), so
    stream-encoded ∪ batch-ranked ≡ one-shot batch — the oracle is
    x62's SQL.  The production ANN ingest shape: codebooks retrain on
    rebuild cadence, arrivals encode against the frozen pair (the
    IVF-PQ analog of st11's frozen BM25 index and st06's persisted LSH
    index)."""
    import os as _os

    from ..operators.pq import ivf_pq_topk_from_codes
    from ..streaming.pipeline import streaming_ivf_pq_encode

    fin, cents, books, init = _ivf_pq_model(spark, sf_dir)
    if not cents or not books[0]:
        # empty corpus (the empty-inputs contract): nothing to stream
        return spark.createDataFrame(
            [], "query_id long, cand_id long, adc_d2 double, rnk int"
        )
    with scratch_dir("st12_") as root:
        batch_dir = _os.path.join(root, "batch")
        fin.select("vec_id", "embedding").repartition(3).write.parquet(
            batch_dir
        )  # several arriving files → several micro-batches
        codes_dir = _os.path.join(root, "codes")
        streaming_ivf_pq_encode(
            spark,
            batch_dir,
            cents,
            books,
            codes_dir,
            _os.path.join(root, "ckpt"),
        )
        queries = _model_queries(spark, fin.schema, init, 0, _X62_NQ)
        return ivf_pq_topk_from_codes(
            read_parquet_noinfer(spark, codes_dir),
            queries,
            cents,
            books,
            k=_X62_K,
            nprobe=_X62_NPROBE,
        ).localCheckpoint()


def x65_ivf_pq_persisted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ against a PERSISTED index (x62 re-derives codebooks and
    re-encodes the corpus on every call — not the production shape).
    The model and the full index (:func:`x65_build_index`) are built
    once per session and shared with x67 (:func:`_ivf_pq_index`): keyed
    by the model constants and the embeddings table's files (path,
    length, modification time), rebuilt on the first call after a file
    changes, and kept until the registry releases it or the
    interpreter exits.  Every call then scores the SECOND query batch (the finite vectors ranked
    {_X62_NQ}..{2·_X62_NQ} by id — disjoint from x62's first
    {_X62_NQ}, proving the artifact serves arbitrary later batches, the
    x61 offset pattern) via :func:`x65_serving_frame`: no re-encode, no
    codebook rebuild, the codes scan pushed down to ``__cell IN
    (probed cells)``.  Scoring cost is O(postings of the probed cells),
    independent of corpus size.  Oracle: the x62 SQL with the query
    window OFFSET by {_X62_NQ}."""
    root, model = _ivf_pq_index(spark, sf_dir)
    return x65_serving_frame(spark, root, model).localCheckpoint()


def _ivf_pq_index(spark: SparkSession, sf_dir: str) -> tuple[str, tuple]:
    """``(root, model)`` of the embeddings' IVF-PQ index, built by
    :func:`x65_build_index` through ``session.persisted_index``."""
    import os as _os

    return persisted_index(
        spark,
        "ivf_pq",
        (_X59_M, _X59_KC),
        [_os.path.join(sf_dir, "embeddings.parquet")],
        lambda root: x65_build_index(spark, sf_dir, root),
    )


def x65_build_index(spark: SparkSession, sf_dir: str, root: str) -> tuple:
    """Train the family's model (:func:`_ivf_pq_model`), persist the
    full index at ``root`` (operators/pq.py::ivf_pq_build_index — codes
    range-laid-out by cell so scans prune row groups) and return the
    driver-sized model a server needs: (corpus schema, centroids,
    codebooks, init rows).  An empty corpus persists nothing."""
    from ..operators.pq import ivf_pq_build_index

    fin, cents, books, init = _ivf_pq_model(spark, sf_dir)
    if cents and books[0]:
        ivf_pq_build_index(fin, cents, books, root)
    return fin.schema, cents, books, init


def x65_serving_frame(spark: SparkSession, root: str, model: tuple) -> DataFrame:
    """The UNMATERIALIZED scoring frame of x65's query batch against the
    index at ``root`` — split out so the plan audit
    (tools/explain_audit.py) can explain the real scoring plan (the
    pushed ``__cell IN (...)`` filter on the codes scan) instead of the
    localCheckpoint's ``Scan ExistingRDD``.  Reads ``root`` lazily."""
    _schema, cents, books, _init = model
    if not cents or not books[0]:
        # empty corpus (the empty-inputs contract): nothing persisted
        return spark.createDataFrame(
            [], "query_id long, cand_id long, adc_d2 double, rnk int"
        )
    return _persisted_ann(spark, root, model, _X62_K)[1]


def _persisted_ann(
    spark: SparkSession, root: str, model: tuple, k: int
) -> tuple[DataFrame, DataFrame]:
    """(queries, ADC top-``k`` candidates) of the family's second query
    batch (ranks {_X62_NQ}..{2·_X62_NQ}) against the index at
    ``root``.  The query vectors are a slice of the model's init rows,
    so the probed-cell pruning set is computed driver-side (exact
    mirror of _query_probes; no collect job)."""
    from ..operators.pq import ivf_pq_topk_from_persisted, py_probe_cells

    schema, cents, _books, init = model
    queries = _model_queries(spark, schema, init, _X62_NQ, 2 * _X62_NQ)
    return queries, ivf_pq_topk_from_persisted(
        spark,
        root,
        queries,
        k=k,
        nprobe=_X62_NPROBE,
        probe_cells=py_probe_cells(
            init[_X62_NQ:2 * _X62_NQ], cents, _X62_NPROBE
        ),
    )


_X65_SQL = _x62_sql(query_offset=_X62_NQ)


# SemDeDup-style semantic dedup: keep-first within IVF cells.  The
# threshold is fixture-calibrated (within-cell cosine p99 ≈ 0.33, max
# 0.51 — both keep outcomes occur); production corpora tune per-model.
SEM_DEDUP_THRESHOLD = 0.3
# x41's codebook is √n-sized — NOT x12's capped one.  x12 only pays
# O(n·k) assignment, so a capped k (~100) is optimal there; x41 also
# pays O(n²/k) within-cell pairwise, so k* = √n balances the two at
# O(n^1.5) total — the standard exact-IVF dedup trade (SemDeDup itself
# runs k ∝ n with ANN-assisted assignment; in pure DataFrame algebra
# √n is the optimum).  Floor 50 keeps tiny fixtures on stable cells.
_X41_STRIDE_SQL = (
    "(SELECT GREATEST(CAST(CEIL(SQRT(COUNT(*))) AS BIGINT), 50) "
    "FROM embeddings)"
)


def x41_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup (SemDeDup, Abbas et al. 2023, adapted): bucket the
    corpus by nearest IVF coarse centroid (x12's exact cell geometry —
    deterministic stride codebook, cosine assignment, id tie-break),
    then within each cell drop every vector that has a LOWER-id
    neighbor with cosine ≥ threshold (keep-first).  The exists-based
    keep rule needs no transitive closure — unlike the text near-dup
    path (x20), no iteration, single-pass SQL-expressible.

    Shape at scale: the pairwise step is CELL-bucketed (each vector
    compares against its cell only, never the corpus), executed as
    blocked BLAS tiles per cell (operators.similarity.
    semantic_dedup_in_cells) after a zero-shuffle vectorized
    assignment.  The codebook is √n-sized (see _X41_STRIDE_SQL):
    assignment costs O(n·√n) and within-cell pairwise O(n²/√n) =
    O(n^1.5) FLOPs — the balanced optimum for EXACT cell-bucketed
    dedup.  True-linear semantic dedup needs either ANN-assisted
    assignment with k ∝ n (SemDeDup's FAISS path — outside vanilla
    Spark) or the SRP-LSH bucketing x14 uses, which is linear but only
    recalls high-cosine pairs; x41 is the exact complement.  Only
    usable vectors participate (the cosine contract,
    functions.vectors.usable_vec)."""
    import math
    import os

    from ..functions.vectors import usable_vec
    from ..operators.similarity import (
        assign_cells_vectorized,
        semantic_dedup_in_cells,
    )

    emb = load_table(spark, "embeddings", sf_dir).where(
        usable_vec(F.col("embedding"))
    )
    n = raw_row_count(spark, os.path.join(sf_dir, "embeddings.parquet"))
    stride = max(50, math.ceil(math.sqrt(n)))  # √n codebook, see _X41_STRIDE_SQL
    centroids = emb.where(F.col("vec_id") % stride == 3).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid"),
    )
    # Both stages BLAS-vectorized, row-identical to the declarative
    # formulations the oracle mirrors: assignment is one matmul per
    # Arrow batch with no shuffle; the within-cell keep-first rule runs
    # as blocked matmul tiles per cell group — the O(n^1.5) FLOPs
    # remain (exact SemDeDup), but no O(pairs) rows are ever
    # materialized and no interpreted per-pair cosine is paid.
    cells = assign_cells_vectorized(emb, centroids)
    return semantic_dedup_in_cells(cells, SEM_DEDUP_THRESHOLD).select(
        "vec_id",
        F.col("cell").cast("int").alias("cell"),
        "keep_semantic",
    )


_X41_COS_AB = round_fixed_sql(cosine_sql("a.embedding", "b.embedding"), 6)
_X41_SQL = f"""
WITH cent AS (
    SELECT vec_id AS centroid_id, embedding AS centroid
    FROM {_EMB_USABLE} emb_c WHERE vec_id % {_X41_STRIDE_SQL} = 3),
cells AS (
    SELECT vec_id, embedding, centroid_id AS cell FROM (
        SELECT e.vec_id, e.embedding, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                   ORDER BY {_IVF_CELL_COS} DESC, c.centroid_id ASC) AS rn
        FROM {_EMB_USABLE} e, cent c) WHERE rn = 1),
dup AS (
    SELECT DISTINCT a.vec_id
    FROM cells a JOIN cells b
      ON a.cell = b.cell AND b.vec_id < a.vec_id
    WHERE {_X41_COS_AB} >= {SEM_DEDUP_THRESHOLD})
SELECT c.vec_id, CAST(c.cell AS INTEGER) AS cell,
       d.vec_id IS NULL AS keep_semantic
FROM cells c LEFT JOIN dup d ON c.vec_id = d.vec_id
"""


def x23_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profile summary (the ingestion data-quality gate): one row
    per column with row/null/distinct counts and min/max rendered as
    strings.  ONE scan; Spark plans the multi-column COUNT(DISTINCT)
    via Expand + a single aggregation pass (no per-column jobs, no
    driver loop)."""
    o = load_table(spark, "orders", sf_dir)
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate"]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [
            F.sum(F.col(c).isNull().cast("bigint")).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    wide = o.agg(*aggs)
    # wide → long: one struct per column, exploded (still a single scan)
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col("n_rows").alias("n_rows"),
                F.col(f"{c}__nulls").alias("n_nulls"),
                F.col(f"{c}__distinct").alias("n_distinct"),
                F.col(f"{c}__min").alias("min_str"),
                F.col(f"{c}__max").alias("max_str"),
            )
            for c in cols
        ]
    )
    return wide.select(F.explode(entries).alias("p")).select("p.*")


_X23_SQL = """
SELECT 'o_orderkey' AS column, COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       COUNT(DISTINCT o_orderkey) AS n_distinct,
       CAST(MIN(o_orderkey) AS VARCHAR) AS min_str,
       CAST(MAX(o_orderkey) AS VARCHAR) AS max_str
FROM orders
UNION ALL
SELECT 'o_custkey', COUNT(*),
       CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       COUNT(DISTINCT o_custkey),
       CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_orderstatus', COUNT(*),
       CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       COUNT(DISTINCT o_orderstatus),
       CAST(MIN(o_orderstatus) AS VARCHAR), CAST(MAX(o_orderstatus) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_orderdate', COUNT(*),
       CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       COUNT(DISTINCT o_orderdate),
       CAST(MIN(o_orderdate) AS VARCHAR), CAST(MAX(o_orderdate) AS VARCHAR)
FROM orders
"""


# ---------------------------------------------------------------------------
# x57: mergeable rollup maintenance
# ---------------------------------------------------------------------------

# fixture-derivation mods (x44 SNAP_* pattern): event_id % 10 < 8 plays
# the already-materialized history; the rest is the arriving batch.
# NULL event_id (no identity) routes to the batch side so the split
# covers every row.
ROLLUP_OLD_MOD = 10
ROLLUP_OLD_LIM = 8


def x57_mergeable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Summary-table maintenance with mergeable aggregate STATE: the
    per-(event_type, day) rollup is kept as (count, integer-micros sum,
    min ts, max ts) — all associative — so folding a new batch in is
    partial(batch) ⊎ materialized, a merge that touches only
    rollup-grain rows.  Raw history is never re-read (it may already be
    discarded): this is the summary-table pattern for metrics layers
    where st04's partition-scoped merge (which retains facts) is too
    heavy.

    The query materializes the history partials and the batch partials
    SEPARATELY (deterministic event_id split), merges them, and the
    oracle recomputes the rollup from all rows in one pass — equality
    IS the associativity proof, hash-checked.  Sums ride integer
    micros (the x17 lesson) so partial-agg order can't move the hash;
    non-finite values contribute NULL (skipped by SUM, both engines).

    Shape at 100 TB: the merge input is two grain-bounded aggregate
    tables (days × event types), not events — O(grain) regardless of
    history length; each partial build is one map-side-combined
    hash-agg over only ITS slice."""
    ev = load_table(spark, "events", sf_dir)
    v = F.col("value")
    # try_cast: finite-but-huge values overflow the micros BIGINT —
    # NULL (skipped by SUM) in both engines, same as non-finite
    micros = F.when(
        F.isnan(v) | (F.abs(v) == F.lit(float("inf"))), F.lit(None)
    ).otherwise(F.round(v * 1000000, 0).try_cast("bigint"))

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(
            "event_type", F.date_trunc("day", F.col("ts")).alias("day")
        ).agg(
            F.count("*").alias("n"),
            F.sum(micros).alias("s"),
            F.min("ts").alias("mn"),
            F.max("ts").alias("mx"),
        )

    is_old = F.col("event_id") % ROLLUP_OLD_MOD < ROLLUP_OLD_LIM
    old = ev.where(is_old)
    new = ev.where(F.col("event_id").isNull() | ~is_old)
    merged = partial(old).unionByName(partial(new))
    return merged.groupBy("event_type", "day").agg(
        F.sum("n").alias("n_events"),
        F.sum("s").alias("sum_value_micros"),
        F.min("mn").alias("first_ts"),
        F.max("mx").alias("last_ts"),
    )


_X57_SQL = """
SELECT event_type,
       -- DuckDB date_trunc('day', ts) is DATE; Spark's is TIMESTAMP
       CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN isnan(value) OR isinf(value) THEN NULL
                ELSE TRY_CAST(ROUND(value * 1000000, 0) AS BIGINT) END) AS BIGINT)
           AS sum_value_micros,
       MIN(ts) AS first_ts, MAX(ts) AS last_ts
FROM events GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# x54: z-order layout (operators/layout.py)
# ---------------------------------------------------------------------------

# the pruning probe: an axis-aligned box predicate on the 256×256 grid,
# 16 cells wide per dimension and deliberately NOT tile-aligned (90 is
# mid-tile), so the z-layout verdict exercises partial tile overlap
ZBOX_LO = 90
ZBOX_HI = 105


def x54_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order vs linear layout, as checkable per-file stats: lineitem's
    (l_partkey, l_suppkey) keys are mapped onto a 256×256 grid, files
    are modeled as fixed-width z-ranges (z >> 8: aligned 16×16 Morton
    tiles) for the z layout and as partkey slabs for the linear layout,
    and each file row carries exactly what parquet footers would — the
    min/max of BOTH dimensions — plus the verdict of a 2-D box
    predicate against those stats.

    The point the output makes: z-order files are small rectangles, so
    the box touches ~4 of 256; linear files span the full second
    dimension, so the same box touches every slab the first dimension
    admits (~16) and a second-dimension-only predicate touches ALL of
    them.  The real write path (range-partition by z, in-partition
    sort) is ``operators/layout.py::write_zordered``, whose footer
    stats are pinned by tests/test_layout.py; this query is its
    deterministic fixed-boundary twin, exact in both engines (integer
    div + shift/mask only).

    Shape at 100 TB: ONE corpus-grain shuffle (groupBy to the ≤ 2^16
    occupied grid cells); both layouts' file stats derive from the tiny
    cell table.  The z-value itself is a zero-shuffle codegen
    projection."""
    from ..operators.layout import Z_BITS, grid_bucket_expr, interleave_bits

    li = (
        load_table(spark, "lineitem", sf_dir)
        .select("l_partkey", "l_suppkey")
        .where(F.col("l_partkey").isNotNull() & F.col("l_suppkey").isNotNull())
    )
    mm = li.agg(
        F.min("l_partkey").alias("__amin"),
        F.max("l_partkey").alias("__amax"),
        F.min("l_suppkey").alias("__bmin"),
        F.max("l_suppkey").alias("__bmax"),
    )
    cell = (
        li.crossJoin(F.broadcast(mm))
        .select(
            grid_bucket_expr("l_partkey", "__amin", "__amax").alias("pk_b"),
            grid_bucket_expr("l_suppkey", "__bmin", "__bmax").alias("sk_b"),
        )
        .groupBy("pk_b", "sk_b")
        .agg(F.count("*").alias("n"))
        # cell feeds both layouts' stats; pin the ≤2^16-row table so
        # the corpus scan + shuffle runs once
        .localCheckpoint()
    )
    stats = [
        F.sum("n").alias("n_rows"),
        F.min("pk_b").alias("d1_min"),
        F.max("pk_b").alias("d1_max"),
        F.min("sk_b").alias("d2_min"),
        F.max("sk_b").alias("d2_max"),
    ]
    zs = (
        cell.withColumn(
            "file_id",
            F.shiftright(interleave_bits(F.col("pk_b"), F.col("sk_b")), Z_BITS),
        )
        .groupBy("file_id")
        .agg(*stats)
        .select(F.lit("zorder").alias("layout"), "*")
    )
    ls = (
        cell.groupBy(F.col("pk_b").alias("file_id"))
        .agg(*stats)
        .select(F.lit("linear").alias("layout"), "*")
    )
    touched = (
        (F.col("d1_min") <= ZBOX_HI)
        & (F.col("d1_max") >= ZBOX_LO)
        & (F.col("d2_min") <= ZBOX_HI)
        & (F.col("d2_max") >= ZBOX_LO)
    )
    return zs.unionByName(ls).withColumn("touched", touched)


def _x54_sql() -> str:
    from ..operators.layout import Z_BITS, grid_bucket_sql, interleave_bits_sql

    return f"""
WITH k AS (SELECT l_partkey AS a, l_suppkey AS b FROM lineitem
           WHERE l_partkey IS NOT NULL AND l_suppkey IS NOT NULL),
mm AS (SELECT MIN(a) AS amin, MAX(a) AS amax,
              MIN(b) AS bmin, MAX(b) AS bmax FROM k),
g AS (SELECT {grid_bucket_sql('a', 'amin', 'amax')} AS pk_b,
             {grid_bucket_sql('b', 'bmin', 'bmax')} AS sk_b
      FROM k, mm),
cell AS (SELECT pk_b, sk_b, COUNT(*) AS n FROM g GROUP BY 1, 2),
zs AS (SELECT 'zorder' AS layout,
              {interleave_bits_sql('pk_b', 'sk_b')} >> {Z_BITS} AS file_id,
              CAST(SUM(n) AS BIGINT) AS n_rows,
              MIN(pk_b) AS d1_min, MAX(pk_b) AS d1_max,
              MIN(sk_b) AS d2_min, MAX(sk_b) AS d2_max
       FROM cell GROUP BY 2),
ls AS (SELECT 'linear' AS layout, pk_b AS file_id,
              CAST(SUM(n) AS BIGINT) AS n_rows,
              MIN(pk_b) AS d1_min, MAX(pk_b) AS d1_max,
              MIN(sk_b) AS d2_min, MAX(sk_b) AS d2_max
       FROM cell GROUP BY 2),
u AS (SELECT * FROM zs UNION ALL SELECT * FROM ls)
SELECT layout, file_id, n_rows, d1_min, d1_max, d2_min, d2_max,
       (d1_min <= {ZBOX_HI} AND d1_max >= {ZBOX_LO}
        AND d2_min <= {ZBOX_HI} AND d2_max >= {ZBOX_LO}) AS touched
FROM u
"""


# the quantile 2% band is asymptotic; below this group size the
# discrete-vs-interpolated percentile gap dominates (see x21)
SKETCH_MIN_N = 50


def x21_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based approximate aggregates — the 100 TB path where exact
    DISTINCT/median would shuffle the world: HyperLogLog++ distinct
    customers and approximate price quantiles per order priority, one
    partial-aggregable pass, constant memory per group.

    Sketch *values* are engine-specific, so raw outputs can't hash-match
    a DuckDB oracle.  Instead the query emits a bounded-error contract
    the oracle CAN check exactly: the exact counts (hash-compared) plus
    booleans asserting each sketch landed inside its published error
    bound — |HLL − exact| ≤ 3·rsd·exact, quantiles within 2% of the
    exact percentile.  The oracle recomputes the exact columns and
    expects every bound-flag TRUE, so a sketch drifting out of spec now
    hash-fails the driver run instead of passing rows-only (round-3
    feedback: rows-only was the weakest evidence tier).  The exact
    aggregates here are the verification harness, not the operator — at
    100 TB you ship only the sketch columns."""
    o = load_table(spark, "orders", sf_dir)
    # The two quantiles come out of ONE percentile_approx sketch pass but
    # are emitted as flat scalar columns: the driver's canonicalizer
    # sorts cell values, which array cells break (round-1 lesson).
    agg = o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.countDistinct("o_custkey").alias("exact_customers"),
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("_acd"),
        F.percentile_approx("o_totalprice", [0.5, 0.95], 10000).alias("_q"),
        F.percentile("o_totalprice", F.lit(0.5)).alias("_p50"),
        F.percentile("o_totalprice", F.lit(0.95)).alias("_p95"),
    )
    exact = F.col("exact_customers")
    # Regime-aware bounds (found by the unicode-relational probe, which
    # creates ~30-row hostile groups): the published sketch bounds are
    # ASYMPTOTIC — HLL's 3·rsd band gets an absolute +4 slack for the
    # small-cardinality (linear-counting) regime, and the 2% quantile
    # band only applies above SKETCH_MIN_N rows, below which the gap
    # between percentile_approx's DISCRETE data point and the exact
    # INTERPOLATED percentile dominates (tiny groups are covered
    # exactly by q19's exact-median path instead).
    small = F.col("n_orders") < SKETCH_MIN_N
    return agg.select(
        "o_orderpriority",
        "n_orders",
        "exact_customers",
        (F.abs(F.col("_acd") - exact) <= 0.06 * exact + 4).alias(
            "acd_within_3sigma"
        ),
        (
            small
            | (
                F.abs(F.element_at("_q", 1) - F.col("_p50"))
                <= 0.02 * F.col("_p50")
            )
        ).alias("q50_within_2pct"),
        (
            small
            | (
                F.abs(F.element_at("_q", 2) - F.col("_p95"))
                <= 0.02 * F.col("_p95")
            )
        ).alias("q95_within_2pct"),
    )


_X21_SQL = """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       COUNT(DISTINCT o_custkey) AS exact_customers,
       TRUE AS acd_within_3sigma,
       TRUE AS q50_within_2pct,
       TRUE AS q95_within_2pct
FROM orders GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# x53/st09: count-min sketch heavy hitters (operators/sketch.py)
# ---------------------------------------------------------------------------

# Fixture-derivation mods (the x44 SNAP_* pattern): the synthetic events
# table is near-uniform per user, so a skewed item stream is derived
# deterministically in BOTH engines — 40% of users (user_id % 5 < 2)
# collapse onto two hot items (user_id % 2), the rest keep their id.
# At sf0.01 the two hot items carry ~20% of all events each (~2000 of
# 10000) while every uniform item sits near 67 — a clean heavy-hitter
# separation at threshold N/100.
CMS_HOT_USER_MOD = 5
CMS_HOT_USER_LIM = 2
CMS_HOT_ITEM_MOD = 2
CMS_HH_DIVISOR = 100  # heavy hitter ⇔ est_cnt ≥ ⌈N / 100⌉

_CMS_ITEM_SQL = (
    f"CASE WHEN user_id % {CMS_HOT_USER_MOD} < {CMS_HOT_USER_LIM}"
    f" THEN user_id % {CMS_HOT_ITEM_MOD} ELSE user_id END"
)


def _cms_item() -> Column:
    return F.when(
        F.col("user_id") % CMS_HOT_USER_MOD < CMS_HOT_USER_LIM,
        F.col("user_id") % CMS_HOT_ITEM_MOD,
    ).otherwise(F.col("user_id"))


def _cms_verdict(counts: DataFrame, cells: DataFrame) -> DataFrame:
    """Point-query the sketch for every distinct item and emit the
    heavy-hitter verdict next to the exact count (the verification
    harness — at 100 TB you keep only item/est_cnt/is_heavy)."""
    from ..operators.sketch import cms_estimate

    est = cms_estimate(counts, cells)
    total = counts.agg(F.sum("exact_cnt").alias("__total"))
    thresh = F.expr(f"(__total + {CMS_HH_DIVISOR - 1}) div {CMS_HH_DIVISOR}")
    return est.crossJoin(F.broadcast(total)).select(
        "item",
        "exact_cnt",
        "est_cnt",
        (F.col("est_cnt") >= thresh).alias("is_heavy"),
        (F.col("exact_cnt") >= thresh).alias("is_true_heavy"),
        (F.col("est_cnt") >= F.col("exact_cnt")).alias("never_underestimates"),
    )


def x53_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters over the derived skewed item
    stream: D·W = 3072 cells estimate every item's frequency; an item
    is flagged heavy when its estimate clears ⌈N/100⌉.

    Both engines compute the sketch from the same md5 hash family, so
    ``est_cnt`` is hash-compared EXACTLY, not just bounded — and the
    two CMS invariants ride along as checked booleans: estimates never
    underestimate (is_true_heavy ⇒ is_heavy: the sketch has no false
    negatives), and the exact counts pin the false-positive margin.

    Shape at 100 TB: the sketch build partial-aggregates map-side to
    ≤ D·W cells per task (operators/sketch.py); here it is built from
    the (item, cnt) table — the sketch is linear in counts, so the
    constructions are cell-identical and the exact counts are needed
    anyway as the verification harness.  The probe side broadcasts the
    24 KiB cell table; no exchange beyond the one counts shuffle."""
    from ..operators.sketch import cms_cells

    ev = load_table(spark, "events", sf_dir)
    # NULL user_id rows (the NULL probe) carry no item identity —
    # excluded in both engines (see _x53_sql's WHERE)
    counts = (
        ev.select(_cms_item().alias("item"))
        .where(F.col("item").isNotNull())
        .groupBy("item")
        .agg(F.count("*").alias("exact_cnt"))
        # counts feeds three consumers (cells, probe, total); pin the
        # distinct-item table so the events scan + shuffle runs once
        .localCheckpoint()
    )
    cells = cms_cells(counts, weight="exact_cnt")
    return _cms_verdict(counts, cells)


def st09_streaming_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of x53 — the MERGEABILITY proof: events arrive as
    a file-source stream (several files → several micro-batches), each
    micro-batch builds its own D×W cell table from raw rows in
    foreachBatch and appends it; the running sketch is the cellwise sum
    of everything appended.  Because the sketch is linear, the merged
    sketch equals the one-shot batch sketch cell-for-cell — so the
    oracle is x53's SQL, and a drifting merge hash-fails the driver."""
    import os as _os

    from ..streaming.pipeline import streaming_sketch_merge

    ev = load_table(spark, "events", sf_dir)
    with scratch_dir("st09_") as root:
        batch_dir = _os.path.join(root, "batch")
        cells_path = _os.path.join(root, "cells")
        ckpt = _os.path.join(root, "ckpt")
        # several arriving files → several micro-batch sketches to merge
        ev.select(_cms_item().alias("item")).where(
            F.col("item").isNotNull()
        ).repartition(3).write.parquet(batch_dir)
        streaming_sketch_merge(spark, batch_dir, cells_path, ckpt)
        merged = (
            read_parquet_noinfer(spark, cells_path)
            .groupBy("seed", "bucket")
            .agg(F.sum("cell_cnt").alias("cell_cnt"))
            .localCheckpoint()  # pin before the scratch dir disappears
        )
    counts = (
        load_table(spark, "events", sf_dir)
        .select(_cms_item().alias("item"))
        .where(F.col("item").isNotNull())
        .groupBy("item")
        .agg(F.count("*").alias("exact_cnt"))
        .localCheckpoint()
    )
    return _cms_verdict(counts, merged)


def _x53_sql() -> str:
    from ..operators.sketch import CMS_SEEDS, CMS_W

    seeds = ", ".join(f"({s})" for s in CMS_SEEDS)
    h = md5_long_sql(
        "concat(CAST(s.seed AS VARCHAR), '|', CAST(c.item AS VARCHAR))"
    )
    return f"""
WITH it AS (SELECT {_CMS_ITEM_SQL} AS item
            FROM events WHERE user_id IS NOT NULL),
c AS (SELECT item, COUNT(*) AS exact_cnt FROM it GROUP BY item),
pr AS (SELECT c.item, c.exact_cnt, s.seed, {h} % {CMS_W} AS bucket
       FROM c CROSS JOIN (VALUES {seeds}) AS s(seed)),
cells AS (SELECT seed, bucket, CAST(SUM(exact_cnt) AS BIGINT) AS cell_cnt
          FROM pr GROUP BY 1, 2),
e AS (SELECT pr.item, pr.exact_cnt, MIN(cells.cell_cnt) AS est_cnt
      FROM pr JOIN cells USING (seed, bucket) GROUP BY 1, 2),
t AS (SELECT CAST(SUM(exact_cnt) AS BIGINT) AS total FROM c)
SELECT e.item, e.exact_cnt, e.est_cnt,
       e.est_cnt >= (t.total + {CMS_HH_DIVISOR - 1}) // {CMS_HH_DIVISOR}
           AS is_heavy,
       e.exact_cnt >= (t.total + {CMS_HH_DIVISOR - 1}) // {CMS_HH_DIVISOR}
           AS is_true_heavy,
       e.est_cnt >= e.exact_cnt AS never_underestimates
FROM e, t
"""


# ---------------------------------------------------------------------------
# windowed event aggregation (batch form; streaming variant in streaming/)
# ---------------------------------------------------------------------------


def x09_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per event_type (count + sum)."""
    return tumbling_agg(load_table(spark, "events", sf_dir), "1 hour")


_X09_SQL = f"""
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
       COUNT(*) AS n_events,
       {round_fixed_sql('SUM(value)', 6)} AS sum_value
FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
"""


def x10_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour windows every 30 minutes (each event lands in 2)."""
    return sliding_agg(load_table(spark, "events", sf_dir), "1 hour", "30 minutes")


_X10_SQL = """
SELECT window_start, COUNT(*) AS n_events FROM (
    SELECT unnest([
        time_bucket(INTERVAL '30 minutes', ts),
        time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'
    ]) AS window_start
    FROM events WHERE ts IS NOT NULL)
GROUP BY window_start
"""


def x11_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min inactivity gap) via gaps-and-islands."""
    return sessionize(load_table(spark, "events", sf_dir), gap="30 minutes")


def x56_native_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via Spark's NATIVE ``F.session_window`` — the
    Catalyst session-window operator (one MergingSessionsExec pass over
    a user_id exchange), beside x11's relational gaps-and-islands form.
    Two implementations of the same concept, both oracle-verified; the
    native one is what the streaming path uses under the hood.

    Boundary semantics pinned empirically and encoded in the oracle: a
    new session starts when the gap STRICTLY exceeds 30 minutes at
    MICROSECOND precision (an event exactly gap-after its predecessor
    merges), and ``window.end`` is last_event + gap (x11's
    ``session_end`` is max(ts) — the two queries expose different
    ends on purpose).  NULL ts rows carry no event time — excluded in
    both engines."""
    ev = load_table(spark, "events", sf_dir).where(F.col("ts").isNotNull())
    sw = ev.groupBy("user_id", F.session_window("ts", "30 minutes")).agg(
        F.count("*").alias("n_events")
    )
    return sw.select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end_gap"),
        "n_events",
    )


_X56_SQL = """
WITH e AS (SELECT user_id, ts FROM events WHERE ts IS NOT NULL),
lagged AS (
    SELECT user_id, ts,
           LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
    FROM e),
flagged AS (
    SELECT user_id, ts,
           CASE WHEN prev_ts IS NULL
                     OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                THEN 1 ELSE 0 END AS new_session
    FROM lagged),
numbered AS (
    SELECT user_id, ts,
           CAST(SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS session_seq
    FROM flagged)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL '30 minutes' AS session_end_gap,
       COUNT(*) AS n_events
FROM numbered GROUP BY user_id, session_seq
"""


_X11_SQL = """
WITH lagged AS (
    SELECT user_id, ts,
           LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
    FROM events WHERE ts IS NOT NULL),
flagged AS (
    SELECT user_id, ts,
           CASE WHEN prev_ts IS NULL
                     OR CAST(FLOOR(epoch(ts)) AS BIGINT)
                        - CAST(FLOOR(epoch(prev_ts)) AS BIGINT) > 1800
                THEN 1 ELSE 0 END AS new_session
    FROM lagged),
numbered AS (
    SELECT user_id, ts,
           CAST(SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS session_seq
    FROM flagged)
SELECT user_id, session_seq,
       MIN(ts) AS session_start, MAX(ts) AS session_end,
       COUNT(*) AS n_events
FROM numbered GROUP BY user_id, session_seq
"""


def x26_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (operators.packing): documents
    laid end-to-end per shard, cut every 256 tokens — the layout step
    that turns a ragged corpus into fixed-length training sequences.
    One shuffle on the shard key; all-integer arithmetic."""
    from ..operators.packing import pack_sequences

    return pack_sequences(
        load_table(spark, "documents", sf_dir), capacity=256, n_shards=8
    )


def _x26_sql() -> str:
    n_toks = _N_TOKS
    return f"""
WITH counted AS (
    SELECT doc_id, CAST({n_toks} AS BIGINT) AS n_tokens FROM documents),
sharded AS (
    SELECT doc_id, doc_id % 8 AS shard, n_tokens FROM counted
    WHERE n_tokens > 0),
laid AS (
    -- DuckDB promotes windowed SUM(BIGINT) to HUGEINT; cast back so the
    -- driver's typed value-hash matches Spark's BIGINT (round-4 red row).
    SELECT doc_id, shard, n_tokens,
           CAST(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS BIGINT) AS "offset"
    FROM sharded)
SELECT doc_id, shard, n_tokens, "offset",
       CAST("offset" // 256 AS BIGINT) AS chunk_first,
       CAST(("offset" + n_tokens - 1) // 256 AS BIGINT) AS chunk_last,
       CAST(("offset" + n_tokens - 1) // 256 AS BIGINT)
           - CAST("offset" // 256 AS BIGINT) + 1 AS n_chunks
FROM laid
"""


def x27_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization (functions.vectors): per
    vector, scale = max|v|/127, q_i = round(v_i/scale).  The compression
    step before shipping embeddings to an ANN index or training job —
    4× smaller than float32 at ~0.4% max error.  Zero-shuffle
    projection; summary scalars (L1 norm, min/max, exact max
    reconstruction error) instead of the raw array so the driver's
    canonicalizer sees flat columns (the x21 round-1 lesson)."""
    from ..functions.vectors import max_abs, quantize_int8, usable_vec

    # finite vectors only (zero vectors are fine — the scale-0 guard
    # keeps them at q=0); a NaN would hit the ANSI bigint cast
    e = load_table(spark, "embeddings", sf_dir).where(
        usable_vec(F.col("embedding"), require_nonzero=False)
    )
    scale = (max_abs(F.col("embedding")) / F.lit(127.0)).alias("scale")
    staged = e.select("vec_id", "embedding", scale)
    q = quantize_int8(F.col("embedding"), F.col("scale"))
    recon_err = F.array_max(
        F.zip_with(
            F.col("embedding"),
            q,
            lambda v, qi: F.abs(v.cast("double") - qi * F.col("scale")),
        )
    )
    return staged.select(
        "vec_id",
        "scale",
        F.aggregate(
            q, F.lit(0).cast("long"), lambda acc, v: acc + F.abs(v)
        ).alias("q_l1"),
        F.array_min(q).alias("q_min"),
        F.array_max(q).alias("q_max"),
        recon_err.alias("max_abs_err"),
    )


_X27_SQL = f"""
WITH staged AS (
    SELECT vec_id, embedding,
           list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE))))
               / 127.0 AS scale
    FROM {_EMB_FINITE} e),
quantized AS (
    SELECT vec_id, embedding, scale,
           list_transform(embedding, v ->
               CASE WHEN scale = 0.0 THEN 0
                    ELSE CAST(ROUND(CAST(v AS DOUBLE) / scale, 0) AS BIGINT)
               END) AS q
    FROM staged)
SELECT vec_id, scale,
       CAST(list_sum(list_transform(q, x -> abs(x))) AS BIGINT) AS q_l1,
       list_min(q) AS q_min,
       list_max(q) AS q_max,
       list_max(list_transform(range(1, len(embedding) + 1),
           i -> abs(CAST(embedding[i] AS DOUBLE) - q[i] * scale)))
           AS max_abs_err
FROM quantized
"""


# x51: target dim and seed for the ±1 random projection.  K = 4 makes
# the Johnson-Lindenstrauss scale 1/sqrt(K) = 0.5 EXACT in binary
# floating point — no engine-divergent sqrt literal.
_RP_K = 4
_RP_SEED = "rp0"


def _rp_signs(k: int, dim: int) -> list[list[int]]:
    """Deterministic ±1 projection matrix: sign from the parity of the
    first md5 byte of 'seed|row|col'.  Computed DRIVER-SIDE once and
    embedded as literals in both engines' plans — per-row work is pure
    arithmetic, no hashing."""
    import hashlib

    return [
        [
            1
            if hashlib.md5(
                f"{_RP_SEED}|{r}|{c}".encode()
            ).digest()[0] % 2 == 0
            else -1
            for c in range(dim)
        ]
        for r in range(k)
    ]


def x51_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimensionality reduction by signed random projection
    (Achlioptas 2003 database-friendly JL: entries ±1, scale 1/√K):
    64-dim embeddings → K=4 sketch dims, r_k = 0.5·Σ_j s_kj·v_j.

    The sketch step before cheap pre-filtering / coarse clustering of
    an embedding corpus; x14's SRP-LSH keeps only the SIGNS of such
    projections — this keeps the values.  Zero-shuffle scan-local
    projection; the per-vector reduction is a fixed-dim (64-element)
    sequential fold, identical left-to-right order in both engines
    (the established x07/x14 float-parity pattern)."""
    from ..functions.vectors import usable_vec

    e = load_table(spark, "embeddings", sf_dir).where(
        usable_vec(F.col("embedding"), require_nonzero=False)
    )
    dim = 64  # fixture contract (TESTDATA.md); asserted by the oracle twin
    signs = _rp_signs(_RP_K, dim)
    cols = []
    for k in range(_RP_K):
        sk = F.array(*[F.lit(float(s)) for s in signs[k]])
        dot = F.aggregate(
            F.zip_with(
                F.col("embedding"), sk, lambda v, s: v.cast("double") * s
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        cols.append(round_fixed(dot * F.lit(0.5), 6).alias(f"r{k}"))
    return e.select("vec_id", *cols)


def _x51_sql() -> str:
    signs = _rp_signs(_RP_K, 64)
    outs = []
    for k in range(_RP_K):
        arr = "[" + ", ".join(f"{float(s):.1f}" for s in signs[k]) + "]"
        dot = (
            f"list_sum(list_transform(range(1, 65), "
            f"i -> CAST(embedding[i] AS DOUBLE) * ({arr})[i]))"
        )
        outs.append(round_fixed_sql(f"({dot}) * 0.5", 6) + f" AS r{k}")
    return f"""
SELECT vec_id, {', '.join(outs)}
FROM {_EMB_FINITE} e
"""


def x28_stable_row_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense 0-based row enumeration without a global sort
    (operators.ids): per-shard rank + broadcast cumulative offsets.
    The oracle states the semantic contract directly — the distributed
    two-phase plan must equal ``ROW_NUMBER() OVER (ORDER BY shard,
    key) - 1`` computed the single-threaded way."""
    from ..operators.ids import stable_row_ids

    # spread=False: one-column input that stable_row_ids immediately
    # re-shuffles by shard — a spread exchange would be a dead stage.
    docs = load_table(spark, "documents", sf_dir, spread=False).select("doc_id")
    return stable_row_ids(docs, "doc_id", n_shards=8)


_X28_SQL = """
SELECT doc_id, doc_id % 8 AS shard,
       CAST(ROW_NUMBER() OVER (ORDER BY doc_id % 8, doc_id) - 1 AS BIGINT)
           AS row_id
FROM documents
"""


# x63: fuzzy key-join geometry.  Key = first 16 chars of the
# whitespace-normalized, casefolded, ASCII-squashed text (ASCII-only so
# Spark's UTF-16 levenshtein and DuckDB's codepoint levenshtein count
# identically — stated contract, not an accident), distance band 2.
# MIN_KEY guards the squash's degenerate corner: on a pure-CJK/RTL
# corpus every document squashes to the empty key, and without a floor
# those all pair at distance 0 — quadratic, meaningless output.  Keys
# shorter than 4 chars emit no pairs (operators/fuzzy.py
# edit_distance_pairs(min_key_len=...); pinned by the CJK/RTL fixture
# in tests/test_fuzzy.py and the unicode probe sweep).
_FUZZY_KEY_LEN = 16
_FUZZY_MAX_DIST = 2
_FUZZY_MIN_KEY = 4


def _fuzzy_key_expr() -> Column:
    """Spark side of the x63 key: normalize whitespace, casefold
    (divergence-free lower), strip every non-printable-ASCII char
    (including the combining dot casefold itself introduces), take the
    16-char prefix."""
    ws = F.regexp_replace(F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+", " ")
    ascii_only = F.regexp_replace(casefold(ws), "[^ -~]", "")
    return F.substring(ascii_only, 1, _FUZZY_KEY_LEN)


def x63_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance self-join (operators.fuzzy): every unordered doc
    pair whose normalized 16-char key prefix is within 2 Levenshtein
    edits — typo-distance entity matching, the near-dup signal exact
    fingerprints (x01) and token shingles (x03/x04) both miss.

    Candidate generation is PassJoin segment banding over DISTINCT
    keys (lossless by pigeonhole — see operators/fuzzy.py), verified
    with the thresholded native levenshtein; never an all-pairs
    product.  The oracle IS the brute-force quadratic join, so the
    banding's losslessness is hash-checked every round."""
    from ..operators.fuzzy import edit_distance_pairs

    # materialize the (doc_id, fkey) proxy ONCE: edit_distance_pairs
    # consumes its input from six plan subtrees (distance-0 self-join
    # ×2, distinct keys feeding segments AND probes, and the two
    # expansion joins), and each subtree re-ran the full corpus scan
    # plus the casefold/ASCII-squash regex chain — the plan showed six
    # parquet scans (plans/r11/x63_fuzzy_join_before.txt).  The proxy
    # is ~25 B/doc (id + 16-char key) — guide §8's decide-with-small-
    # rows shape: one heavy scan, six cheap reads.
    docs = (
        load_table(spark, "documents", sf_dir)
        .select("doc_id", _fuzzy_key_expr().alias("fkey"))
        .localCheckpoint()
    )
    return edit_distance_pairs(
        docs,
        key_col="fkey",
        id_col="doc_id",
        max_dist=_FUZZY_MAX_DIST,
        min_key_len=_FUZZY_MIN_KEY,
    )


def _x63_sql() -> str:
    key = (
        f"substr(regexp_replace("
        + _CASEFOLD_SQL.format(
            c="regexp_replace(trim(coalesce(text, '')), '\\s+', ' ', 'g')"
        )
        + f", '[^ -~]', '', 'g'), 1, {_FUZZY_KEY_LEN})"
    )
    return f"""
WITH k AS (SELECT doc_id, fkey
           FROM (SELECT doc_id, {key} AS fkey FROM documents)
           WHERE length(fkey) >= {_FUZZY_MIN_KEY})
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(a.fkey, b.fkey) AS INTEGER) AS dist
FROM k a JOIN k b ON a.doc_id < b.doc_id
WHERE levenshtein(a.fkey, b.fkey) <= {_FUZZY_MAX_DIST}
"""


# x64: MMR diversified retrieval geometry.  8 query vectors, pool of
# 12 brute-force candidates, 5 picks, lambda 0.7.  ONE_MINUS_LAM is a
# separate literal (NOT 1-lam): IEEE 1-0.7 = 0.30000000000000004, and
# both engines must multiply by the same double.
_MMR_K, _MMR_POOL, _MMR_NQ = 5, 12, 8
_MMR_LAM, _MMR_ONE_MINUS_LAM = 0.7, 0.3


def x64_mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversified top-k (operators.similarity.mmr_rerank): greedy
    relevance-minus-redundancy rerank of each query's brute-force
    candidate pool — the retrieval diversifier after ANN candidate
    generation.  Selection runs in applyInPandas per query (bounded
    <= pool rows of state); the oracle unrolls the same greedy loop as
    chained SQL CTEs, so the non-relational execution path is
    hash-verified step by step."""
    emb = load_table(spark, "embeddings", sf_dir)
    return mmr_rerank(
        emb,
        emb.where(F.col("vec_id") < _MMR_NQ),
        k=_MMR_K,
        pool=_MMR_POOL,
        lam=_MMR_LAM,
        one_minus_lam=_MMR_ONE_MINUS_LAM,
    )


def _mmr_sql_tail(pool_ctes: str) -> str:
    """The greedy MMR loop unrolled as chained CTEs over an arbitrary
    candidate-pool CTE chain (must end with CTE ``pool``(query_id,
    cand_id, rel)): sel{i} picks step i's argmax of lam*rel -
    one_minus_lam*max(sim to selected), ties on ascending cand_id;
    selu{i} accumulates the selected set.  Shared by x64 (brute-force
    pool) and x66/x67 (IVF-PQ ANN pools) so the selection semantics can
    never drift between them.

    ``pool`` and ``pairs`` are declared MATERIALIZED (a purely physical
    hint): the greedy unroll references them once per step, and cand{i}
    re-references pairs from a correlated subquery — without the hint
    DuckDB inlined x67's pool (the full ANN chain, 8 per-subspace
    encode CTEs) at every reference and OOM-killed an 8 GB limit at
    sf0.01 (round-10, caught by re-driving the contract after x67's
    registration; x64/x66 happened to dodge the inliner, x67's
    LIMIT/OFFSET query CTE did not)."""
    cos = round_fixed_sql(cosine_sql("ea.embedding", "eb.embedding"), 6)
    parts = [
        f"""WITH {pool_ctes},
pairs AS MATERIALIZED (SELECT * FROM (
    SELECT p1.query_id, p1.cand_id AS a, p2.cand_id AS b, {cos} AS sim
    FROM pool p1
    JOIN pool p2 ON p1.query_id = p2.query_id AND p1.cand_id != p2.cand_id
    JOIN embeddings ea ON ea.vec_id = p1.cand_id
    JOIN embeddings eb ON eb.vec_id = p2.cand_id)
    WHERE NOT isnan(sim)),
sel1 AS (
    SELECT query_id, cand_id, 1 AS mmr_rank,
           {_MMR_LAM} * rel - {_MMR_ONE_MINUS_LAM} * 0.0 AS mmr_score
    FROM (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY query_id ORDER BY rel DESC, cand_id ASC) AS rn
          FROM pool) WHERE rn = 1),
selu1 AS (SELECT * FROM sel1)"""
    ]
    for i in range(2, _MMR_K + 1):
        parts.append(
            f"""cand{i} AS (
    SELECT p.query_id, p.cand_id, p.rel,
           COALESCE((SELECT max(pr.sim) FROM pairs pr
            JOIN selu{i - 1} s ON s.query_id = pr.query_id
                              AND s.cand_id = pr.b
            WHERE pr.query_id = p.query_id AND pr.a = p.cand_id),
            0.0) AS msim
    FROM pool p
    WHERE NOT EXISTS (SELECT 1 FROM selu{i - 1} s
                      WHERE s.query_id = p.query_id
                        AND s.cand_id = p.cand_id)),
sel{i} AS (
    SELECT query_id, cand_id, {i} AS mmr_rank,
           {_MMR_LAM} * rel - {_MMR_ONE_MINUS_LAM} * msim AS mmr_score
    FROM (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY query_id
              ORDER BY {_MMR_LAM} * rel - {_MMR_ONE_MINUS_LAM} * msim DESC,
                       cand_id ASC) AS rn
          FROM cand{i}) WHERE rn = 1),
selu{i} AS (SELECT * FROM selu{i - 1} UNION ALL SELECT * FROM sel{i})"""
        )
    return (
        ",\n".join(parts)
        + f"""
SELECT query_id, cand_id, CAST(mmr_rank AS INTEGER) AS mmr_rank, mmr_score
FROM selu{_MMR_K}
"""
    )


def _x64_sql() -> str:
    """x64's oracle: brute-force cosine pool, then the unrolled greedy
    MMR chain."""
    pool_ctes = f"""scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
           {round_fixed_sql(cosine_sql('q.embedding', 'c.embedding'), 6)} AS rel
    FROM {_EMB_USABLE} q, {_EMB_USABLE} c
    WHERE q.vec_id < {_MMR_NQ} AND c.vec_id != q.vec_id),
pool AS MATERIALIZED (
    SELECT query_id, cand_id, rel FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY rel DESC, cand_id ASC) AS rn
        FROM scored)
    WHERE rn <= {_MMR_POOL} AND NOT isnan(rel))"""
    return _mmr_sql_tail(pool_ctes)


def x66_ann_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversified top-k over ANN candidates — the end-to-end RAG
    retrieval shape (r8 verdict #2: x64's brute-force pool was its only
    corpus-scaling term).  Candidate generation is IVF×PQ (x62's model:
    cell pruning decides WHICH vectors each query scans, ADC over codes
    decides WHAT each scan touches); the ~pool survivors per query are
    exact-reranked to cosine relevance (|Q|·pool id-keyed vector
    lookups — batch-sized, not corpus-sized), then the same greedy MMR
    selection as x64 diversifies the top-k.  NO stage of the rerank
    scans the corpus: the only corpus-wide work is the ANN scoring
    join, which touches ~nprobe/n_cells of the codes.  Oracle: the x62
    ANN CTE chain feeding x64's unrolled greedy chain — both halves
    shared with their parent oracles, so none of the three can drift."""
    from ..functions.vectors import usable_vec
    from ..operators.pq import ivf_pq_topk

    fin, cents, books, _init = _ivf_pq_model(spark, sf_dir)
    if not cents or not books[0]:
        # empty corpus (the empty-inputs contract)
        return spark.createDataFrame(
            [], "query_id long, cand_id long, mmr_rank int, mmr_score double"
        )
    emb = load_table(spark, "embeddings", sf_dir)
    usable = emb.where(usable_vec(F.col("embedding")))
    queries = usable.where(F.col("vec_id") < _MMR_NQ)
    cand = ivf_pq_topk(
        fin, queries, cents, books, k=_MMR_POOL, nprobe=_X62_NPROBE
    )
    pool_df = _exact_cosine_pool(usable, cand)
    return mmr_rerank(
        emb,
        queries,
        k=_MMR_K,
        lam=_MMR_LAM,
        one_minus_lam=_MMR_ONE_MINUS_LAM,
        pool_df=pool_df,
    )


def _exact_cosine_pool(usable: DataFrame, cand: DataFrame) -> DataFrame:
    """Exact cosine rerank of ANN survivors to an MMR candidate pool
    (query_id, cand_id, rel): |Q|·pool id-keyed vector lookups —
    batch-sized, never corpus-sized.  Zero-norm candidates drop here
    (cosine undefined), mirroring the oracle's usable join.  Shared by
    x66 (in-plan ANN pool) and x67 (persisted-index pool) so the rerank
    semantics can never drift between the registered and the production
    composition."""
    from ..functions.vectors import cosine_staged, norm_col
    from ..session import cached_column

    spark = usable.sparkSession
    vn = norm_col(spark, "embedding")
    # pure trees of column names: built once per session
    rel = cached_column(
        spark,
        ("exact_cosine_rel",),
        lambda: round_fixed(
            cosine_staged(
                F.col("__qv"), F.col("__cv"), F.col("__qn"), F.col("__cn")
            ),
            6,
        ).alias("rel"),
    )
    return (
        cand.join(
            usable.select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("__qv"),
                vn.alias("__qn"),
            ),
            "query_id",
        )
        .join(
            usable.select(
                F.col("vec_id").alias("cand_id"),
                F.col("embedding").alias("__cv"),
                vn.alias("__cn"),
            ),
            "cand_id",
        )
        .select("query_id", "cand_id", rel)
    )


def x67_persisted_ann_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production RAG serving shape as a SCORED query: candidate
    generation FROM the persisted IVF-PQ index x65 serves from (one
    model and index per session and embeddings table, built on the
    first call and after a file changes, :func:`_ivf_pq_index`),
    scoring a LATER disjoint query batch (the
    finite vectors ranked {_X62_NQ}..{2·_X62_NQ}, the x61 offset
    pattern) with the codes scan pushed down to ``__cell IN (probed
    cells)`` — then x66's exact cosine rerank of the pool survivors and
    the same greedy MMR diversification (:func:`x67_serving_frame`).  No
    call after the first re-encodes or re-trains: the per-batch cost is
    O(postings of the probed cells) + O(|Q|·pool) rerank + a
    corpus-independent greedy — the 7.5×-per-1000× decade
    tools/ivfpq_persist_probe.py measures, now attached to a registered
    name.  Oracle: the shared x62 ANN CTE chain with the OFFSET query
    batch feeding the shared x64 greedy chain — every half reused from a
    parent oracle, so none can drift."""
    root, model = _ivf_pq_index(spark, sf_dir)
    return x67_serving_frame(spark, sf_dir, root, model).localCheckpoint()


def x67_serving_frame(
    spark: SparkSession, sf_dir: str, root: str, model: tuple
) -> DataFrame:
    """The UNMATERIALIZED persisted-pool MMR frame of x67's query batch
    against the index at ``root`` — split out so the plan audit can
    explain the real scoring plan (the pushed ``__cell IN`` filter
    under the rerank/MMR stages) instead of the localCheckpoint's
    ``Scan ExistingRDD``.  Reads ``root`` lazily."""
    from ..functions.vectors import usable_col

    _schema, cents, books, _init = model
    if not cents or not books[0]:
        return spark.createDataFrame(
            [], "query_id long, cand_id long, mmr_rank int, mmr_score double"
        )
    queries, cand = _persisted_ann(spark, root, model, _MMR_POOL)
    emb = load_table(spark, "embeddings", sf_dir)
    usable = emb.where(usable_col(spark, "embedding"))
    pool_df = _exact_cosine_pool(usable, cand)
    return mmr_rerank(
        emb,
        queries,
        k=_MMR_K,
        lam=_MMR_LAM,
        one_minus_lam=_MMR_ONE_MINUS_LAM,
        pool_df=pool_df,
    )


def _x67_sql() -> str:
    """x67's oracle: the shared IVF×PQ ANN chain over the OFFSET query
    batch (disjoint from x62's — proving the artifact serves later
    batches), exact-reranked to cosine rel, feeding the shared unrolled
    greedy MMR chain."""
    ann = _x62_ann_ctes(
        _x62_q_sql(query_offset=_X62_NQ), _MMR_POOL, _X62_NPROBE
    )
    rel = round_fixed_sql(cosine_sql("qe.embedding", "ce.embedding"), 6)
    pool_ctes = (
        ann
        + f""",
pool AS MATERIALIZED (
    SELECT * FROM (
        SELECT a.query_id, a.cand_id, {rel} AS rel
        FROM ann a
        JOIN {_EMB_USABLE} qe ON qe.vec_id = a.query_id
        JOIN {_EMB_USABLE} ce ON ce.vec_id = a.cand_id)
    WHERE NOT isnan(rel))"""
    )
    return _mmr_sql_tail(pool_ctes)


def _x66_sql() -> str:
    """x66's oracle: the shared IVF×PQ ANN CTE chain (MMR query set,
    top-pool candidates), exact-reranked to cosine rel, feeding the
    shared unrolled greedy MMR chain."""
    ann = _x62_ann_ctes(
        f"SELECT vec_id AS query_id, embedding AS qv FROM {_EMB_USABLE}"
        f" WHERE vec_id < {_MMR_NQ}",
        _MMR_POOL,
        _X62_NPROBE,
    )
    rel = round_fixed_sql(cosine_sql("qe.embedding", "ce.embedding"), 6)
    pool_ctes = (
        ann
        + f""",
pool AS MATERIALIZED (
    SELECT * FROM (
        SELECT a.query_id, a.cand_id, {rel} AS rel
        FROM ann a
        JOIN {_EMB_USABLE} qe ON qe.vec_id = a.query_id
        JOIN {_EMB_USABLE} ce ON ce.vec_id = a.cand_id)
    WHERE NOT isnan(rel))"""
    )
    return _mmr_sql_tail(pool_ctes)


# the persisted-index queries' build + serve at a root the caller owns,
# outside the registry: the plan audits explain these frames, whose
# index scans carry the pushed token-IN / __cell-IN filters; x45's
# scoring reads its LM artifacts instead of training them
SERVING_FRAMES: dict[str, Callable[[SparkSession, str, str], DataFrame]] = {
    "x61_bm25_persisted_index": lambda spark, sf_dir, root: x61_serving_frame(
        spark, root, x61_build_index(spark, sf_dir, root)
    ),
    "x65_ivf_pq_persisted_index": lambda spark, sf_dir, root: x65_serving_frame(
        spark, root, x65_build_index(spark, sf_dir, root)
    ),
    "x67_persisted_ann_mmr": lambda spark, sf_dir, root: x67_serving_frame(
        spark, sf_dir, root, x65_build_index(spark, sf_dir, root)
    ),
    "x45_bigram_lm": lambda spark, sf_dir, root: x45_serving_frame(
        spark, sf_dir, root, x45_build_model(spark, sf_dir, root)
    ),
}


EXT_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "x01_exact_dedup": x01_exact_dedup,
    "x02_minhash_signatures": x02_minhash_signatures,
    "x03_minhash_lsh_pairs": x03_minhash_lsh_pairs,
    "x04_ngram_jaccard": x04_ngram_jaccard,
    "x05_simhash": x05_simhash,
    "x06_embedding_near_dup": x06_embedding_near_dup,
    "x07_similarity_topk": x07_similarity_topk,
    "x08_text_stats": x08_text_stats,
    "x09_tumbling_window": x09_tumbling_window,
    "x10_sliding_window": x10_sliding_window,
    "x11_sessionize": x11_sessionize,
    "x12_ivf_topk": x12_ivf_topk,
    "x13_rolling_fingerprint": x13_rolling_fingerprint,
    "x14_embedding_lsh_near_dup": x14_embedding_lsh_near_dup,
    "x15_skew_salted_count": x15_skew_salted_count,
    "x16_asof_join": x16_asof_join,
    "x17_range_join": x17_range_join,
    "x18_hash_split": x18_hash_split,
    "x19_tfidf_topk": x19_tfidf_topk,
    "x58_bm25_topk": x58_bm25_topk,
    "x59_pq_encode": x59_pq_encode,
    "x60_pq_adc_topk": x60_pq_adc_topk,
    "x61_bm25_persisted_index": x61_bm25_persisted_index,
    "x62_ivf_pq_topk": x62_ivf_pq_topk,
    "st12_streaming_ivf_pq": st12_streaming_ivf_pq,
    "st11_streaming_bm25": st11_streaming_bm25,
    "x20_dedup_clusters": x20_dedup_clusters,
    "x21_approx_sketches": x21_approx_sketches,
    "x22_kmeans_clusters": x22_kmeans_clusters,
    "x23_profile": x23_profile,
    "x24_salted_join": x24_salted_join,
    "x25_stratified_sample": x25_stratified_sample,
    "x26_pack_sequences": x26_pack_sequences,
    "x27_quantize_embeddings": x27_quantize_embeddings,
    "x51_random_projection": x51_random_projection,
    "x41_semantic_dedup": x41_semantic_dedup,
    "x28_stable_row_ids": x28_stable_row_ids,
    "x53_cms_heavy_hitters": x53_cms_heavy_hitters,
    "st09_streaming_sketch_merge": st09_streaming_sketch_merge,
    "x54_zorder_layout": x54_zorder_layout,
    "x56_native_session_window": x56_native_session_window,
    "x57_mergeable_rollup": x57_mergeable_rollup,
    "x63_fuzzy_join": x63_fuzzy_join,
    "x64_mmr_diversified_topk": x64_mmr_diversified_topk,
    "x65_ivf_pq_persisted_index": x65_ivf_pq_persisted_index,
    "x66_ann_mmr_rerank": x66_ann_mmr_rerank,
    "x67_persisted_ann_mmr": x67_persisted_ann_mmr,
}

EXT_ORACLE: dict[str, str] = {
    "x01_exact_dedup": _X01_SQL,
    "x02_minhash_signatures": _X02_SQL,
    "x03_minhash_lsh_pairs": _X03_SQL,
    "x04_ngram_jaccard": _X04_SQL,
    "x05_simhash": _X05_SQL,
    "x06_embedding_near_dup": _X06_SQL,
    "x07_similarity_topk": _X07_SQL,
    "x08_text_stats": _X08_SQL,
    "x09_tumbling_window": _X09_SQL,
    "x10_sliding_window": _X10_SQL,
    "x11_sessionize": _X11_SQL,
    "x12_ivf_topk": _X12_SQL,
    "x13_rolling_fingerprint": _X13_SQL,
    "x14_embedding_lsh_near_dup": _x14_sql(),
    "x15_skew_salted_count": _X15_SQL,
    "x16_asof_join": _X16_SQL,
    "x17_range_join": _X17_SQL,
    "x18_hash_split": _x18_sql(),
    "x19_tfidf_topk": _X19_SQL,
    "x58_bm25_topk": _X58_SQL,
    "x59_pq_encode": _X59_SQL,
    "x60_pq_adc_topk": _X60_SQL,
    "x61_bm25_persisted_index": _X61_SQL,
    "x62_ivf_pq_topk": _X62_SQL,
    "st12_streaming_ivf_pq": _X62_SQL,
    "st11_streaming_bm25": _X58_SQL,
    "x20_dedup_clusters": _X20_SQL,
    "x23_profile": _X23_SQL,
    "x24_salted_join": _X24_SQL,
    "x25_stratified_sample": _x25_sql(),
    "x26_pack_sequences": _x26_sql(),
    "x27_quantize_embeddings": _X27_SQL,
    "x51_random_projection": _x51_sql(),
    "x41_semantic_dedup": _X41_SQL,
    "x28_stable_row_ids": _X28_SQL,
    # x21/x22 ship contract views — exact columns plus invariant/bound
    # booleans the oracle checks exactly — because raw sketch values and
    # k-means centroids are engine/float-order specific; accuracy is
    # pinned in tests against exact aggregates / numpy
    "x21_approx_sketches": _X21_SQL,
    "x22_kmeans_clusters": _X22_SQL,
    # x53/st09's estimates are EXACTLY reproducible (shared md5 cells),
    # so unlike x21 the sketch values themselves are hash-compared;
    # st09's oracle is x53's SQL — merged sketch ≡ one-shot sketch
    "x53_cms_heavy_hitters": _x53_sql(),
    "st09_streaming_sketch_merge": _x53_sql(),
    "x54_zorder_layout": _x54_sql(),
    "x56_native_session_window": _X56_SQL,
    # x57's oracle recomputes the rollup in ONE pass over all events;
    # matching the two-part merged state proves associativity
    "x57_mergeable_rollup": _X57_SQL,
    # x63's oracle is the brute-force quadratic levenshtein join — the
    # banding losslessness check itself
    "x63_fuzzy_join": _x63_sql(),
    # x64's oracle unrolls the greedy MMR loop as chained CTEs
    "x64_mmr_diversified_topk": _x64_sql(),
    "x65_ivf_pq_persisted_index": _X65_SQL,
    "x66_ann_mmr_rerank": _x66_sql(),
    "x67_persisted_ann_mmr": _x67_sql(),
}
