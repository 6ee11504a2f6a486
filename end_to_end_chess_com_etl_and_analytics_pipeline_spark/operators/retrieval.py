"""BM25 lexical retrieval: top-k documents per query.

The LLM-data-pipeline use case is retrieval-shaped selection: given
query terms (seed prompts, benchmark probes, topic keywords), pull the
k most relevant documents from the corpus — the lexical complement to
the embedding ANN path (operators/similarity.py).  The reference has no
retrieval surface; this is a north-star extension next to tf-idf
(plans/extensions.py::x19), which scores terms *within* a document
while BM25 ranks documents *against* a query.

Scoring is Okapi BM25 with the Lucene idf form:

    idf(t)    = ln(1 + (N - df + 0.5) / (df + 0.5))
    tfn(t, d) = tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))
    score(q, d) = Σ_{t ∈ q} idf(t)·tfn(t, d)

The operator is split into index / score stages so batch top-k
(``bm25_topk``) and streaming ingest against a FROZEN persisted index
(streaming/pipeline.py::streaming_bm25_scores, st11) share one kernel:

- ``bm25_tf``: corpus → (doc, term, tf, dl) with ONE shuffle (the tf
  aggregation); dl is computed AT THE SCAN (token-array size) and
  carried through the explode, so no per-doc window is ever paid.
- ``bm25_index``: tf → the frozen artifacts — a vocab-sized term table
  (token, df, cnt) and a 1-row scalar table (Σdl, N).  Both broadcast.
- ``bm25_score``: tf ⋈ broadcast(terms) ⋈ broadcast(queries) ⋈
  broadcast(scalars) → (query, doc, score).  Map-side hash joins: the
  corpus-sized side never shuffles again, however many queries probe.
- the only per-query exchange is the final top-k window, and Spark's
  WindowGroupLimit pushdown pre-filters each task to its local top-k,
  so the skinny final stage never sees the scored bulk.

A document's scores depend only on its own tokens and the frozen
index, so the union of per-batch scores equals the one-shot batch
scoring — the property st11's stream≡batch oracle pins.

Cross-engine determinism: every arithmetic step is written with the
same IEEE-double expression shape the DuckDB oracle uses (explicit
double casts, one division order), the final score is round_fixed to 6
decimals (the cosine contract), and ranking tie-breaks on doc id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.rounding import round_fixed
from ..functions.text import tokens
from ..session import run_concurrently
from .commit import hadoop_fs, rename_or_die


def bm25_tf(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, token, tf, dl) — the inverted-index fact table; one shuffle.
    min(dl) in the agg is a constant per doc (every row of the group
    carries the same scan-computed array size)."""
    toks = tokens(F.coalesce(F.col(text_col), F.lit("")))
    exploded = docs.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("dl"),
        F.explode(toks).alias("token"),
    )
    return exploded.groupBy(id_col, "token").agg(
        F.count("*").alias("tf"), F.min("dl").alias("dl")
    )


def bm25_index(tf: DataFrame, id_col: str = "doc_id") -> tuple[DataFrame, DataFrame]:
    """The frozen index artifacts from a tf table: ``terms`` (token,
    df, cnt — vocab-sized) and ``scalars`` (sum_dl, n_docs — 1 row).
    Documents with no tokens never reach tf, so they are excluded from
    the statistics (they have no length to normalize by)."""
    terms = tf.groupBy("token").agg(
        F.count("*").alias("df"), F.sum("tf").alias("cnt")
    )
    scalars = tf.groupBy().agg(
        F.sum("tf").alias("sum_dl"),
        F.countDistinct(id_col).alias("n_docs"),
    )
    return terms, scalars


def bm25_score(
    tf: DataFrame,
    terms: DataFrame,
    scalars: DataFrame,
    qterms: DataFrame,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    query_col: str = "query",
) -> DataFrame:
    """(query, id, score) for every (query, matching doc) pair.
    ``qterms`` is (query_col, token) — one row per query term.  All
    three small sides broadcast; the tf side never shuffles here."""
    joined = (
        tf.join(F.broadcast(terms.select("token", "df")), "token")
        .crossJoin(F.broadcast(scalars))
        .join(F.broadcast(qterms), "token")
    )
    # expression shapes mirror the oracle SQL exactly (one division
    # order, double literals) — see module docstring
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    rel_len = F.col("dl") / (
        F.col("sum_dl").cast("double") / F.col("n_docs")
    )
    tfn = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf") + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * rel_len)
    )
    scored = joined.select(
        query_col, id_col, (idf * tfn).alias("__term_score")
    )
    return scored.groupBy(query_col, id_col).agg(
        round_fixed(F.sum("__term_score"), 6).alias("score")
    )


def bm25_rank_topk(
    scores: DataFrame, k: int, id_col: str = "doc_id", query_col: str = "query"
) -> DataFrame:
    """Per-query top-k over a (query, id, score) table; ties break on
    ascending document id."""
    w = Window.partitionBy(query_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scores.withColumn("rnk", F.row_number().over(w).cast("int"))
        .where(F.col("rnk") <= k)
        .select(query_col, id_col, "score", "rnk")
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame | None = None,
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_col: str = "query",
    terms_col: str = "terms",
    top_terms: int = 8,
) -> DataFrame:
    """Top-``k`` documents per query by BM25.

    ``queries`` is ``(query_col, terms_col: array<string>)``; multi-term
    queries sum their per-term contributions.  ``queries=None`` derives
    single-term queries from the corpus itself — the ``top_terms``
    globally most frequent tokens (total occurrences desc, token asc) —
    straight from the index's term table, so the corpus is tokenized
    exactly once.  Returns ``(query_col, id_col, score, rnk)`` with
    ``rnk`` 1-based.

    The tf table is localCheckpoint'd: four plan subtrees consume it
    (the terms broadcast, the scalars broadcast, the derived-query
    limit, and the corpus-sided score join), and without
    materialization EACH one re-runs the tokenize+explode+agg — the
    "tokenized exactly once" promise only holds if tf is computed
    once (r11; guide §2.4/§5 — materialise a reused intermediate
    whose recompute costs more than its storage: tf is 3 ints + a
    token per row vs a full corpus re-tokenize per consumer)."""
    tf = bm25_tf(docs, text_col, id_col).localCheckpoint()
    terms, scalars = bm25_index(tf, id_col)
    if queries is None:
        qterms = (
            terms.orderBy(F.col("cnt").desc(), F.col("token").asc())
            .limit(top_terms)
            .select(F.col("token").alias(query_col), "token")
        )
    else:
        qterms = queries.select(
            F.col(query_col), F.explode(F.col(terms_col)).alias("token")
        )
    scores = bm25_score(tf, terms, scalars, qterms, k1, b, id_col, query_col)
    return bm25_rank_topk(scores, k, id_col, query_col)


def write_bm25_index(
    tf: DataFrame,
    terms: DataFrame,
    scalars: DataFrame,
    path: str,
) -> None:
    """Persist the FULL index — including the corpus-sized tf table —
    as parquet artifacts under ``path`` (tf/, terms/, scalars/), so
    repeated query batches amortize the corpus tokenize+shuffle (st11
    freezes only terms/scalars for streaming; scoring also needs tf).
    The tf table is range-laid-out by token and sorted within
    partitions, so a query batch's ``token IN (...)`` scan prunes
    parquet row groups by min/max stats — at 100 TB a batch touches
    only its terms' slices, never the whole index."""
    import os

    # materialize the tokenize+shuffle ONCE: the passed-in
    # terms/scalars carry the full tokenize+agg lineage (writing them
    # as-is re-tokenized the corpus twice more), and the tf range
    # layout's SAMPLING job would run the tokenize+shuffle a further
    # time to pick bounds.  One localCheckpoint fixes both: the range
    # write samples the checkpointed blocks, and terms/scalars are
    # re-derived from the same blocks (identical rows: bm25_index is a
    # deterministic aggregate of tf).  The three writes are then
    # independent — overlap them.
    tf_m = tf.localCheckpoint()
    id_col = next(c for c in tf_m.columns if c not in ("token", "tf", "dl"))
    terms_m, scalars_m = bm25_index(tf_m, id_col)

    run_concurrently(
        lambda: tf_m.repartitionByRange("token")
        .sortWithinPartitions("token")
        .write.mode("overwrite")
        .parquet(os.path.join(path, "tf")),
        lambda: terms_m.write.mode("overwrite").parquet(
            os.path.join(path, "terms")
        ),
        lambda: scalars_m.write.mode("overwrite").parquet(
            os.path.join(path, "scalars")
        ),
    )


def read_bm25_index(
    spark: "SparkSession",  # noqa: F821
    path: str,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(tf, terms, scalars) from a persisted index.  Footer schemas are
    read driver-side (read_parquet_noinfer) — three schema-inference
    jobs saved per open."""
    import os

    from ..sources.tables import read_parquet_noinfer

    return (
        read_parquet_noinfer(spark, os.path.join(path, "tf")),
        read_parquet_noinfer(spark, os.path.join(path, "terms")),
        read_parquet_noinfer(spark, os.path.join(path, "scalars")),
    )


def bm25_build_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Tokenize + aggregate the corpus once and persist the artifacts."""
    tf = bm25_tf(docs, text_col, id_col)
    terms, scalars = bm25_index(tf, id_col)
    write_bm25_index(tf, terms, scalars, path)


def _finish_refresh_commit(spark: "SparkSession", path: str, token: str) -> None:  # noqa: F821
    """Phase 2 of a refresh: swap the fully-staged artifacts live, then
    mark the delta applied and drop the intent.  Every step is a
    skip-if-already-done, so re-running after a crash at ANY point
    resumes cleanly — terms/scalars swap by whole-directory rename,
    and each staged tf file moves under a token-deterministic name (a
    re-run sees the destination and discards the source instead of
    appending a second copy)."""
    P, fs = hadoop_fs(spark, path)
    root = path.rstrip("/")
    for art in ("terms", "scalars"):
        staged = P(f"{root}/{art}.__staged_{token}__")
        if fs.exists(staged):
            fs.delete(P(f"{root}/{art}"), True)
            rename_or_die(fs, staged, P(f"{root}/{art}"))
    staged_tf = P(f"{root}/tf.__delta_{token}__")
    if fs.exists(staged_tf):
        for st in fs.listStatus(staged_tf):
            name = st.getPath().getName()
            if name.startswith("_") or name.startswith("."):
                continue  # _SUCCESS / checksums never go live
            dst = P(f"{root}/tf/delta_{token}_{name}")
            if fs.exists(dst):
                fs.delete(st.getPath(), False)
            else:
                rename_or_die(fs, st.getPath(), dst)
        fs.delete(staged_tf, True)
    fs.mkdirs(P(f"{root}/_applied_deltas"))
    fs.createNewFile(P(f"{root}/_applied_deltas/{token}"))
    fs.delete(P(f"{root}/_refresh_intent_{token}"), False)


def _recover_pending_refreshes(spark: "SparkSession", path: str) -> list[str]:  # noqa: F821
    """Finish any refresh that crashed mid-commit (intent file present
    means its staging completed against the PRE-delta state, so
    replaying the swaps is exact).  Runs before every refresh and
    before index reads are trusted; returns the recovered tokens."""
    P, fs = hadoop_fs(spark, path)
    root = P(path.rstrip("/"))
    if not fs.exists(root):
        return []
    recovered = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if name.startswith("_refresh_intent_"):
            token = name[len("_refresh_intent_") :]
            _finish_refresh_commit(spark, path, token)
            recovered.append(token)
    return recovered


def bm25_refresh_index(
    spark: "SparkSession",  # noqa: F821
    delta_docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    delta_token: str | None = None,
) -> bool:
    """Maintain the persisted index for APPEND-ONLY growth (new doc
    ids; re-ingesting an existing doc double-counts — the watermark /
    anti-join layers upstream own that guarantee, the same contract as
    the incremental LSH index, x35):

    - the delta's tf rows append to tf/ (disjoint doc ids — no
      old-partition rewrite; same token-range layout within the new
      files),
    - terms/ merges via a vocab-sized full-outer sum (df and cnt are
      additive over disjoint doc sets),
    - scalars/ adds element-wise (1 row).

    Only the delta is tokenized; the existing corpus is never rescanned
    — refresh cost is O(delta + vocab), not O(corpus).  Equal to a
    from-scratch rebuild over the union by construction (pinned by
    tests/test_retrieval.py).

    Crash safety (two-phase commit, single writer at a time): phase 1
    stages the delta tf and the merged terms/scalars to sibling temp
    dirs — nothing live is touched — then records an intent file.
    Phase 2 swaps the staged artifacts in with FileSystem renames and
    marks the delta applied.  A crash before the intent leaves the
    live index untouched (stale staging is clobbered by the next run);
    a crash after it is finished by the recovery sweep that runs at
    the top of every refresh, so tf can never stay inconsistent with
    terms/scalars.  Pass a stable ``delta_token`` (micro-batch id,
    ingest date) and a RETRIED refresh of an already-applied delta is
    a no-op instead of a double-append — the failure mode the
    append-only contract alone does not cover.  Returns True if the
    delta was applied, False if the token was already applied.
    """
    import os

    _recover_pending_refreshes(spark, path)
    token = delta_token if delta_token is not None else "adhoc"
    P, fs = hadoop_fs(spark, path)
    root = path.rstrip("/")
    if delta_token is not None and fs.exists(
        P(f"{root}/_applied_deltas/{token}")
    ):
        return False
    delta_tf = bm25_tf(delta_docs, text_col, id_col)
    d_terms, d_scalars = bm25_index(delta_tf, id_col)
    old_terms = spark.read.parquet(os.path.join(path, "terms"))
    old_scalars = spark.read.parquet(os.path.join(path, "scalars"))
    merged_terms = (
        old_terms.select("token", "df", "cnt")
        .withColumnsRenamed({"df": "df_a", "cnt": "cnt_a"})
        .join(
            d_terms.withColumnsRenamed({"df": "df_b", "cnt": "cnt_b"}),
            "token",
            "full_outer",
        )
        .select(
            "token",
            (
                F.coalesce("df_a", F.lit(0)) + F.coalesce("df_b", F.lit(0))
            ).alias("df"),
            (
                F.coalesce("cnt_a", F.lit(0)) + F.coalesce("cnt_b", F.lit(0))
            ).alias("cnt"),
        )
    )
    merged_scalars = (
        old_scalars.withColumnsRenamed(
            {"sum_dl": "sum_dl_a", "n_docs": "n_docs_a"}
        )
        .crossJoin(
            d_scalars.withColumnsRenamed(
                {"sum_dl": "sum_dl_b", "n_docs": "n_docs_b"}
            )
        )
        .select(
            (
                F.coalesce("sum_dl_a", F.lit(0))
                + F.coalesce("sum_dl_b", F.lit(0))
            ).alias("sum_dl"),
            (F.col("n_docs_a") + F.col("n_docs_b")).alias("n_docs"),
        )
    )
    # phase 1 — stage everything to sibling temp dirs (overwrite mode
    # clobbers leftovers from a pre-intent crash); live inputs are only
    # read here, never written, so no self-overwrite checkpoint needed
    (
        delta_tf.repartitionByRange("token")
        .sortWithinPartitions("token")
        .write.mode("overwrite")
        .parquet(os.path.join(root, f"tf.__delta_{token}__"))
    )
    merged_terms.write.mode("overwrite").parquet(
        os.path.join(root, f"terms.__staged_{token}__")
    )
    merged_scalars.write.mode("overwrite").parquet(
        os.path.join(root, f"scalars.__staged_{token}__")
    )
    # intent marks staging complete; phase 2 swaps are replay-safe
    fs.createNewFile(P(f"{root}/_refresh_intent_{token}"))
    _finish_refresh_commit(spark, path, token)
    return True


def bm25_topk_from_index(
    spark: "SparkSession",  # noqa: F821
    path: str,
    queries: DataFrame | None = None,
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    query_col: str = "query",
    terms_col: str = "terms",
    top_terms: int = 8,
    query_tokens: list[str] | None = None,
) -> DataFrame:
    """``bm25_topk`` against a PERSISTED index: no tokenization, no
    corpus shuffle — the tf scan carries a pushed ``token IN (query
    tokens)`` predicate (a query batch is driver-sized by definition),
    which the token-range parquet layout turns into row-group pruning.
    Scoring cost is O(postings of the query terms), independent of
    corpus size.

    ``query_tokens`` (optional) skips the collect job that otherwise
    derives the pruning token set from ``queries``: callers whose query
    terms are already driver-resident (x61 builds ``queries`` FROM a
    collected top-terms slice) pass the distinct token list directly
    (guide §5: driver-sized metadata the driver already holds).  Must
    cover every token of ``queries`` — supersets only cost extra scan,
    never change the result (bm25_score inner-joins on qterms)."""
    tf, terms, scalars = read_bm25_index(spark, path)
    if queries is None:
        qterms = (
            terms.orderBy(F.col("cnt").desc(), F.col("token").asc())
            .limit(top_terms)
            .select(F.col("token").alias(query_col), "token")
        )
    else:
        qterms = queries.select(
            F.col(query_col), F.explode(F.col(terms_col)).alias("token")
        )
    toks = (
        sorted(set(query_tokens))
        if query_tokens is not None
        else [
            r["token"] for r in qterms.select("token").distinct().collect()
        ]
    )
    # prune BOTH corpus-scaled artifacts to the batch's tokens: the tf
    # scan's IN-filter prunes row groups (token-range layout), and the
    # terms broadcast shrinks from vocab-sized to |batch| rows
    tf_pruned = tf.where(F.col("token").isin(toks))
    terms_pruned = terms.where(F.col("token").isin(toks))
    scores = bm25_score(
        tf_pruned, terms_pruned, scalars, qterms, k1, b, id_col, query_col
    )
    return bm25_rank_topk(scores, k, id_col, query_col)
