"""Similarity search over embedding columns.

Two tiers:

- ``brute_force_topk``: exact cosine top-k — broadcast the (small) query
  set against the full corpus; one pass over the corpus, per-partition
  partial top-k via window rank after AQE-coalesced shuffle on query id.
  This is the correctness baseline and is already the right plan when
  |queries| is small: the corpus is never shuffled, only the (q × n)
  score rows.
- ``ivf_topk``: IVF-style approximate search — assign every vector to
  its nearest coarse centroid (broadcast centroids), then search only
  the cells the query maps to (``nprobe`` nearest cells).  At 100 TB
  this turns a full-corpus scan per query into a scan of ~nprobe/k of
  the data, and the cell assignment is a one-off, cacheable projection.

No Python in the scoring path: cosine is zip_with/aggregate (codegen'd).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.rounding import round_fixed
from ..functions.vectors import cosine_staged, norm, norm_col, usable_col, usable_vec


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    Ties break on candidate id (ascending) so results are deterministic
    and oracle-comparable.  Self-matches (same id) are excluded.  Norms
    are staged once per vector (cosine_staged), so each of the q × n
    score rows does a single dot-product aggregation.

    Only usable vectors participate on either side (finite components,
    nonzero norm — functions.vectors.usable_vec); see
    embedding_near_dup_pairs for why.
    """
    corpus = corpus.where(usable_vec(F.col(vec_col)))
    queries = queries.where(usable_vec(F.col(vec_col)))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        norm(F.col(vec_col)).alias("__qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("cv"),
        norm(F.col(vec_col)).alias("__cn"),
    )
    scored = (
        c.join(F.broadcast(q))
        .where(F.col("query_id") != F.col("cand_id"))
        .withColumn(
            "cos",
            round_fixed(
                cosine_staged(
                    F.col("qv"), F.col("cv"), F.col("__qn"), F.col("__cn")
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("cand_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "cand_id", "cos", "rank")
    )


def assign_cells(
    corpus: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_id: str = "centroid_id",
    centroid_vec: str = "centroid",
) -> DataFrame:
    """IVF cell assignment: nearest centroid by cosine (broadcast join +
    max_by — one corpus pass, one shuffle keyed on the corpus id).

    The assignment score is rounded to 6 decimals and ties break on the
    lower centroid id (max_by over a (score, -id) struct), so the
    assignment is deterministic and reproducible by the DuckDB oracle's
    ROW_NUMBER(ORDER BY score DESC, id ASC) formulation.  The shuffle is
    keyed on ``id_col`` only — the embedding rides as an aggregated
    payload (every row of an id group carries the identical vector), so
    the wide array never becomes a shuffle key.  Norms are staged once
    per vector/centroid."""
    cent = centroids.select(
        F.col(centroid_id),
        F.col(centroid_vec).alias("__cv"),
        norm(F.col(centroid_vec)).alias("__cn"),
    )
    staged = corpus.select(
        F.col(id_col), F.col(vec_col), norm(F.col(vec_col)).alias("__vn")
    )
    scored = staged.join(F.broadcast(cent)).withColumn(
        "__score",
        round_fixed(
            cosine_staged(
                F.col(vec_col), F.col("__cv"), F.col("__vn"), F.col("__cn")
            ),
            6,
        ),
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.first(vec_col).alias(vec_col),
            F.max_by(
                F.col(centroid_id),
                F.struct(
                    F.col("__score").alias("s"),
                    (-F.col(centroid_id)).alias("t"),
                ),
            ).alias("cell"),
        )
    )


def _collect_codebook(
    centroids: DataFrame, centroid_id: str, centroid_vec: str
):
    """Collect the (driver-sized) IVF codebook as (ids, matrix, norms),
    id-ascending — so a first-maximum argmax reproduces the expression
    path's ``max_by((score, -id))`` lower-id tie-break."""
    import numpy as np

    cents = sorted(
        centroids.select(centroid_id, centroid_vec).collect(),
        key=lambda r: r[centroid_id],
    )
    ids = np.array([r[centroid_id] for r in cents], dtype=np.int64)
    M = np.array(
        [np.asarray(r[centroid_vec], dtype=np.float64) for r in cents]
    )
    c_norms = np.sqrt((M * M).sum(axis=1)) if len(cents) else M
    return ids, M, c_norms


def _round6_np(x):
    """numpy twin of functions.rounding.round_fixed(·, 6): scale by 1e6,
    HALF_UP away from zero on the scaled double, descale — bit-for-bit
    the arithmetic Spark's ``round(x*1e6, 0)/1e6`` performs."""
    import numpy as np

    scaled = x * 1e6
    fl = np.floor(scaled)
    ce = np.ceil(scaled)
    up = np.where(
        scaled >= 0,
        fl + ((scaled - fl) >= 0.5),
        ce - ((ce - scaled) >= 0.5),
    )
    return up / 1e6


def assign_cells_vectorized(
    corpus: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_id: str = "centroid_id",
    centroid_vec: str = "centroid",
) -> DataFrame:
    """:func:`assign_cells` at matrix-multiply speed — identical
    semantics (cosine rounded to 6 decimals, ties to the lower centroid
    id), verified row-identical by tests/test_scale_techniques.py.

    The expression formulation pays C interpreted array-aggregates per
    row plus a groupBy shuffle of the vector payload; at a 100× corpus
    that term dominates the whole query (measured: assignment is ~600×
    the probe's dot-product count).  Here the codebook — IVF codebooks
    are driver/broadcast-sized by construction (~100 cells for x12,
    √n for SemDeDup) — ships in the task closure, and each Arrow batch
    computes one ``(batch×D) @ (D×C)`` BLAS matmul: no join, no
    shuffle, no C-fold row blow-up, one narrow pass over the corpus.

    Rounding matches functions.rounding.round_fixed exactly
    (scale-by-1e6, HALF_UP away from zero, descale); argmax over the
    id-ascending centroid matrix takes the FIRST maximum — the same
    row ``max_by((score, -id))`` picks.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import LongType, StructField, StructType

    ids, M, c_norms = _collect_codebook(centroids, centroid_id, centroid_vec)
    src = corpus.select(id_col, vec_col)
    out_schema = StructType(
        [
            src.schema[id_col],
            src.schema[vec_col],
            StructField("cell", LongType(), True),
        ]
    )

    def _assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame(
                    {id_col: pdf[id_col], vec_col: pdf[vec_col], "cell": []}
                )
                continue
            V = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            v_norms = np.sqrt((V * V).sum(axis=1))
            scores = _round6_np(
                (V @ M.T) / (v_norms[:, None] * c_norms[None, :])
            )
            out = pdf[[id_col, vec_col]].copy()
            out["cell"] = ids[np.argmax(scores, axis=1)]
            yield out

    return src.mapInPandas(_assign, out_schema)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_id: str = "centroid_id",
    centroid_vec: str = "centroid",
) -> DataFrame:
    """Approximate top-k: search only the ``nprobe`` cells nearest each
    query.  Recall < 1.0 by design; the bench pairs it with
    brute_force_topk to report recall@k.

    FUSED scale path (row-identical to :func:`ivf_topk_joined`, pinned
    by tests/test_clustering.py): the query set and codebook are
    driver-sized by contract (queries are the small side of any ANN
    batch; the codebook is ~100–√n cells), so both ship in the task
    closure and ONE ``mapInPandas`` pass over the corpus does cell
    assignment AND probed-cell scoring per Arrow batch — two BLAS
    matmuls — emitting only skinny ``(query_id, cand_id, cos)`` rows
    for candidates that landed in a probed cell.  The corpus vectors
    never leave the scan: no assignment shuffle, no scoring join, no
    wide Arrow round-trip.  The only exchange left is the final
    per-query top-k window over |probed cells|·|cell| candidate rows.

    Only usable vectors participate (finite, nonzero — usable_vec); the
    centroid table is assumed clean (it is derived from a filtered
    corpus)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import DoubleType, StructField, StructType

    corpus = corpus.where(usable_vec(F.col(vec_col)))
    queries = queries.where(usable_vec(F.col(vec_col)))
    q_cells = _probe_cells(
        queries, centroids, nprobe, vec_col, id_col, centroid_id, centroid_vec
    )
    ids, M, c_norms = _collect_codebook(centroids, centroid_id, centroid_vec)
    # cell -> (query ids, query matrix, query norms), from the tiny
    # expression-scored probe frame (driver-sized: |queries|·nprobe rows)
    by_cell: dict = {}
    for r in q_cells.collect():
        by_cell.setdefault(r["cell"], []).append(
            (r["query_id"], np.asarray(r["qv"], dtype=np.float64))
        )
    probe = {
        cell: (
            np.array([q for q, _ in rows], dtype=np.int64),
            np.stack([v for _, v in rows]),
        )
        for cell, rows in by_cell.items()
    }

    src = corpus.select(id_col, vec_col)
    out_schema = StructType(
        [
            StructField("query_id", src.schema[id_col].dataType, True),
            StructField("cand_id", src.schema[id_col].dataType, True),
            StructField("cos", DoubleType(), True),
        ]
    )

    def _search(batches):
        empty = pd.DataFrame({"query_id": [], "cand_id": [], "cos": []})
        for pdf in batches:
            if len(pdf) == 0 or not probe:
                yield empty
                continue
            V = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            v_norms = np.sqrt((V * V).sum(axis=1))
            a_scores = _round6_np(
                (V @ M.T) / (v_norms[:, None] * c_norms[None, :])
            )
            cells = ids[np.argmax(a_scores, axis=1)]
            cand_ids = pdf[id_col].to_numpy()
            qid_out, cid_out, cos_out = [], [], []
            for cell, (q_ids, Q) in probe.items():
                mask = cells == cell
                if not mask.any():
                    continue
                Vc, nc, cc = V[mask], v_norms[mask], cand_ids[mask]
                q_norms = np.sqrt((Q * Q).sum(axis=1))
                cos = _round6_np(
                    (Vc @ Q.T) / (nc[:, None] * q_norms[None, :])
                )
                keep = cc[:, None] != q_ids[None, :]
                ci, qi = np.nonzero(keep)
                qid_out.append(q_ids[qi])
                cid_out.append(cc[ci])
                cos_out.append(cos[ci, qi])
            if not qid_out:
                yield empty
                continue
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(qid_out),
                    "cand_id": np.concatenate(cid_out),
                    "cos": np.concatenate(cos_out),
                }
            )

    scored = src.mapInPandas(_search, out_schema)
    # Arrow's from_pandas maps float NaN to NULL on the way out of the
    # kernel; a NULL cos would sort LAST under desc while the expression
    # path's NaN (inf-norm corner) sorts FIRST (engine total order, NaN
    # greatest).  Restore NaN — the kernel never emits a genuine null —
    # so ranking matches ivf_topk_joined and the oracle bit-for-bit
    # (pinned by the nonfinite probe).
    scored = scored.withColumn(
        "cos", F.coalesce(F.col("cos"), F.lit(float("nan")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("cand_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "cand_id", "cos", "rank")
    )


def _probe_cells(
    queries: DataFrame,
    centroids: DataFrame,
    nprobe: int,
    vec_col: str,
    id_col: str,
    centroid_id: str,
    centroid_vec: str,
) -> DataFrame:
    """The ``nprobe`` nearest cells per query — the tiny expression-
    scored side shared by the fused and joined formulations."""
    cent = centroids.select(
        F.col(centroid_id),
        F.col(centroid_vec).alias("__cv"),
        norm(F.col(centroid_vec)).alias("__ccn"),
    )
    q_staged = queries.select(
        F.col(id_col), F.col(vec_col), norm(F.col(vec_col)).alias("__qn")
    )
    q_scored = q_staged.join(F.broadcast(cent)).withColumn(
        "__score",
        round_fixed(
            cosine_staged(
                F.col(vec_col), F.col("__cv"), F.col("__qn"), F.col("__ccn")
            ),
            6,
        ),
    )
    wq = Window.partitionBy(id_col).orderBy(
        F.col("__score").desc(), F.col(centroid_id).asc()
    )
    return (
        q_scored.withColumn("__r", F.row_number().over(wq))
        .where(F.col("__r") <= nprobe)
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            F.col("__qn"),
            F.col(centroid_id).alias("cell"),
        )
    )


def semantic_dedup_in_cells(
    cells: DataFrame,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cell_col: str = "cell",
    block: int = 4096,
) -> DataFrame:
    """Keep-first semantic dedup within each IVF cell (the SemDeDup
    rule): a row is a duplicate iff some LOWER-id row of the same cell
    has rounded cosine ≥ ``threshold`` with it.  Returns
    (id, cell, keep_semantic) for every input row.

    The join formulation materializes all O(|cell|²) pairs as rows and
    pays an interpreted array-cosine per pair — the O(n^1.5) term that
    dominates SemDeDup at scale.  Here ``applyInPandas`` per cell does
    the same arithmetic as blocked BLAS matmuls (4096² tiles, so a
    pathologically hot cell streams in bounded memory instead of
    allocating |cell|² at once); one shuffle on the cell key — the
    same exchange the join needed — and zero pair rows.  Rounding is
    round_fixed-exact (_round6_np); scores are dot/(na·nb) with only
    BLAS summation order differing from the expression path (pinned
    row-identical by tests/test_clustering.py).
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import BooleanType, StructField, StructType

    src = cells.select(id_col, cell_col, vec_col)
    out_schema = StructType(
        [
            src.schema[id_col],
            src.schema[cell_col],
            StructField("keep_semantic", BooleanType(), False),
        ]
    )
    BLOCK = block

    def _dedup(pdf: "pd.DataFrame") -> "pd.DataFrame":
        order = np.argsort(pdf[id_col].to_numpy(), kind="stable")
        pdf = pdf.iloc[order]
        ids = pdf[id_col].to_numpy()
        V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        norms = np.sqrt((V * V).sum(axis=1))
        n = len(ids)
        dup = np.zeros(n, dtype=bool)
        for rs in range(0, n, BLOCK):
            re_ = min(rs + BLOCK, n)
            for cs in range(0, re_, BLOCK):  # col blocks with any j < i
                ce = min(cs + BLOCK, n)
                G = _round6_np(
                    (V[rs:re_] @ V[cs:ce].T)
                    / (norms[rs:re_, None] * norms[None, cs:ce])
                )
                lower = (
                    np.arange(cs, ce)[None, :] < np.arange(rs, re_)[:, None]
                )
                # engine comparison semantics, not IEEE: Spark and DuckDB
                # order doubles totally with NaN greatest, so cos=NaN
                # (inf-norm corner) satisfies `>= threshold` there while
                # numpy would say False — pinned by the nonfinite probe
                hit = (G >= threshold) | np.isnan(G)
                dup[rs:re_] |= (hit & lower).any(axis=1)
        return pd.DataFrame(
            {
                id_col: ids,
                cell_col: pdf[cell_col].to_numpy(),
                "keep_semantic": ~dup,
            }
        )

    return src.groupBy(cell_col).applyInPandas(_dedup, out_schema)


def ivf_topk_joined(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_id: str = "centroid_id",
    centroid_vec: str = "centroid",
) -> DataFrame:
    """Join-formulated twin of :func:`ivf_topk` (assign → broadcast-join
    probe frame → expression cosine → rank).  Kept as the differential
    reference the fused pass is tested against — the declarative shape
    is oracle-auditable line by line, but it pays an assignment pass, a
    scoring join, and a wide-row Arrow/exchange cost the fused pass
    avoids; never the execution path."""
    corpus = corpus.where(usable_vec(F.col(vec_col)))
    queries = queries.where(usable_vec(F.col(vec_col)))
    cells = assign_cells_vectorized(
        corpus, centroids, vec_col, id_col, centroid_id, centroid_vec
    )
    q_cells = _probe_cells(
        queries, centroids, nprobe, vec_col, id_col, centroid_id, centroid_vec
    )
    cand = cells.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("cv"),
        norm(F.col(vec_col)).alias("__cn"),
        "cell",
    )
    scored = (
        cand.join(F.broadcast(q_cells), "cell")
        .where(F.col("query_id") != F.col("cand_id"))
        .withColumn(
            "cos",
            round_fixed(
                cosine_staged(
                    F.col("qv"), F.col("cv"), F.col("__qn"), F.col("__cn")
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("cand_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "cand_id", "cos", "rank")
    )


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    pool: int = 12,
    lam: float = 0.7,
    one_minus_lam: float = 0.3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    pool_df: DataFrame | None = None,
) -> DataFrame:
    """Maximal-marginal-relevance diversified top-k (Carbonell &
    Goldstein, SIGIR 1998): rerank each query's brute-force candidate
    pool so every next pick maximizes
    ``lam * cos(q, d) - one_minus_lam * max_{s in selected} cos(d, s)``
    — relevance minus redundancy, the retrieval diversifier a
    dedup-aware RAG pipeline puts after ANN candidate generation.

    Plan shape (100 TB): the candidate pool is |Q| x pool rows
    (brute_force_topk — corpus never shuffles); pairwise candidate
    similarities are |Q| x pool^2 rows built by a pool self-join plus
    two id-keyed joins back to the vectors (bounded fanout, no
    all-pairs over the corpus); the greedy selection itself is
    ``applyInPandas`` per query group — per-group state is <= pool
    rows, the textbook bounded-iterative case the built-in operators
    can't express.

    Cross-engine determinism: q-cand and cand-cand cosines are rounded
    to 6 decimals BEFORE selection (both engines then compare identical
    doubles), the score arithmetic uses the same two literals in both
    engines — ``one_minus_lam`` is passed explicitly because IEEE
    ``1 - 0.7 = 0.30000000000000004 != 0.3`` — and ties break on
    ascending candidate id.  Scores are emitted raw (identical inputs,
    identical ops -> bit-identical doubles; no output rounding needed).
    ``pool_df`` (query_id, cand_id, rel) overrides the brute-force pool
    with an EXTERNAL candidate set — the production composition feeds
    ANN candidates (ivf_pq_topk's output, exact-reranked to cosine rel
    over the |Q|·pool survivors) so no stage of the rerank scans the
    corpus (r8 verdict #2: the brute-force pool was x64's only
    corpus-scaling term).  ``pool`` is ignored when ``pool_df`` is
    given; ``corpus`` still supplies the vectors for the pairwise
    redundancy sims.
    """
    import pandas as pd

    if pool_df is None:
        pool_df = brute_force_topk(
            corpus, queries, k=pool, vec_col=vec_col, id_col=id_col
        ).select("query_id", "cand_id", F.col("cos").alias("rel"))
    else:
        pool_df = pool_df.select("query_id", "cand_id", "rel")
    # NaN-similarity contract (r9 nonfinite probe): a finite-component
    # vector can still OVERFLOW the norm/dot arithmetic (e.g. 1e300
    # components pass usable_vec but square to Inf), making its cosine
    # NaN.  Ranking engines agree on NaN placement (both sort it
    # greatest), but the Python greedy's strict `>` SINKS NaN while
    # SQL's ORDER BY DESC floats it — silently divergent picks.  An
    # undefined similarity is not evidence of relevance or redundancy:
    # NaN-rel candidates drop from the pool, NaN pair sims drop from
    # the redundancy set.  Redundancy is then max over the PRESENT
    # pairs, 0.0 only when ALL pairs are missing — both engines
    # compute COALESCE(max(present sims), 0.0); a per-missing-pair 0.0
    # default would clamp negative maxima and diverge (r9 ADVICE).
    # Mirrored in the oracle CTEs (plans/extensions._mmr_sql_tail).
    pool_df = pool_df.where(~F.isnan(F.col("rel")))

    spark = corpus.sparkSession
    vecs = corpus.where(usable_col(spark, vec_col)).select(
        F.col(id_col).alias("__vid"),
        F.col(vec_col).alias("__v"),
        norm_col(spark, vec_col).alias("__vn"),
    )
    # Pairwise candidate sims WITHOUT a pool self-join (r11): the pool
    # is serving-batch-sized (|Q| x pool rows), so broadcast ITS ids
    # against the corpus — the corpus streams through one hash probe
    # and is never broadcast or shuffled (the old vecs-side attach let
    # the planner broadcast the CORPUS at fixture scale and sort-merge
    # the pool self-join) — then collect each query's surviving
    # (cand_id, vec, norm) structs in one tiny exchange and build the
    # pool^2 pair sims with the SAME catalyst expressions
    # (cosine_staged over staged norms, round_fixed 6, isnan drop)
    # inside array lambdas: bit-identical doubles, 3 joins + a union
    # removed from the plan.  Candidates with no usable vector keep
    # their rel rows (rels group below is from pool_df itself) and
    # contribute no pairs — the exact inner-join semantics of the old
    # shape, pinned by test_mmr_partial_missing_negative_sims.
    attached = vecs.join(
        F.broadcast(pool_df.select("query_id", "cand_id")),
        F.col("cand_id") == F.col("__vid"),
    ).select("query_id", "cand_id", "__v", "__vn")
    from ..session import cached_column

    def _build_pairs_col():
        pair_struct = lambda x, y: F.struct(  # noqa: E731
            x["cand_id"].alias("a"),
            y["cand_id"].alias("b"),
            round_fixed(
                cosine_staged(x["__v"], y["__v"], x["__vn"], y["__vn"]), 6
            ).alias("sim"),
        )
        return F.filter(
            F.flatten(
                F.transform(
                    F.col("__cs"),
                    lambda x: F.transform(
                        F.filter(
                            F.col("__cs"),
                            lambda y: x["cand_id"] != y["cand_id"],
                        ),
                        lambda y: pair_struct(x, y),
                    ),
                )
            ),
            # NaN-similarity contract above
            lambda p: ~F.isnan(p["sim"]),
        ).alias("pairs")

    pairs_grouped = (
        attached.groupBy("query_id")
        .agg(
            F.collect_list(F.struct("cand_id", "__v", "__vn")).alias(
                "__cs"
            )
        )
        .select(
            "query_id",
            # pure function of nothing but column NAMES — one build per
            # session (session.cached_column)
            cached_column(spark, ("mmr_pairs_col",), _build_pairs_col),
        )
    )
    rels_grouped = pool_df.groupBy("query_id").agg(
        F.collect_list(F.struct("cand_id", "rel")).alias("rels")
    )
    tagged = rels_grouped.join(
        F.broadcast(pairs_grouped), "query_id", "left"
    )

    out_schema = (
        "query_id long, cand_id long, mmr_rank int, mmr_score double"
    )

    def _greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = int(pdf["query_id"].iloc[0])
        rel = {
            int(r["cand_id"]): r["rel"] for r in pdf["rels"].iloc[0]
        }
        pair_rows = pdf["pairs"].iloc[0]
        sim = (
            {}
            if pair_rows is None
            else {
                (int(p["a"]), int(p["b"])): p["sim"] for p in pair_rows
            }
        )
        selected: list[int] = []
        out = []
        cands = sorted(rel)
        for step in range(1, k + 1):
            best = None
            for c in cands:
                if c in selected:
                    continue
                # max over PRESENT pairs only; 0.0 only when every
                # pair was NaN-dropped.  The oracle computes
                # COALESCE(max(sim of present pairs), 0.0) — injecting
                # a 0.0 per MISSING pair (the old .get default) would
                # clamp a negative max-of-present to 0 and diverge on
                # partially-missing pair sets (r9 ADVICE finding).
                present = [
                    sim[(c, s)] for s in selected if (c, s) in sim
                ]
                msim = max(present) if present else 0.0
                score = lam * rel[c] - one_minus_lam * msim
                # max by (score, then LOWER cand id) — strict > on the
                # score, so equal scores keep the earlier (smaller) id
                if best is None or score > best[0]:
                    best = (score, c)
            if best is None:
                break
            selected.append(best[1])
            out.append((qid, best[1], step, best[0]))
        return pd.DataFrame(
            out, columns=["query_id", "cand_id", "mmr_rank", "mmr_score"]
        )

    return tagged.groupBy("query_id").applyInPandas(_greedy, out_schema)
