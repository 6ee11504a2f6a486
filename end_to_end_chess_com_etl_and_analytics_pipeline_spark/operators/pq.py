"""Product quantization (PQ): compress an embedding corpus to a few
bytes per vector and search it with asymmetric distance (ADC).

The missing third of the ANN stack next to IVF cells
(operators/similarity.py) and SRP-LSH buckets (operators/dedup.py):
IVF prunes WHICH vectors a query scans, PQ shrinks WHAT each scan
touches — 64 float32 components (256 B) become M=4 codes (4 B at
k=16/256), so a 100 TB embedding corpus's searchable representation
fits in a fraction of the footprint and ADC scoring reads codes, never
raw vectors (Jégou, Douze, Schmid 2011, "Product Quantization for
Nearest Neighbor Search").

Mechanics: the vector splits into M contiguous subspaces; each
subspace has its own k-entry codebook; a vector's code in subspace j
is the argmin-squared-L2 codebook entry for its j-th slice (ties to
the lower code).  Scale design:

- codebooks are (M·k·sub_dim) — driver/literal-sized by construction
  (same contract as IVF's coarse codebook); encoding is a PURE
  PROJECTION over the scan: per-row argmin against a foldable literal,
  no join, no shuffle (operators.clustering.assign_nearest's shape).
- training is per-subspace Lloyd's on the existing distributed kmeans
  kernel: the corpus is never shuffled for assignment, one k×sub_dim
  partial-mean exchange per round per subspace.
- ADC reconstructs each candidate from broadcast code→centroid maps
  (M hash joins against 16-row tables) and folds one ordered
  64-element squared distance per (query, candidate) — queries
  broadcast, the corpus side never shuffles until the final top-k
  window (WindowGroupLimit keeps that skinny).

Cross-engine determinism (x59's oracle): distances are ordered
left-to-right folds (the cosine_sql contract), ties break on the lower
code / candidate id, and the per-vector reconstruction error is the
fixed-order sum err_0 + err_1 + ... rounded to 6 decimals.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.fastlit import array_lit
from ..functions.rounding import round_fixed
from ..functions.vectors import usable_col, usable_vec
from ..session import local_df, run_concurrently
from .clustering import _sq_dist, kmeans

Codebooks = list[list[tuple[int, list[float]]]]  # [subspace][(code, sub)]


def _slice(vec: Column, j: int, sub_dim: int) -> Column:
    return F.slice(vec, j * sub_dim + 1, sub_dim)


def pq_codebooks_init(
    vectors: DataFrame,
    m: int = 4,
    k: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> Codebooks:
    """Deterministic UNTRAINED codebooks: the ``k`` lowest-id usable
    vectors, sliced per subspace — the Lloyd's init, and the exactly
    SQL-reproducible flavor the x59 oracle checks (the same house
    pattern as x12's stride-derived IVF centroids)."""
    rows = (
        vectors.where(usable_vec(F.col(vec_col), require_nonzero=False))
        .select(id_col, vec_col)
        .orderBy(F.col(id_col).asc())
        .limit(k)
        .collect()
    )
    if not rows:
        # empty corpus: m empty books — pq_encode yields the typed
        # empty/NULL-coded frame (the empty-inputs contract,
        # tests/test_empty_inputs.py), same convention as
        # clustering.assign_nearest's empty-centroid branch
        return [[] for _ in range(m)]
    dim = len(rows[0][vec_col])
    if dim % m != 0:
        raise ValueError(f"embedding dim {dim} not divisible by m={m}")
    sub = dim // m
    return [
        [
            (code, [float(v) for v in r[vec_col]][j * sub : (j + 1) * sub])
            for code, r in enumerate(rows)
        ]
        for j in range(m)
    ]


def pq_codebooks_train(
    vectors: DataFrame,
    m: int = 4,
    k: int = 16,
    rounds: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> Codebooks:
    """Trained codebooks: per-subspace Lloyd's via the distributed
    kmeans kernel (deterministic init/ties, fixed rounds)."""
    usable = vectors.where(usable_vec(F.col(vec_col), require_nonzero=False))
    first = usable.select(vec_col).first()
    if first is None:
        # empty corpus: same contract as pq_codebooks_init — m empty
        # books, pq_encode yields the typed empty/NULL-coded frame
        return [[] for _ in range(m)]
    dim = len(first[vec_col])
    if dim % m != 0:
        raise ValueError(f"embedding dim {dim} not divisible by m={m}")
    sub = dim // m
    vectors = usable
    books: Codebooks = []
    for j in range(m):
        sliced = vectors.select(
            F.col(id_col), _slice(F.col(vec_col), j, sub).alias(vec_col)
        )
        _, cents = kmeans(sliced, k=k, rounds=rounds, vec_col=vec_col, id_col=id_col)
        books.append([(cid, list(v)) for cid, v in cents])
    return books


def _book_literal(
    spark, book: list[tuple[int, list[float]]]
) -> tuple[Column, Column]:
    """(codes, centroid-vectors) as TWO single-node literal columns,
    index-aligned (fastlit.array_lit — one catalyst Literal each
    instead of a k·sub-leaf parsed tree that every plan analysis
    re-walks; r11, guide §3.3).  Consumers zip them positionally with
    a two-param transform lambda."""
    return (
        array_lit(spark, [int(code) for code, _ in book], "array<int>"),
        array_lit(
            spark,
            [[float(v) for v in sub] for _, sub in book],
            "array<array<double>>",
        ),
    )


def pq_encoder(
    spark,
    codebooks: Codebooks,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    carry: tuple[str, ...] = (),
):
    """The PQ code projection as a reusable closure: every Column tree
    (the M codebook literals, the per-subspace argmin lambdas, the
    code/error output projection) is built ONCE here; the returned
    function applies them to any input frame.  Frozen-codebook callers
    that encode repeatedly — streaming ingest encodes one micro-batch
    after another against the same books — pay the construction
    (hundreds of py4j expression calls, ~0.5 s measured) once instead
    of per batch (guide §4's once-per-task init discipline applied at
    the plan-construction level).  ``pq_encode`` is the one-shot
    wrapper."""
    m = len(codebooks)
    in_filter = usable_vec(F.col(vec_col), require_nonzero=False)
    if not codebooks or not codebooks[0]:
        # empty codebooks (empty corpus): typed NULL codes — an empty
        # array literal would type as ARRAY<VOID> and crash analysis
        null_cols = [
            F.lit(None).cast("int").alias(f"code_{j}") for j in range(m)
        ] + [F.lit(None).cast("double").alias("recon_sq")]

        def encode_empty(vectors: DataFrame) -> DataFrame:
            out = vectors.where(in_filter).select(id_col, *carry, vec_col)
            return out.select(id_col, *carry, *null_cols)

        return encode_empty
    sub = len(codebooks[0][0][1])
    best_cols = []
    for j, book in enumerate(codebooks):
        # bind the subspace slice OUTSIDE the lambda (it depends on j,
        # not on the transform element)
        sl = _slice(F.col(vec_col), j, sub)
        codes_lit, cvs_lit = _book_literal(spark, book)
        scored = F.transform(
            cvs_lit,
            # two-param lambda: i is the ELEMENT INDEX, which the
            # index-aligned literal pair maps back to the code
            lambda cv, i: F.struct(  # noqa: B023 — eager HOF expansion
                _sq_dist(sl, cv).alias("d"),
                F.get(codes_lit, i).alias("code"),  # noqa: B023
            ),
        )
        best_cols.append(F.array_min(scored).alias(f"__best_{j}"))
    # TWO selects, not 2·M withColumns: every DataFrame op eagerly
    # re-analyzes the whole plan, and with M codebook literals of
    # k·sub_dim leaves each re-analysis walks thousands of nodes — the
    # withColumn chain made plan construction itself a measured cost
    # (r11 profile: ~0.9 s of the x62 frame build; guide §3.3 "planning
    # time itself can become the bottleneck").  Values are identical:
    # the same argmin struct feeds both the code and the error.
    total = F.col("__best_0")["d"]
    for j in range(1, m):
        total = total + F.col(f"__best_{j}")["d"]
    final_cols = [
        F.col(f"__best_{j}")["code"].alias(f"code_{j}") for j in range(m)
    ] + [round_fixed(total, 6).alias("recon_sq")]

    def encode(vectors: DataFrame) -> DataFrame:
        out = vectors.where(in_filter).select(id_col, *carry, vec_col)
        staged = out.select(id_col, *carry, *best_cols)
        return staged.select(id_col, *carry, *final_cols)

    return encode


def pq_encode(
    vectors: DataFrame,
    codebooks: Codebooks,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(id, [carry...], code_0..code_{M-1}, recon_sq): per-subspace
    argmin codes (ties → lower code) plus the total squared
    reconstruction error, summed in fixed subspace order and rounded to
    6 decimals.  Pure projection — zero shuffle, zero joins.  ``carry``
    names extra input columns to keep on the output (e.g. an IVF cell
    id — ivf_pq_topk rides encode+assignment through ONE scan instead
    of a self-join).  One-shot form of :func:`pq_encoder`, with the
    encoder closure memoized per session on the codebook VALUES
    (session.cached_column) — the x62/x65/x67 family encodes against
    the same deterministic model several times per process, and the
    ~0.5 s expression construction is a pure function of the key."""
    from ..session import cached_column

    spark = vectors.sparkSession
    key = (
        "pq_encoder",
        vec_col,
        id_col,
        # normalized: a list-valued carry (accepted — it is only ever
        # iterated) would make the key unhashable (r11 ADVICE)
        tuple(str(c) for c in carry),
        _books_key(codebooks),
    )
    enc = cached_column(
        spark, key, lambda: pq_encoder(spark, codebooks, vec_col, id_col, carry)
    )
    return enc(vectors)


def _cents_key(centroids: list[tuple[int, list[float]]]) -> tuple:
    """Hashable value key of a coarse centroid set."""
    return tuple((int(c), tuple(float(v) for v in cv)) for c, cv in centroids)


def _books_key(codebooks: Codebooks) -> tuple:
    """Hashable value key of a codebook set (memoization identity)."""
    return tuple(
        tuple((int(code), tuple(float(v) for v in sub)) for code, sub in book)
        for book in codebooks
    )


def _reconstruct(
    codes: DataFrame,
    codebooks: Codebooks,
    id_col: str,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """(cand_id, [keep...], __recon): candidate vectors rebuilt from
    their codes — a per-subspace literal array LOOKUP (the codebook is
    driver-sized by the PQ contract, so ``book_vectors[code_j]`` is a
    pure foldable-literal projection), a fixed-order concat.  Shared
    by flat ADC (pq_adc_topk) and IVF-pruned ADC (ivf_pq_topk).

    r11: this was M broadcast joins against 16-row code→centroid maps
    — M extra plan analyses, M BroadcastExchanges built per action,
    and a join for what is a constant-table index lookup.  Codes are
    valid indices by construction (pq_encode's argmin emits 0..k-1
    over the same books), so the lookup can never go out of bounds;
    the inner joins' drop-on-no-match branch was equally unreachable.
    The reconstruction tree is built once per session and codebook set."""
    from ..session import cached_column

    spark = codes.sparkSession
    recon = cached_column(
        spark,
        ("pq_recon", _books_key(codebooks)),
        lambda: _recon_col(spark, codebooks),
    )
    return codes.select(F.col(id_col).alias("cand_id"), *keep, recon)


def _recon_col(spark, codebooks: Codebooks) -> Column:
    """``__recon``: the concat of each subspace's codebook entry."""
    parts = []
    for j, book in enumerate(codebooks):
        ordered = sorted(book, key=lambda t: t[0])
        if [c for c, _ in ordered] != list(range(len(ordered))):
            # positional lookup requires the contiguous 0..k-1 code
            # space every builder in this module produces; fail loud
            # rather than silently reconstruct the wrong centroid
            raise ValueError(
                f"subspace {j}: non-contiguous code space "
                f"{[c for c, _ in ordered][:8]}..."
            )
        if not ordered:
            # empty-corpus contract: no codebook rows — keep the
            # element type array<double> (a bare array() is void-typed
            # and poisons concat into a string) over the empty frame
            vec_lit = F.expr("CAST(array() AS array<array<double>>)")
        else:
            vec_lit = array_lit(
                spark,
                [[float(v) for v in sub] for _code, sub in ordered],
                "array<array<double>>",
            )
        parts.append(F.get(vec_lit, F.col(f"code_{j}")))
    return F.concat(*parts).alias("__recon")


def pq_adc_topk(
    codes: DataFrame,
    codebooks: Codebooks,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance top-k: each candidate is reconstructed from
    its codes (M broadcast joins against 16-row code→centroid maps, a
    fixed-order concat), each (query, candidate) pair scores ONE
    ordered 64-element squared-L2 fold, rank ascends on (distance,
    candidate id).  Returns (query_id, cand_id, approx_d2, rnk)."""
    recon = _reconstruct(codes, codebooks, id_col)
    qs = queries.where(
        usable_vec(F.col(vec_col), require_nonzero=False)
    ).select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"))
    scored = recon.crossJoin(F.broadcast(qs)).where(
        F.col("cand_id") != F.col("query_id")
    )
    scored = scored.select(
        "query_id",
        "cand_id",
        round_fixed(_sq_dist(F.col("__qv"), F.col("__recon")), 6).alias(
            "approx_d2"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_d2").asc(), F.col("cand_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .where(F.col("rnk") <= k)
        .select("query_id", "cand_id", "approx_d2", "rnk")
    )


def _cent_literal(
    spark, centroids: list[tuple[int, list[float]]]
) -> tuple[Column, Column]:
    """(cids, centroid-vectors) as TWO single-node literal columns,
    index-aligned (the _book_literal discipline — fastlit Literal
    nodes, not parsed named_struct trees)."""
    return (
        array_lit(
            spark, [int(cid) for cid, _ in centroids], "array<bigint>"
        ),
        array_lit(
            spark,
            [[float(v) for v in vec] for _, vec in centroids],
            "array<array<double>>",
        ),
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebooks: Codebooks,
    k: int = 5,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    residual: bool = False,
) -> DataFrame:
    """IVF × PQ — the production ANN shape both building blocks exist
    for (r6 verdict #7): IVF cell pruning decides WHICH vectors a query
    scans, PQ ADC decides WHAT each scan touches (codes, never raw
    vectors).  Everything is squared-L2 with ties to the lower id, so
    the whole plan is SQL-expressible (x62's oracle).

    ``residual=True`` is the classic IVFADC refinement (Jégou et al.
    2011 §III): PQ encodes the RESIDUAL v − centroid(v) instead of v,
    and ADC scores ||q − (centroid + recon(residual))||².  Train the
    codebooks on residuals (:func:`ivf_residuals` feeds
    pq_codebooks_train); the centroid vector rejoins at scoring via a
    broadcast (cell → centroid) map, so codes stay M bytes/vector in
    storage either way.  HONESTY NOTE (measured, sf0.1, trained 8×16
    books, nprobe=2): on the ISOTROPIC fixture residual recall@5 is
    0.100 vs 0.225 raw — with no cluster structure the nearest of ~40
    random centroids is nearly orthogonal to v, so the residual's
    variance is ~2× the raw vector's and the same code budget
    reconstructs WORSE.  Residual encoding pays off exactly when cells
    capture real structure — and on CLUSTERED data that is now
    measured, not asserted (planted elongated-cluster fixture,
    sources/synthetic.clustered_embeddings, trained 32 cells, k=64
    codes, nprobe=2): at m=16 residual recall@5 is 0.925 (raw 0.887),
    clearing the production-grade ≥ 0.8 floor and rising with nprobe
    exactly as cell coverage predicts; at the TIGHT m=8 budget the
    residual advantage widens — 0.838 vs 0.675 raw (vs a 0.925/0.887
    gap at m=16), because raw books must spend their codes memorizing
    cluster centers while residual books spend everything on
    within-cell position
    (tests/test_pq.py::test_ivf_pq_recall_on_clustered_fixture pins
    all three; tools/recall_probe.py prints the full recall-vs-nprobe
    tables recorded in SCALE.md).  Numerical
    correctness of the residual path (encode → reconstruct → ADC vs a
    numpy reference) is pinned by tests/test_pq.py either way.

    Plan shape at 100 TB:

    - corpus pass: ONE scan projecting (id, cell, codes) — cell is a
      foldable-literal argmin (centroids are driver-sized by the IVF
      contract) and the PQ codes ride the same projection via
      ``pq_encode(carry=("__cell",))``; zero joins, zero shuffles.
    - query side: nprobe nearest cells per query from the same centroid
      literal; queries are driver-sized, the (query, cell) probe table
      broadcasts.
    - scoring: candidates = codes ⋈ broadcast(probes) on cell — each
      query touches ~nprobe/n_cells of the corpus — reconstructed from
      broadcast code maps and scored with one ordered 64-element fold;
      the only corpus-wide exchange is the final per-query top-k
      window, pre-filtered by WindowGroupLimit.

    Returns (query_id, cand_id, adc_d2, rnk); recall@5 vs exact brute
    force is pinned at sf0.1 by tests/test_pq.py."""
    spark = corpus.sparkSession
    if not centroids or not codebooks or not codebooks[0]:
        # empty corpus (the empty-inputs contract): typed empty result
        return spark.createDataFrame(
            [], "query_id long, cand_id long, adc_d2 double, rnk int"
        )
    codes = ivf_pq_encode_corpus(
        corpus, centroids, codebooks, vec_col, id_col, residual
    )
    return ivf_pq_topk_from_codes(
        codes, queries, centroids, codebooks, k, nprobe, vec_col, id_col,
        residual,
    )


def _cell_scored(
    cids_lit: Column, cvs_lit: Column, col: Column
) -> Column:
    """(d, cid, cv) per centroid — array_min/array_sort give the
    nearest-cell argmin ((d, cid) is already a total order; the
    centroid vector rides along so residuals need no re-probe)."""
    return F.transform(
        cvs_lit,
        lambda cv, i: F.struct(
            _sq_dist(col, cv).alias("d"),
            F.get(cids_lit, i).alias("cid"),
            cv.alias("cv"),
        ),
    )


def ivf_pq_corpus_encoder(
    spark,
    centroids: list[tuple[int, list[float]]],
    codebooks: Codebooks,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    residual: bool = False,
):
    """The IVF×PQ corpus pass as a reusable closure over FROZEN
    (centroids, codebooks): the centroid-argmin and PQ Column trees are
    built once; the returned function encodes any input frame with
    them.  The streaming ingest (streaming_ivf_pq_encode) builds this
    once per run instead of reconstructing ~0.5 s of expression trees
    per micro-batch.  ``ivf_pq_encode_corpus`` is the one-shot
    wrapper."""
    cids_lit, cvs_lit = _cent_literal(spark, centroids)
    best = F.array_min(_cell_scored(cids_lit, cvs_lit, F.col(vec_col)))
    in_filter = usable_vec(F.col(vec_col), require_nonzero=False)
    if residual:
        rvec = F.zip_with(F.col(vec_col), best["cv"], lambda x, y: x - y)
        enc = pq_encoder(
            spark, codebooks, "__rvec", id_col, carry=("__cell",)
        )

        def encode_residual(corpus: DataFrame) -> DataFrame:
            return enc(
                corpus.where(in_filter)
                .withColumn("__cell", best["cid"])
                .withColumn("__rvec", rvec)
            )

        return encode_residual
    enc = pq_encoder(spark, codebooks, vec_col, id_col, carry=("__cell",))

    def encode(corpus: DataFrame) -> DataFrame:
        return enc(corpus.where(in_filter).withColumn("__cell", best["cid"]))

    return encode


def ivf_pq_encode_corpus(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebooks: Codebooks,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    residual: bool = False,
) -> DataFrame:
    """The IVF×PQ corpus pass: (id, __cell, code_0.., recon_sq) in ONE
    scan — foldable-literal cell argmin + PQ codes riding the same
    projection.  A pure per-row function of (vector, centroids,
    codebooks), so micro-batch encodes appended over time equal the
    one-shot batch encode (st12's stream≡batch contract).  One-shot
    form of :func:`ivf_pq_corpus_encoder`, memoized per session on the
    model VALUES (see pq_encode)."""
    from ..session import cached_column

    spark = corpus.sparkSession
    key = (
        "ivf_pq_corpus_encoder",
        vec_col,
        id_col,
        bool(residual),
        _cents_key(centroids),
        _books_key(codebooks),
    )
    enc = cached_column(
        spark,
        key,
        lambda: ivf_pq_corpus_encoder(
            spark, centroids, codebooks, vec_col, id_col, residual
        ),
    )
    return enc(corpus)


def _query_probes(
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    nprobe: int,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """(query_id, __qv, __cell): each usable query exploded to its
    ``nprobe`` nearest coarse cells — the foldable-literal argsort both
    ivf_pq_topk_from_codes and the persisted-index scan pruning derive
    probed cells from (ONE definition, so the pruning filter can never
    disagree with the scoring join).  The filter and the probe tree are
    built once per session and (centroids, nprobe)."""
    from ..session import cached_column

    spark = queries.sparkSession

    def probe_cells():
        cids_lit, cvs_lit = _cent_literal(spark, centroids)
        return F.explode(
            F.transform(
                F.slice(
                    F.array_sort(
                        _cell_scored(cids_lit, cvs_lit, F.col("__qv"))
                    ),
                    1,
                    nprobe,
                ),
                lambda s: s["cid"],
            )
        ).alias("__cell")

    qs = queries.where(usable_col(spark, vec_col, require_nonzero=False)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    return qs.select(
        "query_id",
        "__qv",
        cached_column(
            spark,
            ("ivf_probe_cells", _cents_key(centroids), int(nprobe)),
            probe_cells,
        ),
    )


def ivf_pq_topk_from_codes(
    codes: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebooks: Codebooks,
    k: int = 5,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    residual: bool = False,
) -> DataFrame:
    """ADC scoring over an EXISTING (id, __cell, codes) table — the
    read side of a persisted/streamed IVF-PQ index (st12)."""
    from ..session import cached_column

    spark = codes.sparkSession
    probes = _query_probes(queries, centroids, nprobe, vec_col, id_col)
    recon = _reconstruct(codes, codebooks, id_col, keep=("__cell",))
    if residual:
        cents_df = local_df(
            spark,
            [(int(cid), [float(v) for v in vec]) for cid, vec in centroids],
            "__cell long, __cvec array<double>",
        )
        recon = recon.join(F.broadcast(cents_df), "__cell")

    def adc_d2():
        cand_vec = F.col("__recon")
        if residual:
            cand_vec = F.zip_with(
                F.col("__cvec"), F.col("__recon"), lambda x, y: x + y
            )
        return round_fixed(_sq_dist(F.col("__qv"), cand_vec), 6).alias(
            "adc_d2"
        )

    scored = (
        recon.join(F.broadcast(probes), "__cell")
        .where(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            cached_column(spark, ("ivf_adc_d2", bool(residual)), adc_d2),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_d2").asc(), F.col("cand_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .where(F.col("rnk") <= k)
        .select("query_id", "cand_id", "adc_d2", "rnk")
    )


def ivf_pq_build_index(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebooks: Codebooks,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    residual: bool = False,
) -> None:
    """Persist the FULL IVF-PQ index as parquet artifacts under
    ``path`` (codes/, centroids/, codebooks/, meta/) — the ANN analog
    of retrieval.bm25_build_index: the production shape trains/encodes
    on rebuild cadence and serves arbitrary later batches from the
    artifact, exactly st12's frozen contract but persisted for batch
    scoring too.

    The codes table is range-laid-out by ``__cell`` and sorted within
    partitions, so a query batch's ``__cell IN (probed cells)`` scan
    prunes parquet row groups by min/max stats — at 100 TB a batch
    touches only its probed cells' slices (~nprobe/n_cells of the
    corpus), never the whole index (the x61 token-IN lesson applied to
    vectors).  Centroids/codebooks are driver-sized by the IVF/PQ
    contract; persisting them makes the artifact self-describing — a
    scorer needs only ``path``."""
    import os

    spark = corpus.sparkSession
    codes = ivf_pq_encode_corpus(
        corpus, centroids, codebooks, vec_col, id_col, residual
    )
    # materialize the encode ONCE before the range layout:
    # repartitionByRange first runs a SAMPLING job over its child to
    # pick range bounds, so without this the full scan+argmin encode
    # executes twice (guide §1.2: don't compute things you throw
    # away).  ``persist`` instead of ``localCheckpoint``: the sampling
    # job itself computes the encode and populates the cache as a side
    # effect, so the standalone eager-checkpoint job disappears (build
    # 3 jobs → 2; one fewer full pass over the cached codes at scale —
    # checkpoint paid write-blocks + sampling re-read, persist folds
    # them into the sampling pass).  The cached codes are ~40 B/row —
    # the compressed representation, far smaller than the raw vectors
    # the encode reads; eviction under pressure just recomputes that
    # slice of the deterministic encode.  The cache is released before
    # return — nothing persists across queries (A/B: persist 0.805 s vs
    # checkpoint 0.758 s best at sf0.1, a tie within the rep spread;
    # the exact-count explicit-bounds layout variant measured 0.910 s
    # and was rejected).
    codes = codes.persist()

    def small_write(name: str, rows: list, schema: str):
        # a driver-sized model table, one file
        return lambda: local_df(spark, rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(path, name))

    # the four artifact writes are independent — the three tiny
    # model writes overlap the codes write instead of queueing behind it
    try:
        run_concurrently(
            lambda: codes.repartitionByRange("__cell")
            .sortWithinPartitions("__cell")
            .write.mode("overwrite")
            .parquet(os.path.join(path, "codes")),
            small_write(
                "centroids",
                [(int(cid), [float(v) for v in vec]) for cid, vec in centroids],
                "cid long, cv array<double>",
            ),
            small_write(
                "codebooks",
                [
                    (j, int(code), [float(v) for v in sub])
                    for j, book in enumerate(codebooks)
                    for code, sub in book
                ],
                "subspace int, code int, cv array<double>",
            ),
            small_write(
                "meta",
                [(len(codebooks), bool(residual))],
                "m int, residual boolean",
            ),
        )
    finally:
        codes.unpersist()


def read_ivf_pq_index(
    spark,
    path: str,
) -> tuple[DataFrame, list[tuple[int, list[float]]], Codebooks, bool]:
    """(codes, centroids, codebooks, residual) from a persisted index.
    Codes stay a lazy scan; centroids/codebooks collect to the driver
    (driver-sized by the build contract)."""
    import os

    from ..sources.tables import read_parquet_noinfer

    codes = read_parquet_noinfer(spark, os.path.join(path, "codes"))
    cent_rows, book_rows, meta_rows = (
        _read_small_parquet(spark, os.path.join(path, name))
        for name in ("centroids", "codebooks", "meta")
    )
    cents = sorted(
        (r["cid"], [float(v) for v in r["cv"]]) for r in cent_rows
    )
    meta = meta_rows[0]
    books: Codebooks = [[] for _ in range(meta["m"])]
    for r in sorted(book_rows, key=lambda r: (r["subspace"], r["code"])):
        books[r["subspace"]].append(
            (r["code"], [float(v) for v in r["cv"]])
        )
    return codes, cents, books, bool(meta["residual"])


def _read_small_parquet(spark, path: str) -> list:
    """The rows of a TINY parquet dir (a coalesce(1) metadata artifact:
    centroids ~100 rows, codebooks M·k rows, meta 1 row), indexable by
    column name.  A local path is read with pyarrow straight on the
    driver — a Spark collect job over a few-KB file costs ~0.5 s of
    fixed job overhead, and driver-sized metadata is exactly what the
    driver should read itself; any other scheme is collected through
    Spark."""
    import pyarrow.parquet as pq

    from ..sources.tables import local_data_files

    files = local_data_files(path)
    if not files:
        return spark.read.parquet(path).collect()
    return [row for f in files for row in pq.read_table(f).to_pylist()]


def py_probe_cells(
    query_rows,
    centroids: list[tuple[int, list[float]]],
    nprobe: int,
    vec_col: str = "embedding",
) -> list[int]:
    """Driver-side twin of :func:`_query_probes`' probed-cell set, for
    a query batch whose vectors are ALREADY on the driver (e.g. the
    x62-family's _model_queries rows): the nprobe nearest cells per
    usable query, unioned and sorted — with NO Spark job.  The
    distinct-probed-cells collect is a full job's fixed overhead spent
    re-deriving numbers the driver is holding (guide §5: driver-sized
    metadata is exactly what the driver should compute itself).

    Exact mirror of the JVM expression, pinned equal by
    tests/test_pq.py::test_py_probe_cells_matches_query_probes:
    usable_vec(require_nonzero=False) gate (NULL vector, NULL
    component, NaN/inf component → query skipped; empty vector kept),
    left-to-right ``acc + (x - y)·(x - y)`` fold from 0.0 (float32
    components widen to double exactly; IEEE double arithmetic is
    deterministic and identical in CPython and the JVM), ties to the
    lower cid.  Requires query dims == centroid dims (the
    _ivf_pq_model contract — mismatched dims would yield a NULL fold
    JVM-side, which this mirror does not reproduce)."""
    import math

    cells: set[int] = set()
    for r in query_rows:
        v = r[vec_col]
        if v is None:
            continue
        usable = True
        for x in v:
            if x is None or math.isnan(x) or math.isinf(x):
                usable = False
                break
        if not usable:
            continue
        scored = []
        for cid, cv in centroids:
            d = 0.0
            for x, y in zip(v, cv):
                t = x - y
                d += t * t
            scored.append((d, cid))
        scored.sort()
        cells.update(cid for _d, cid in scored[:nprobe])
    return sorted(cells)


def ivf_pq_topk_from_persisted(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probe_cells: list[int] | None = None,
) -> DataFrame:
    """ADC top-k against a PERSISTED index: no re-train, no re-encode,
    and the codes scan is pre-filtered to ``__cell IN (probed cells)``
    so parquet row-group pruning (min/max on the range layout) skips
    everything outside the batch's ~nprobe·|Q| cells.  The probed-cell
    set is collected driver-side — it is query-batch-sized (≤ |Q| ×
    nprobe ids) by the same contract that makes the probe table
    broadcastable, and it comes from the SAME _query_probes expression
    the scoring join uses, so the filter is provably a superset of the
    join keys.

    ``probe_cells`` (optional) skips that collect job: callers whose
    query vectors are already driver-resident pass
    :func:`py_probe_cells`'s exact-mirror set (x65/x67 do — their
    query batch is a slice of the model's collected init rows).  The
    contract is the same superset guarantee; the mirror is pinned
    bit-equal to the collected set by tests/test_pq.py."""
    codes, cents, books, residual = read_ivf_pq_index(spark, path)
    if probe_cells is None:
        probe_cells = sorted(
            {
                r["__cell"]
                for r in _query_probes(
                    queries, cents, nprobe, vec_col, id_col
                )
                .select("__cell")
                .distinct()
                .collect()
            }
        )
    pruned = codes.where(F.col("__cell").isin(list(probe_cells)))
    return ivf_pq_topk_from_codes(
        pruned, queries, cents, books, k, nprobe, vec_col, id_col, residual
    )


def ivf_residuals(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, vec_col = v − centroid(v)): the residual table the IVFADC
    codebooks train on (feed to pq_codebooks_train).  Same
    foldable-literal argmin as ivf_pq_topk's corpus pass — zero joins,
    zero shuffles."""
    cids_lit, cvs_lit = _cent_literal(corpus.sparkSession, centroids)
    best = F.array_min(
        _cell_scored(cids_lit, cvs_lit, F.col(vec_col))
    )
    return corpus.where(
        usable_vec(F.col(vec_col), require_nonzero=False)
    ).select(
        id_col,
        F.zip_with(F.col(vec_col), best["cv"], lambda x, y: x - y).alias(
            vec_col
        ),
    )
