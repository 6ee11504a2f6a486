"""x64 MMR diversified top-k: the greedy rerank must (a) match a
straight python reference on planted geometry, (b) actually diversify —
drop a near-duplicate that plain relevance top-k keeps, and (c) match
the chained-CTE oracle bit-for-bit including raw double scores."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from end_to_end_chess_com_etl_and_analytics_pipeline_spark.operators.similarity import (
    brute_force_topk,
    mmr_rerank,
)

from tests.conftest import SF_DIR

LAM, ONE_MINUS_LAM = 0.7, 0.3


def _mk(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs.items()],
        "vec_id long, embedding array<float>",
    )


def test_mmr_drops_near_duplicate_plain_topk_keeps(spark):
    """Query q; candidates: two parallel (cos = 1) vectors very close
    to q, one moderately relevant diverse vector.  Plain top-2 = the
    twin pair; MMR at lambda 0.5 must swap the redundant twin for the
    diverse candidate (the twin's marginal score is
    0.5*rel - 0.5*1.0 < 0)."""
    vecs = {
        0: [1.0, 0.0, 0.0, 0.0],          # the query
        10: [0.99, 0.10, 0.0, 0.0],       # near-dup A (most relevant)
        11: [1.98, 0.20, 0.0, 0.0],       # near-dup B: exactly parallel to A
        12: [0.70, 0.0, 0.70, 0.0],       # diverse, still relevant
        13: [0.0, 0.0, 0.0, 1.0],         # irrelevant
    }
    df = _mk(spark, vecs)
    q = df.where(F.col("vec_id") == 0)
    plain = {
        r.cand_id
        for r in brute_force_topk(df, q, k=2).collect()
    }
    assert plain == {10, 11}
    got = {
        (r.mmr_rank, r.cand_id)
        for r in mmr_rerank(
            df, q, k=2, pool=4, lam=0.5, one_minus_lam=0.5
        ).collect()
    }
    assert got == {(1, 10), (2, 12)}


def _cos(a, b):
    d = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    return d / (na * nb)


def test_mmr_matches_python_reference(spark):
    """Seeded corpus; python reference replays the greedy loop on the
    same 6dp-rounded sims with the same literals and tie-break."""
    import random

    rng = random.Random(11)
    vecs = {
        i: [rng.uniform(-1, 1) for _ in range(8)] for i in range(20)
    }
    df = _mk(spark, vecs)
    queries = df.where(F.col("vec_id") < 2)
    k, pool = 4, 6
    got = sorted(
        (r.query_id, r.mmr_rank, r.cand_id, r.mmr_score)
        for r in mmr_rerank(
            df, queries, k=k, pool=pool, lam=LAM, one_minus_lam=ONE_MINUS_LAM
        ).collect()
    )

    want = []
    for qid in (0, 1):
        # float32 storage: round-trip through struct to match Spark
        import struct

        def f32(v):
            return [struct.unpack("f", struct.pack("f", x))[0] for x in v]

        rel = {
            c: round(_cos(f32(vecs[qid]), f32(vecs[c])), 6)
            for c in vecs
            if c != qid
        }
        poolset = sorted(rel, key=lambda c: (-rel[c], c))[:pool]
        sim = {
            (a, b): round(_cos(f32(vecs[a]), f32(vecs[b])), 6)
            for a in poolset
            for b in poolset
            if a != b
        }
        selected = []
        for step in range(1, k + 1):
            best = None
            for c in sorted(poolset):
                if c in selected:
                    continue
                msim = max((sim[(c, s)] for s in selected), default=0.0)
                score = LAM * rel[c] - ONE_MINUS_LAM * msim
                if best is None or score > best[0]:
                    best = (score, c)
            selected.append(best[1])
            want.append((qid, step, best[1], best[0]))
    want = sorted(want)
    assert [(g[0], g[1], g[2]) for g in got] == [
        (w[0], w[1], w[2]) for w in want
    ]
    for g, w in zip(got, want):
        assert abs(g[3] - w[3]) < 1e-12


def test_mmr_pool_smaller_than_k(spark):
    vecs = {0: [1.0, 0.0], 1: [0.9, 0.1], 2: [0.8, 0.3]}
    df = _mk(spark, vecs)
    q = df.where(F.col("vec_id") == 0)
    out = mmr_rerank(
        df, q, k=5, pool=8, lam=LAM, one_minus_lam=ONE_MINUS_LAM
    ).collect()
    # only 2 candidates exist -> 2 picks, ranks 1..2
    assert sorted(r.mmr_rank for r in out) == [1, 2]


def test_x64_matches_oracle_exactly(spark, duck):
    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.plans.extensions import (
        _x64_sql,
        x64_mmr_diversified_topk,
    )

    got = sorted(
        (r.query_id, r.cand_id, r.mmr_rank, r.mmr_score)
        for r in x64_mmr_diversified_topk(spark, SF_DIR).collect()
    )
    want = sorted(tuple(r) for r in duck.sql(_x64_sql()).fetchall())
    assert len(got) > 0
    assert got == want  # raw double scores bit-identical


def test_mmr_external_pool_matches_brute_pool(spark):
    """pool_df: feeding the brute-force pool in EXTERNALLY must equal
    the self-built path — the ANN composition (x66) changes only where
    candidates come from, never the selection semantics."""
    vecs = {
        0: [1.0, 0.0, 0.0, 0.0],
        10: [0.99, 0.10, 0.0, 0.0],
        11: [1.98, 0.20, 0.0, 0.0],
        12: [0.70, 0.0, 0.70, 0.0],
        13: [0.1, 0.9, 0.2, 0.0],
    }
    df = _mk(spark, vecs)
    q = df.where(F.col("vec_id") == 0)
    want = sorted(
        map(
            tuple,
            mmr_rerank(
                df, q, k=3, pool=4, lam=LAM, one_minus_lam=ONE_MINUS_LAM
            ).collect(),
        )
    )
    ext = brute_force_topk(df, q, k=4).select(
        "query_id", "cand_id", F.col("cos").alias("rel")
    )
    got = sorted(
        map(
            tuple,
            mmr_rerank(
                df,
                q,
                k=3,
                lam=LAM,
                one_minus_lam=ONE_MINUS_LAM,
                pool_df=ext,
            ).collect(),
        )
    )
    assert got == want and len(got) == 3


def test_x66_matches_oracle_exactly(spark, duck):
    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.plans.extensions import (
        _x66_sql,
        x66_ann_mmr_rerank,
    )

    got = sorted(
        (r.query_id, r.cand_id, r.mmr_rank, r.mmr_score)
        for r in x66_ann_mmr_rerank(spark, SF_DIR).collect()
    )
    want = sorted(tuple(r) for r in duck.sql(_x66_sql()).fetchall())
    assert len(got) > 0
    assert got == want  # raw double scores bit-identical


def test_x66_pool_is_ann_not_brute(spark):
    """The composition claim: x66's pool must be the IVF-PQ candidate
    set (ANN may legitimately differ from exact brute force), and its
    plan must contain no corpus×corpus cartesian/NLJ product."""
    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.plans.extensions import (
        x66_ann_mmr_rerank,
    )

    plan = (
        x66_ann_mmr_rerank(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan


def test_mmr_overflow_vector_excluded(spark):
    """r9 nonfinite probe finding: a finite-component vector whose
    norm/dot OVERFLOWS (1e300 components pass usable_vec) makes its
    cosine NaN; SQL ranking floats NaN first while the Python greedy's
    strict `>` sinks it — silently divergent picks.  Contract: NaN-rel
    candidates drop from the pool; selection proceeds over the finite
    candidates only, on both engines."""
    vecs = {
        0: [1.0, 0.0, 0.0, 0.0],
        10: [0.99, 0.10, 0.0, 0.0],
        11: [0.70, 0.0, 0.70, 0.0],
        12: [0.1, 0.9, 0.2, 0.0],
        13: [1e300, 1e300, 1e300, 1e300],  # overflow: cos(q, 13) = NaN
    }
    df = _mk(spark, vecs)
    q = df.where(F.col("vec_id") == 0)
    out = mmr_rerank(
        df, q, k=4, pool=8, lam=LAM, one_minus_lam=ONE_MINUS_LAM
    ).collect()
    picked = {r.cand_id for r in out}
    assert 13 not in picked
    assert picked == {10, 11, 12}
    assert all(
        r.mmr_score == r.mmr_score for r in out  # no NaN scores emitted
    )


def test_mmr_partial_missing_negative_sims(spark):
    """r9 ADVICE pin: redundancy is COALESCE(max(sim over PRESENT
    pairs), 0.0) — NOT a 0.0 default per missing pair.  Fixture: the
    top-rel candidate's vector is unusable (Inf component), so every
    pair touching it is NaN-dropped; candidate 12's surviving pair to
    the second pick is NEGATIVE.  Per-missing-pair defaulting clamps
    12's msim to 0 (score 0.35) and picks 14 (0.385) at step 3; the
    max-of-present contract scores 12 at 0.7*0.5 - 0.3*(-0.6) = 0.53
    and picks it — exactly what the oracle's scalar-subquery COALESCE
    computes."""
    vecs = {
        0: [1.0, 0.0, 0.0, 0.0],        # query
        10: [1e300, 0.0, 0.0, 0.0],     # Inf as float32 -> unusable
        11: [1.0, 0.0, 0.0, 0.0],
        12: [-0.6, 0.8, 0.0, 0.0],      # cos(12, 11) = -0.6
        14: [0.0, 0.0, 1.0, 0.0],       # cos(14, 11) = 0.0
    }
    df = _mk(spark, vecs)
    q = df.where(F.col("vec_id") == 0)
    ext = spark.createDataFrame(
        [(0, 10, 0.95), (0, 11, 0.9), (0, 12, 0.5), (0, 14, 0.55)],
        "query_id long, cand_id long, rel double",
    )
    out = sorted(
        mmr_rerank(
            df, q, k=3, lam=LAM, one_minus_lam=ONE_MINUS_LAM, pool_df=ext
        ).collect(),
        key=lambda r: r.mmr_rank,
    )
    assert [(r.mmr_rank, r.cand_id) for r in out] == [(1, 10), (2, 11), (3, 12)]
    assert abs(out[2].mmr_score - (0.7 * 0.5 - 0.3 * (-0.6))) < 1e-6


def test_x67_matches_oracle_exactly(spark, duck):
    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.plans.extensions import (
        _x67_sql,
        x67_persisted_ann_mmr,
    )

    got = sorted(
        (r.query_id, r.cand_id, r.mmr_rank, r.mmr_score)
        for r in x67_persisted_ann_mmr(spark, SF_DIR).collect()
    )
    want = sorted(tuple(r) for r in duck.sql(_x67_sql()).fetchall())
    assert len(got) > 0
    assert got == want  # raw double scores bit-identical


def test_x67_pool_scans_persisted_index(spark, tmp_path):
    """The production-composition claim (r9 verdict missing #3): x67's
    candidate pool must come from the PERSISTED codes artifact with the
    probed-cell filter pushed into the parquet scan — visible as an
    In(__cell, ...) PushedFilter under the rerank/MMR plan — and its
    queries must be the OFFSET batch, disjoint from x62's."""
    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.plans.extensions import (
        _X62_NQ,
        SERVING_FRAMES,
    )

    frame = SERVING_FRAMES["x67_persisted_ann_mmr"](
        spark, SF_DIR, str(tmp_path / "idx")
    )
    plan = frame._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "In(__cell" in plan
    assert "CartesianProduct" not in plan
    qids = {r.query_id for r in frame.collect()}
    assert qids and all(q >= _X62_NQ for q in qids)
