"""Phase decomposition of x65/x67 (the two headline-dominant queries):
time each sequential driver step of the build+persist+score composition
so the optimization targets the measured cost, not the assumed one
(guide §1).  Usage: python tools/x65_profile.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.operators.pq import (
        ivf_pq_build_index,
        ivf_pq_topk_from_persisted,
    )
    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.plans.extensions import (
        _MMR_K,
        _MMR_LAM,
        _MMR_ONE_MINUS_LAM,
        _MMR_POOL,
        _X62_K,
        _X62_NPROBE,
        _X62_NQ,
        _exact_cosine_pool,
        _ivf_pq_model,
        _model_queries,
        load_table,
    )
    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.functions.vectors import (
        usable_vec,
    )
    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.operators.similarity import (
        mmr_rerank,
    )
    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.session import (
        get_spark,
    )

    spark = get_spark(app_name="x65-profile")
    # warm-up (same as bench)
    spark.range(1_000_000).selectExpr("sum(id) AS s").write.format(
        "noop"
    ).mode("overwrite").save()

    marks: list[tuple[str, float]] = []

    def mark(label: str, t0: float) -> None:
        marks.append((label, time.perf_counter() - t0))
        print(f"{label:40s} {marks[-1][1]:7.3f}s", flush=True)

    root = tempfile.mkdtemp(prefix="x65prof_")
    try:
        t0 = time.perf_counter()
        fin, cents, books, init = _ivf_pq_model(spark, sf_dir)
        mark("model (count + 2 collects)", t0)

        t0 = time.perf_counter()
        ivf_pq_build_index(fin, cents, books, root)
        mark("build_index (encode+4 writes)", t0)

        t0 = time.perf_counter()
        queries = _model_queries(spark, fin.schema, init, _X62_NQ, 2 * _X62_NQ)
        out = ivf_pq_topk_from_persisted(
            spark, root, queries, k=_X62_K, nprobe=_X62_NPROBE
        )
        mark("x65 scoring frame (reads+probes)", t0)

        t0 = time.perf_counter()
        out = out.localCheckpoint()
        mark("x65 localCheckpoint", t0)

        t0 = time.perf_counter()
        out.write.format("noop").mode("overwrite").save()
        mark("x65 noop write", t0)

        # ---- x67 tail (reuses the same artifact) ----
        t0 = time.perf_counter()
        cand = ivf_pq_topk_from_persisted(
            spark, root, queries, k=_MMR_POOL, nprobe=_X62_NPROBE
        )
        mark("x67 cand frame (reads+probes)", t0)

        t0 = time.perf_counter()
        emb = load_table(spark, "embeddings", sf_dir)
        usable = emb.where(usable_vec(F.col("embedding")))
        pool_df = _exact_cosine_pool(usable, cand)
        mmr = mmr_rerank(
            emb,
            queries,
            k=_MMR_K,
            lam=_MMR_LAM,
            one_minus_lam=_MMR_ONE_MINUS_LAM,
            pool_df=pool_df,
        )
        mark("x67 mmr frame build (lazy)", t0)

        t0 = time.perf_counter()
        mmr = mmr.localCheckpoint()
        mark("x67 localCheckpoint", t0)

        t0 = time.perf_counter()
        mmr.write.format("noop").mode("overwrite").save()
        mark("x67 noop write", t0)
    finally:
        shutil.rmtree(root, ignore_errors=True)

    total = sum(d for _, d in marks)
    print(f"{'TOTAL':40s} {total:7.3f}s")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
