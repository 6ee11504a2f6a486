"""Job-count and compile guards for the monthly landing path.  A re-pull
batch through the incremental gold stream and the warehouse load that
follows it each run a fixed number of Spark jobs; every job is a
scheduler round trip, so a change that makes either step re-read its
inputs or rewrite untouched tables shows up here as a higher count.  A
warm re-pull also reuses its generated classes: one that recompiles them
(a codegen cache too small for the op's working set) shows up as Janino
compiles."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from end_to_end_chess_com_etl_and_analytics_pipeline_spark.plans import analytics
from end_to_end_chess_com_etl_and_analytics_pipeline_spark.plans.warehouse import (
    load_warehouse,
)
from end_to_end_chess_com_etl_and_analytics_pipeline_spark.schemas import (
    DIM_SCHEMAS,
    OPENINGS_CSV_SCHEMA,
)
from end_to_end_chess_com_etl_and_analytics_pipeline_spark.session import local_df
from end_to_end_chess_com_etl_and_analytics_pipeline_spark.sources import demo
from end_to_end_chess_com_etl_and_analytics_pipeline_spark.streaming.pipeline import (
    read_gold_fact,
    run_incremental_gold,
)

# Measured counts (14 and 5 on Spark 4.1, local mode) plus a little
# headroom for plan-shape drift across Spark releases.  The streaming
# count includes the stream's own jobs around its one micro-batch.
STREAMING_JOB_BUDGET = 17
WAREHOUSE_JOB_BUDGET = 7
# Janino compiles of a warm re-pull (stream, warehouse load and the four
# dashboards): 4 measured — the classes whose inlined literals (the run
# timestamp) changed.  A codegen cache smaller than the op's working
# set recompiles dozens.
WARM_COMPILE_BUDGET = 10


def _next_job_id(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _read_gold(spark, gold_dir: str) -> dict:
    gold = {"fact_games": read_gold_fact(spark, gold_dir)}
    for dim, schema in DIM_SCHEMAS.items():
        gold[dim] = spark.read.schema(schema).parquet(os.path.join(gold_dir, dim))
    return gold


def _dashboards(spark, db: str, book) -> None:
    t = spark.table
    fact = t(f"{db}.fact_games")
    for df in (
        analytics.win_rate_by_opening(
            fact, t(f"{db}.dim_openings"), t(f"{db}.dim_results")
        ),
        analytics.rating_trend(fact),
        analytics.result_distribution(fact, t(f"{db}.dim_results")),
        analytics.classify_openings(fact, book)
        .groupBy("opening_name")
        .agg(F.count("*").alias("n_games")),
    ):
        df.collect()


def test_repull_job_counts(spark, tmp_path):
    bronze, gold, ckpt = tmp_path / "bronze", tmp_path / "gold", tmp_path / "ck"
    bronze.mkdir()
    demo.write_month_json(str(bronze / "2024-01-games.json"), month=1)
    demo.write_month_json(str(bronze / "2024-02-games.json"), month=2)
    run_incremental_gold(
        spark, str(bronze), str(gold), str(ckpt), demo.USERNAME,
        "2024-03-01 00:00:00",
    )
    book = local_df(spark, demo.OPENINGS_LOOKUP, OPENINGS_CSV_SCHEMA)
    db = "chess_dw_job_count"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{tmp_path}/db'")
    try:
        load_warehouse(spark, _read_gold(spark, str(gold)), schema=db)

        # month 1 re-pulled with a later run timestamp: no new dim key
        demo.write_month_json(str(bronze / "2024-01-repull.json"), month=1)
        first = _next_job_id(spark)
        run_incremental_gold(
            spark, str(bronze), str(gold), str(ckpt), demo.USERNAME,
            "2024-04-01 00:00:00",
        )
        streaming_jobs = _next_job_id(spark) - first

        g = _read_gold(spark, str(gold))
        first = _next_job_id(spark)
        load_warehouse(spark, g, schema=db)
        warehouse_jobs = _next_job_id(spark) - first
        _dashboards(spark, db, book)

        # the same re-pull again, later: every class it needs is warm
        demo.write_month_json(str(bronze / "2024-01-repull-2.json"), month=1)
        first = _compiles(spark)
        run_incremental_gold(
            spark, str(bronze), str(gold), str(ckpt), demo.USERNAME,
            "2024-04-02 00:00:00",
        )
        load_warehouse(spark, _read_gold(spark, str(gold)), schema=db)
        _dashboards(spark, db, book)
        warm_compiles = _compiles(spark) - first

        assert streaming_jobs <= STREAMING_JOB_BUDGET
        assert warehouse_jobs <= WAREHOUSE_JOB_BUDGET
        assert warm_compiles <= WARM_COMPILE_BUDGET
        assert spark.table(f"{db}.fact_games").count() == 90
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
