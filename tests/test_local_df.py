"""session.local_df — the r11 Arrow-path replacement for
``spark.createDataFrame(list, schema)`` in query paths (the pickled-row
path re-evaluates local data through a Python worker on EVERY action;
see OPTIMIZATION_r11.md Finding 1).  Pins: bit-exact values, NULL
handling, array columns, empty input, StructType and DDL-string
schemas, and plan shape (LocalTableScan / LocalRelation — no
python-RDD scan)."""

from __future__ import annotations

import math
import os

from pyspark.sql import types as T

from end_to_end_chess_com_etl_and_analytics_pipeline_spark.session import local_df


def test_values_bit_exact_and_typed(spark):
    rows = [
        (1, 0.1, "a", [1.5, -0.0, 2.0**-1074]),
        (2, -3.75, None, []),
        (3, float("inf"), "c", None),
    ]
    df = local_df(
        spark, rows, "id long, x double, s string, v array<double>"
    )
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "bigint",
        "double",
        "string",
        "array<double>",
    ]
    got = sorted(df.collect(), key=lambda r: r["id"])
    assert got[0]["x"] == 0.1 and got[1]["x"] == -3.75
    assert math.isinf(got[2]["x"])
    assert got[0]["v"] == [1.5, -0.0, 2.0**-1074]
    # -0.0 keeps its sign bit through the Arrow path
    assert math.copysign(1.0, got[0]["v"][1]) == -1.0
    assert got[1]["s"] is None and got[2]["v"] is None


def test_structtype_schema_and_row_inputs(spark):
    schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("n", T.IntegerType()),
        ]
    )
    df = local_df(spark, [("a", 1), ("b", None)], schema)
    assert df.schema == schema
    assert sorted((r["k"], r["n"]) for r in df.collect()) == [
        ("a", 1),
        ("b", None),
    ]
    # pyspark Rows (positionally indexable) work too
    df2 = local_df(spark, df.collect(), schema)
    assert sorted(map(tuple, df2.collect())) == sorted(
        map(tuple, df.collect())
    )


def test_empty_rows(spark):
    df = local_df(spark, [], "a int, b string")
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["a", "b"]


def test_plan_has_no_python_rdd_scan(spark):
    """A local relation whatever the session's Arrow conf says: the
    pyarrow-Table input goes through Arrow in both cases."""
    conf = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(conf)
    try:
        for arrow in ("true", "false"):
            spark.conf.set(conf, arrow)
            df = local_df(spark, [(1, [0.5, 1.5])], "c int, v array<double>")
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "ExistingRDD" not in plan, (arrow, plan)
            assert "LocalTableScan" in plan or "LocalRelation" in plan, plan
    finally:
        spark.conf.set(conf, prev)


def test_raw_row_count_matches_spark_count(spark):
    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.sources.tables import (
        raw_row_count,
    )

    from tests.conftest import SF_DIR

    path = os.path.join(SF_DIR, "embeddings.parquet")
    assert raw_row_count(spark, path) == spark.read.parquet(path).count()


def test_conf_restored_on_arrowless_session(spark):
    """local_df leaves the session's Arrow conf as the caller set it —
    a library function must not mutate session state as a side
    effect."""
    conf = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try:
        df = local_df(spark, [(1, "a")], "id long, s string")
        assert [(r["id"], r["s"]) for r in df.collect()] == [(1, "a")]
        assert spark.conf.get(conf) == "false"
    finally:
        spark.conf.set(conf, prev)


def test_raw_row_count_hive_partitioned_dir(spark, tmp_path):
    """A key=val/ partitioned dir must count the nested files — the
    r11 flat listing silently returned 0 for exactly this layout
    (the 100 TB shape), starving the sizing heuristics."""
    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.sources.tables import (
        raw_row_count,
    )

    out = str(tmp_path / "part_tbl")
    df = spark.range(100).selectExpr("id", "id % 3 AS k")
    df.write.partitionBy("k").mode("overwrite").parquet(out)
    assert raw_row_count(spark, out) == 100
    # Hidden paths hold parquet that is not table data: a commit's
    # `.staged_<token>/` copy (operators/commit.py) and a table
    # format's `_delta_log/` checkpoints.  Spark's file index skips
    # them, so the footer count must too.
    import pyarrow as pa
    import pyarrow.parquet as pq

    stray = pa.table({"id": list(range(7))})
    for hidden in (".staged_b0/k=1", "_delta_log"):
        os.makedirs(os.path.join(out, hidden))
        pq.write_table(stray, os.path.join(out, hidden, "stray.parquet"))
    assert spark.read.parquet(out).count() == 100
    assert raw_row_count(spark, out) == 100


def test_raw_row_count_underscore_partition_dir(spark, tmp_path):
    """A ``_``-prefixed name holding ``=`` is a partition directory
    (run_streaming_scd2 lays out ``__bucket=<n>/``), not a hidden path;
    Spark reads it, so the footer count must count it."""
    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.sources.tables import (
        raw_row_count,
    )

    out = str(tmp_path / "bucketed")
    spark.range(50).selectExpr("id", "id % 4 AS __bucket").write.partitionBy(
        "__bucket"
    ).parquet(out)
    assert raw_row_count(spark, out) == spark.read.parquet(out).count() == 50
