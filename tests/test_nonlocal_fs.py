"""Non-local filesystem scheme coverage: the engine claims its lake
paths work on Hadoop-connector schemes
(s3a://, abfss://, hdfs:// — SURVEY.md §2.1 S3), and the write/merge/
compact code deliberately uses the Hadoop FileSystem API instead of
os/shutil so those claims hold — but every prior test ran on the local
FS.  These tests route the same code paths through ``viewfs://``, a
genuine non-``file:`` scheme shipped in hadoop-common (a client-side
mount table — here mounted onto a local directory, so the suite stays
offline).  Every operation crosses the scheme boundary: parquet
write/read, dynamic partition overwrite, the streaming gold merge's
stale-partition retirement (Hadoop ``fs.delete``), maintain_table's
staged z-order rewrite (Hadoop ``fs.rename``), and the footer readers'
Spark branch (``raw_row_count``, ``read_parquet_noinfer``,
``read_ivf_pq_index``).  What viewfs does NOT
prove: object-store consistency/latency semantics (no committer
differences are exercised) — it proves the engine never assumes a
``file:`` path, which is exactly the failure mode os/shutil would have
hidden.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from end_to_end_chess_com_etl_and_analytics_pipeline_spark.sources import demo
from end_to_end_chess_com_etl_and_analytics_pipeline_spark.sources.tables import (
    write_parquet,
)
from end_to_end_chess_com_etl_and_analytics_pipeline_spark.streaming.pipeline import (
    run_incremental_gold,
)

MOUNT = "viewfs://graftcluster/data"


@pytest.fixture(scope="module")
def viewfs_root(spark, tmp_path_factory):
    """Mount viewfs://graftcluster/data onto a local directory; return
    the scheme-prefixed root.  The mount must be configured before the
    scheme's FileSystem is first instantiated (Hadoop caches per
    (scheme, authority))."""
    local = tmp_path_factory.mktemp("viewfs_backing")
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    hconf.set(
        "fs.viewfs.mounttable.graftcluster.link./data", f"file://{local}"
    )
    return MOUNT


def test_parquet_dynamic_overwrite_via_scheme(spark, viewfs_root):
    """write_parquet's dynamic partition overwrite through viewfs: a
    second write touching one partition must leave the others intact —
    on a non-file scheme, exactly as on the local FS."""
    path = f"{viewfs_root}/dyn_table"
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 30)], "id long, p string, v int"
    )
    write_parquet(df, path, partition_by=["p"])
    upd = spark.createDataFrame([(9, "b", 99)], "id long, p string, v int")
    write_parquet(upd, path, partition_by=["p"])
    got = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert got == [(1, 10, "a"), (2, 20, "a"), (9, 99, "b")]


def test_incremental_gold_stale_month_retirement_via_scheme(
    spark, viewfs_root, tmp_path
):
    """The st04 streaming gold merge with the fact on viewfs, including
    the cross-month correction whose stale partition is removed through
    the Hadoop FS delete (streaming/pipeline.py — the code path that
    exists precisely because os/shutil would silently no-op on
    s3a://hdfs:// paths)."""
    bronze = tmp_path / "bronze"
    bronze.mkdir()
    # month 1 holds exactly ONE game, so its correction into February
    # leaves the January partition truly orphaned — forcing the Hadoop
    # fs.delete branch, not just the dynamic-overwrite rewrite
    lone = demo.make_game(0, month=1)
    (bronze / "2024-01-games.json").write_text(json.dumps([lone]))
    gold = f"{viewfs_root}/gold"
    run_incremental_gold(
        spark, str(bronze), gold, str(tmp_path / "ckpt"), demo.USERNAME,
        "2024-03-01 00:00:00",
    )
    pre = spark.read.parquet(f"{gold}/fact_games").collect()
    assert len(pre) == 1 and (pre[0]["year"], pre[0]["month"]) == (2024, 1)
    fixed = demo.make_game(0, month=2)
    fixed["url"] = lone["url"]
    (bronze / "2024-01-games-fixed.json").write_text(json.dumps([fixed]))
    run_incremental_gold(
        spark, str(bronze), gold, str(tmp_path / "ckpt"), demo.USERNAME,
        "2024-04-01 00:00:00",
    )
    fact = spark.read.parquet(f"{gold}/fact_games")
    moved = fact.where(F.col("game_url") == lone["url"]).collect()
    assert len(moved) == 1, "stale cross-month copy must be retired"
    assert (moved[0]["year"], moved[0]["month"]) == (2024, 2)
    assert fact.count() == 1
    # the retired month-1 partition directory must be GONE on the
    # scheme (its only row moved to February)
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(f"{gold}/fact_games/year=2024/month=1")
    assert not p.getFileSystem(hconf).exists(p)


def test_maintain_table_zorder_rename_via_scheme(spark, viewfs_root):
    """maintain_table's z-order rewrite stages each partition through a
    temp dir and swaps it in with a FileSystem rename — through viewfs,
    the rename and the post-swap listing must behave as on local disk,
    the data stay query-identical, and a second pass be a no-op."""
    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.operators.compact import (
        maintain_table,
        partition_file_stats,
    )

    path = f"{viewfs_root}/frag_table"
    df = spark.range(2000).select(
        F.col("id"),
        (F.col("id") % 2).alias("p"),
        (F.col("id") % 97).alias("a"),
        (F.col("id") % 89).alias("b"),
    )
    df.repartition(8).write.partitionBy("p").parquet(path)
    assert {rel for rel, n, _ in partition_file_stats(spark, path) if n > 1}
    pre = sorted(map(tuple, spark.read.parquet(path).collect()))

    res = maintain_table(spark, path, ["p"], zorder=("a", "b"))
    assert res["rewritten"]
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == pre
    for rel, n, _ in partition_file_stats(spark, path):
        assert n == 1, rel

    res2 = maintain_table(spark, path, ["p"], zorder=("a", "b"))
    assert res2["rewritten"] == []


def test_footer_readers_via_scheme(spark, viewfs_root):
    """On a non-local scheme the footer readers list nothing driver-
    side and read through Spark; their results equal the pyarrow reads
    of the same files through the local backing path."""
    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.operators.pq import (
        ivf_pq_build_index,
        read_ivf_pq_index,
    )
    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.sources.tables import (
        local_data_files,
        raw_row_count,
        read_parquet_noinfer,
    )

    remote = f"{viewfs_root}/ivfpq"
    backing = spark.sparkContext._jsc.hadoopConfiguration().get(
        "fs.viewfs.mounttable.graftcluster.link./data"
    )
    local = backing.removeprefix("file://") + "/ivfpq"
    corpus = spark.range(40).selectExpr(
        "id AS vec_id",
        "array(CAST(id % 5 AS DOUBLE), CAST(id % 3 AS DOUBLE), "
        "CAST(id % 7 AS DOUBLE), CAST(id % 2 AS DOUBLE)) AS embedding",
    )
    cents = [(0, [0.0, 0.0, 0.0, 0.0]), (1, [4.0, 2.0, 6.0, 1.0])]
    books = [
        [(0, [0.0, 0.0]), (1, [4.0, 2.0])],
        [(0, [0.0, 0.0]), (1, [6.0, 1.0])],
    ]
    ivf_pq_build_index(corpus, cents, books, remote)

    codes = f"{remote}/codes"
    assert local_data_files(codes) is None
    assert local_data_files(f"{local}/codes")
    assert raw_row_count(spark, codes) == raw_row_count(spark, f"{local}/codes") == 40

    remote_df = read_parquet_noinfer(spark, codes)
    local_df_ = read_parquet_noinfer(spark, f"{local}/codes")
    assert remote_df.schema == local_df_.schema
    assert sorted(map(tuple, remote_df.collect())) == sorted(
        map(tuple, local_df_.collect())
    )

    remote_codes, *remote_model = read_ivf_pq_index(spark, remote)
    local_codes, *local_model = read_ivf_pq_index(spark, local)
    assert remote_model == local_model == [cents, books, False]
    assert sorted(map(tuple, remote_codes.collect())) == sorted(
        map(tuple, local_codes.collect())
    )
