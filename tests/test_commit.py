"""Crash-atomic partition swap (operators/commit.py): a simulated crash
at every protocol point — pre-intent, post-intent, and mid-swap — must
leave the table recoverable to exactly the batch-equivalent state after
a checkpoint replay (the streaming SCD2 dim and the incremental gold
fact).  A guard keeps every Hadoop FileSystem handle and rename in
that module."""

from __future__ import annotations

import ast
import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

import end_to_end_chess_com_etl_and_analytics_pipeline_spark as pkg
from end_to_end_chess_com_etl_and_analytics_pipeline_spark.operators import commit
from end_to_end_chess_com_etl_and_analytics_pipeline_spark.streaming.pipeline import (
    run_streaming_scd2,
)

_BASE = dt.datetime(2024, 1, 1)


def _events(ids, hours, users, types):
    return pa.table(
        {
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array(
                [_BASE.replace(hour=h) for h in hours], pa.timestamp("us")
            ),
            "user_id": pa.array(users, pa.int64()),
            "event_type": pa.array(types),
        }
    )


def _batch_scd2(spark, paths):
    ev = spark.read.parquet(*paths).where(F.col("event_type").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    runs = ev.withColumn("prev", F.lag("event_type").over(w)).where(
        F.col("prev").isNull() | (F.col("prev") != F.col("event_type"))
    )
    return runs.select(
        "user_id",
        F.col("event_type").alias("attr_value"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


def _rows(df):
    cols = ["user_id", "attr_value", "valid_from", "valid_to", "is_current"]
    return sorted(
        map(tuple, df.select(*cols).collect()),
        key=lambda t: tuple((v is None, str(v)) for v in t),
    )


def _dirs(tmp_path):
    live = str(tmp_path / "live")
    os.makedirs(live)
    return live, str(tmp_path / "dim"), str(tmp_path / "ckpt")


def _two_batches(live):
    """Batch 1 seeds 8 users; batch 2 flips two of them — prior history
    in the affected buckets is exactly what a lost swap would destroy."""
    b1 = _events(range(8), [0] * 8, range(8), ["a"] * 8)
    b2 = _events([100, 101], [1, 1], [3, 7], ["b", "b"])
    pq.write_table(b1, os.path.join(live, "events_000.parquet"))
    pq.write_table(b2, os.path.join(live, "events_001.parquet"))


def test_streaming_scd2_crash_replay_post_intent(spark, tmp_path):
    """Kill between intent and swap (the widest phase-2 window): the
    re-drain must first complete the pending swap, then replay the
    batch idempotently — stream ≡ batch still holds, no bucket's prior
    history is lost."""
    live, dim, ckpt = _dirs(tmp_path)
    b1 = _events(range(8), [0] * 8, range(8), ["a"] * 8)
    pq.write_table(b1, os.path.join(live, "events_000.parquet"))
    run_streaming_scd2(spark, live, dim, ckpt)

    b2 = _events([100, 101], [1, 1], [3, 7], ["b", "b"])
    pq.write_table(b2, os.path.join(live, "events_001.parquet"))
    real, calls = commit._finish_swap, {"n": 0}

    def boom(*a, **k):
        calls["n"] += 1
        raise RuntimeError("simulated crash: intent written, swap pending")

    commit._finish_swap = boom
    try:
        with pytest.raises(Exception):
            run_streaming_scd2(spark, live, dim, ckpt)
    finally:
        commit._finish_swap = real
    assert calls["n"] == 1
    # the intent survives the crash; the live table is still readable
    root = os.listdir(dim)
    assert any(n.startswith("._swap_intent_") for n in root)

    run_streaming_scd2(spark, live, dim, ckpt)
    want = _batch_scd2(
        spark,
        [os.path.join(live, f) for f in sorted(os.listdir(live))],
    )
    assert _rows(spark.read.parquet(dim)) == _rows(want)
    # protocol artifacts are gone after the clean drain
    root = os.listdir(dim)
    assert not any(
        n.startswith("._swap_intent_") or n.startswith(".staged_")
        for n in root
    )


def test_streaming_scd2_crash_replay_pre_intent(spark, tmp_path):
    """Kill after staging but before the intent: the leftovers are
    invisible to readers, recovery discards them, and the replayed
    batch restages from scratch."""
    live, dim, ckpt = _dirs(tmp_path)
    _two_batches(live)
    real = commit.two_phase_partition_overwrite

    def boom(spark_, df, table_path, cols, token, drop_partitions=None):
        staged = f"{table_path.rstrip('/')}/.staged_{token}"
        df.write.mode("overwrite").partitionBy(*cols).parquet(staged)
        raise RuntimeError("simulated crash: staged, no intent")

    commit.two_phase_partition_overwrite = boom
    try:
        with pytest.raises(Exception):
            run_streaming_scd2(spark, live, dim, ckpt)
    finally:
        commit.two_phase_partition_overwrite = real
    # nothing live was touched and the staging leftover is hidden
    assert commit.has_partition_dirs(spark, dim) is False

    run_streaming_scd2(spark, live, dim, ckpt)
    want = _batch_scd2(
        spark, [os.path.join(live, f) for f in sorted(os.listdir(live))]
    )
    assert _rows(spark.read.parquet(dim)) == _rows(want)
    assert not any(n.startswith(".staged_") for n in os.listdir(dim))


def test_recover_mid_swap_manufactured_state(spark, tmp_path):
    """The delete-live/rename window itself: manufacture the state where
    an affected bucket's live dir is gone and its replacement sits
    staged under a live intent — recovery must complete the rename and
    the table must read back exactly."""
    live, dim, ckpt = _dirs(tmp_path)
    _two_batches(live)
    run_streaming_scd2(spark, live, dim, ckpt)
    before = _rows(spark.read.parquet(dim))

    bucket = next(n for n in os.listdir(dim) if n.startswith("__bucket="))
    staged = os.path.join(dim, ".staged_crash")
    os.makedirs(staged)
    os.rename(os.path.join(dim, bucket), os.path.join(staged, bucket))
    open(os.path.join(dim, "._swap_intent_crash"), "w").close()

    assert commit.recover_pending_swaps(spark, dim) == ["crash"]
    assert _rows(spark.read.parquet(dim)) == before
    assert os.path.exists(os.path.join(dim, bucket))
    assert not os.path.exists(staged)
    assert not os.path.exists(os.path.join(dim, "._swap_intent_crash"))


def test_scd2_n_buckets_marker_pins_layout(spark, tmp_path):
    """r9 ADVICE: n_buckets is persisted with the table; resuming with a
    different value must raise instead of pruning the wrong partitions
    and silently duplicating history."""
    live, dim, ckpt = _dirs(tmp_path)
    b1 = _events(range(4), [0] * 4, range(4), ["a"] * 4)
    pq.write_table(b1, os.path.join(live, "events_000.parquet"))
    run_streaming_scd2(spark, live, dim, ckpt, n_buckets=8)
    assert "._meta_nbuckets_8" in os.listdir(dim)

    b2 = _events([10], [1], [2], ["b"])
    pq.write_table(b2, os.path.join(live, "events_001.parquet"))
    with pytest.raises(ValueError, match="n_buckets=8"):
        run_streaming_scd2(spark, live, dim, ckpt, n_buckets=16)
    # the matching value resumes cleanly
    run_streaming_scd2(spark, live, dim, ckpt, n_buckets=8)
    want = _batch_scd2(
        spark, [os.path.join(live, f) for f in sorted(os.listdir(live))]
    )
    assert _rows(spark.read.parquet(dim)) == _rows(want)


def test_incremental_gold_crash_replay(spark, tmp_path):
    """The gold fact's month swap under the same protocol: kill between
    intent and swap while month 2 merges, re-drain, fact ≡ batch build
    over both months (month 1's history intact)."""
    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.plans.gold import (
        build_gold,
    )
    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.plans.silver import (
        bronze_to_silver,
    )
    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.schemas import (
        RAW_GAME_SCHEMA,
    )
    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.sources import demo
    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.streaming.pipeline import (
        read_gold_fact,
        run_incremental_gold,
    )

    bronze, gold, ckpt = tmp_path / "bronze", tmp_path / "gold", tmp_path / "ck"
    bronze.mkdir()
    demo.write_month_json(str(bronze / "2024-01-games.json"), month=1)
    run_incremental_gold(
        spark, str(bronze), str(gold), str(ckpt), demo.USERNAME,
        "2024-03-01 00:00:00",
    )

    demo.write_month_json(str(bronze / "2024-02-games.json"), month=2)
    real, calls = commit._finish_swap, {"n": 0}

    def boom(*a, **k):
        calls["n"] += 1
        raise RuntimeError("simulated crash: intent written, swap pending")

    commit._finish_swap = boom
    try:
        with pytest.raises(Exception):
            run_incremental_gold(
                spark, str(bronze), str(gold), str(ckpt), demo.USERNAME,
                "2024-03-01 00:00:00",
            )
    finally:
        commit._finish_swap = real
    assert calls["n"] == 1

    run_incremental_gold(
        spark, str(bronze), str(gold), str(ckpt), demo.USERNAME,
        "2024-03-01 00:00:00",
    )
    streamed = read_gold_fact(spark, str(gold))
    both = spark.createDataFrame(
        demo.month_payload(1) + demo.month_payload(2), RAW_GAME_SCHEMA
    )
    batch = build_gold(
        spark, bronze_to_silver(both), demo.USERNAME, "2024-03-01 00:00:00"
    )["fact_games"]
    assert streamed.count() == batch.count() == 90
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def test_reader_during_swap_sees_old_or_new_never_mix(spark, tmp_path):
    """The docstring's reader-hidden-sibling claim, pinned (r10 verdict
    #5): a reader scanning the live table at ANY protocol point sees
    each partition's content entirely-old or entirely-new — never the
    staged replacement alongside the live rows, never a partially
    swapped partition's rows doubled.

    Probe points: (a) fully staged + intent written, nothing renamed —
    reader sees exactly the old table (the dot-prefixed staging sibling
    is invisible to Spark's listing); (b) mid-swap — one partition
    renamed in, the other still live-old — reader sees new content for
    the renamed partition and old for the other, with exact row
    multisets (no duplicates, no partial partitions); (c) after
    recover_pending_swaps — exactly the new table."""
    table = str(tmp_path / "tbl")
    old = spark.createDataFrame(
        [(1, "a", 10), (1, "b", 11), (2, "c", 20)], "p int, k string, v int"
    )
    old.write.partitionBy("p").parquet(table)
    rows = lambda: sorted(  # noqa: E731
        map(tuple, spark.read.parquet(table).select("p", "k", "v").collect())
    )
    old_rows = rows()
    assert len(old_rows) == 3

    # phase 1 complete: staged replacement for BOTH partitions + intent
    new = spark.createDataFrame(
        [(1, "a2", 100), (2, "c2", 200)], "p int, k string, v int"
    )
    staged = os.path.join(table, ".staged_t1")
    new.write.partitionBy("p").parquet(staged)
    open(os.path.join(table, "._swap_intent_t1"), "w").close()
    # (a) reader: staging + intent are invisible — exactly the old rows
    assert rows() == old_rows

    # (b) manufacture mid-swap: partition p=1 renamed in, p=2 not yet
    import shutil

    shutil.rmtree(os.path.join(table, "p=1"))
    os.rename(os.path.join(staged, "p=1"), os.path.join(table, "p=1"))
    got = rows()
    assert got == sorted([(1, "a2", 100), (2, "c", 20)])  # old-or-new only

    # (c) recovery completes the swap; reader sees exactly the new table
    assert commit.recover_pending_swaps(spark, table) == ["t1"]
    assert rows() == sorted([(1, "a2", 100), (2, "c2", 200)])
    assert not os.path.exists(staged)
    assert not os.path.exists(os.path.join(table, "._swap_intent_t1"))


def test_incremental_gold_dim_append_crash_replay(spark, tmp_path, monkeypatch):
    """Dims are append-only: a batch that crashes after appending its new
    dim keys and before staging the fact swap, then replays, must not
    append them twice.  Each gold dim equals the batch build over both
    months, one row per key."""
    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.plans.gold import (
        build_gold,
    )
    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.plans.silver import (
        bronze_to_silver,
    )
    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.schemas import (
        DIM_KEYS,
        RAW_GAME_SCHEMA,
    )
    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.sources import demo
    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.streaming.pipeline import (
        read_gold_fact,
        run_incremental_gold,
    )

    bronze, gold, ckpt = tmp_path / "bronze", tmp_path / "gold", tmp_path / "ck"
    bronze.mkdir()
    demo.write_month_json(str(bronze / "2024-01-games.json"), month=1)
    run_incremental_gold(
        spark, str(bronze), str(gold), str(ckpt), demo.USERNAME,
        "2024-03-01 00:00:00",
    )

    demo.write_month_json(str(bronze / "2024-02-games.json"), month=2)

    def boom(*a, **k):
        raise RuntimeError("simulated crash: dims appended, fact not staged")

    monkeypatch.setattr(commit, "two_phase_partition_overwrite", boom)
    with pytest.raises(Exception):
        run_incremental_gold(
            spark, str(bronze), str(gold), str(ckpt), demo.USERNAME,
            "2024-03-01 00:00:00",
        )
    monkeypatch.undo()
    # the crash point really is past the append: month 2's dates landed
    dim_date = spark.read.parquet(str(gold / "dim_date"))
    assert dim_date.where(F.col("month") == 2).count() > 0

    run_incremental_gold(
        spark, str(bronze), str(gold), str(ckpt), demo.USERNAME,
        "2024-03-01 00:00:00",
    )
    both = spark.createDataFrame(
        demo.month_payload(1) + demo.month_payload(2), RAW_GAME_SCHEMA
    )
    batch = build_gold(
        spark, bronze_to_silver(both), demo.USERNAME, "2024-03-01 00:00:00"
    )
    for dim, keys in DIM_KEYS.items():
        got = spark.read.parquet(str(gold / dim))
        assert got.count() == got.select(*keys).distinct().count(), dim
        assert got.exceptAll(batch[dim]).count() == 0, dim
        assert batch[dim].exceptAll(got).count() == 0, dim
    streamed = read_gold_fact(spark, str(gold))
    assert streamed.count() == 90
    assert streamed.exceptAll(batch["fact_games"]).count() == 0


def test_one_hadoop_fs_handle_and_one_checked_rename():
    """Only operators/commit.py opens a Hadoop FileSystem or renames on
    one, once each: every other module goes through ``hadoop_fs`` and
    ``rename_or_die``."""
    root = os.path.dirname(pkg.__file__)
    calls = []
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            with open(path) as fh:
                tree = ast.parse(fh.read(), filename=path)
            calls += [
                (os.path.relpath(path, root), node.func.attr)
                for node in ast.walk(tree)
                if isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("getFileSystem", "rename")
                # os.rename is a local-disk call, not a Hadoop one
                and not (
                    isinstance(node.func.value, ast.Name) and node.func.value.id == "os"
                )
            ]
    helper = os.path.join("operators", "commit.py")
    assert sorted(calls) == [(helper, "getFileSystem"), (helper, "rename")], calls
