"""Structured Streaming parity tests: the incremental variant must agree
with the batch pipeline (same merge kernel, same window expressions)."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from end_to_end_chess_com_etl_and_analytics_pipeline_spark.plans.gold import build_gold
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
    run_stream_to_memory,
    streaming_tumbling_counts,
)
from end_to_end_chess_com_etl_and_analytics_pipeline_spark.operators.windows import (
    tumbling_agg,
)
from end_to_end_chess_com_etl_and_analytics_pipeline_spark.sources.tables import (
    load_table,
)

from .conftest import SF_DIR


def test_incremental_gold_matches_batch(spark, tmp_path):
    """Two bronze months arriving as stream files → foreachBatch merge;
    the final fact must equal the batch build over both months at once."""
    bronze = tmp_path / "bronze"
    gold = tmp_path / "gold"
    ckpt = tmp_path / "ckpt"
    bronze.mkdir()
    demo.write_month_json(str(bronze / "2024-01-games.json"), month=1)
    demo.write_month_json(str(bronze / "2024-02-games.json"), month=2)

    run_incremental_gold(
        spark,
        str(bronze),
        str(gold),
        str(ckpt),
        demo.USERNAME,
        "2024-03-01 00:00:00",
    )
    streamed = read_gold_fact(spark, str(gold))

    both = spark.createDataFrame(
        demo.month_payload(1) + demo.month_payload(2), RAW_GAME_SCHEMA
    )
    batch_gold = build_gold(
        spark, bronze_to_silver(both), demo.USERNAME, "2024-03-01 00:00:00"
    )
    batch = batch_gold["fact_games"]

    assert streamed.count() == batch.count() == 90
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0

    # T5: dims persisted append-if-absent per micro-batch must equal the
    # batch dim builds over both months
    for dim in ("dim_openings", "dim_date", "dim_time_control", "dim_results"):
        streamed_dim = spark.read.parquet(str(gold / dim))
        expected = batch_gold[dim]
        assert streamed_dim.exceptAll(expected).count() == 0, dim
        assert expected.exceptAll(streamed_dim).count() == 0, dim


def test_incremental_gold_untouched_partitions(spark, tmp_path):
    """Partition-scoped merge: when a new month arrives, months the
    batch doesn't touch must remain byte-identical on disk (the merge
    is O(arriving month), not O(table))."""
    bronze = tmp_path / "bronze"
    gold = tmp_path / "gold"
    ckpt = tmp_path / "ckpt"
    bronze.mkdir()
    demo.write_month_json(str(bronze / "2024-01-games.json"), month=1)
    run_incremental_gold(
        spark, str(bronze), str(gold), str(ckpt), demo.USERNAME,
        "2024-03-01 00:00:00",
    )

    def month1_files():
        out = {}
        for root, _dirs, files in os.walk(str(gold / "fact_games")):
            if "year=2024" in root and "month=1" in root:
                for f in files:
                    p = os.path.join(root, f)
                    with open(p, "rb") as fh:
                        out[p] = fh.read()
        return out

    before = month1_files()
    assert before, "month-1 partition should exist"

    demo.write_month_json(str(bronze / "2024-02-games.json"), month=2)
    run_incremental_gold(
        spark, str(bronze), str(gold), str(ckpt), demo.USERNAME,
        "2024-03-01 00:00:00",
    )
    assert month1_files() == before
    months = sorted(
        tuple(r)
        for r in spark.read.parquet(str(gold / "fact_games"))
        .select("year", "month")
        .distinct()
        .collect()
    )
    assert (2024, 2) in months


def test_repull_without_new_keys_writes_no_dim_file(spark, tmp_path):
    """Dims are append-only on both the gold and the warehouse side: a
    re-pull whose dim keys are all present already must leave every dim
    file byte-identical, while the fact still takes the re-pull.  The
    month holds a daily game, whose '1/86400' control formats to a NULL
    time_control key: a NULL key is present like any other, so each dim
    keeps one row per key, NULL included."""
    import json

    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.plans.warehouse import (
        load_warehouse,
        read_watermark,
    )
    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.schemas import (
        DIM_KEYS,
    )

    bronze = tmp_path / "bronze"
    gold = tmp_path / "gold"
    dw = tmp_path / "dw"
    ckpt = tmp_path / "ckpt"
    bronze.mkdir()
    db = "chess_dw_repull_test"

    def land(run_ts):
        run_incremental_gold(
            spark, str(bronze), str(gold), str(ckpt), demo.USERNAME, run_ts
        )
        tables = {"fact_games": read_gold_fact(spark, str(gold))}
        for dim in DIM_KEYS:
            tables[dim] = spark.read.parquet(str(gold / dim))
        load_warehouse(spark, tables, location=str(dw), schema=db)

    def dim_files():
        out = {}
        for root in [gold / d for d in DIM_KEYS] + [dw / d for d in DIM_KEYS]:
            for dirpath, _dirs, files in os.walk(str(root)):
                for f in files:
                    p = os.path.join(dirpath, f)
                    with open(p, "rb") as fh:
                        out[p] = fh.read()
        return out

    def write_month(name):
        games = demo.month_payload(1)
        games[0]["time_control"] = "1/86400"
        games[0]["time_class"] = "daily"
        (bronze / name).write_text(json.dumps(games))

    def assert_one_row_per_key():
        for dim, keys in DIM_KEYS.items():
            for got in (
                spark.read.parquet(str(gold / dim)),
                spark.table(f"{db}.{dim}"),
            ):
                assert got.count() == got.select(*keys).distinct().count(), dim
        tc = spark.table(f"{db}.dim_time_control")
        assert tc.where(F.col("time_control").isNull()).count() == 1

    try:
        write_month("2024-01-games.json")
        land("2024-03-01 00:00:00")
        assert_one_row_per_key()
        before = dim_files()
        assert any(str(dw) in p for p in before), "warehouse dims should exist"

        write_month("2024-01-repull.json")
        land("2024-04-01 00:00:00")
        assert dim_files() == before
        assert_one_row_per_key()
        assert read_watermark(spark, db).month == 4
        fact = read_gold_fact(spark, str(gold))
        assert fact.where(F.month("last_updated") == 4).count() == 45
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_incremental_gold_idle_first_month_creates_dims(spark, tmp_path):
    """A first month with no games (Chess.com returns an empty games
    array for an idle month) must still leave every gold dim readable,
    and the next month's games then land in it."""
    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.schemas import (
        DIM_KEYS,
    )

    bronze = tmp_path / "bronze"
    gold = tmp_path / "gold"
    ckpt = tmp_path / "ckpt"
    bronze.mkdir()
    (bronze / "2024-01-games.json").write_text("[]")
    run_incremental_gold(
        spark, str(bronze), str(gold), str(ckpt), demo.USERNAME,
        "2024-03-01 00:00:00",
    )
    for dim in DIM_KEYS:
        got = spark.read.parquet(str(gold / dim)).count()
        # dim_results is a static seed; the others come from the games
        assert got > 0 if dim == "dim_results" else got == 0, dim

    demo.write_month_json(str(bronze / "2024-02-games.json"), month=2)
    run_incremental_gold(
        spark, str(bronze), str(gold), str(ckpt), demo.USERNAME,
        "2024-03-01 00:00:00",
    )
    raw = spark.createDataFrame(demo.month_payload(2), RAW_GAME_SCHEMA)
    batch = build_gold(
        spark, bronze_to_silver(raw), demo.USERNAME, "2024-03-01 00:00:00"
    )
    for dim in DIM_KEYS:
        got = spark.read.parquet(str(gold / dim))
        assert got.exceptAll(batch[dim]).count() == 0, dim
        assert batch[dim].exceptAll(got).count() == 0, dim


def test_incremental_gold_cross_month_correction(spark, tmp_path):
    """A re-pull that CORRECTS a game's date into a different month must
    retire the stale row in the old month's partition: exactly one row
    per game_url survives, living in the corrected month (the
    stale-month probe in plans.gold.land_gold)."""
    import json

    bronze = tmp_path / "bronze"
    gold = tmp_path / "gold"
    ckpt = tmp_path / "ckpt"
    bronze.mkdir()
    demo.write_month_json(str(bronze / "2024-01-games.json"), month=1)
    run_incremental_gold(
        spark, str(bronze), str(gold), str(ckpt), demo.USERNAME,
        "2024-03-01 00:00:00",
    )
    # correction re-pull: same game_url as month-1 game 0, but its PGN
    # date (-> game_date) now falls in February
    moved_url = demo.make_game(0, month=1)["url"]
    fixed = demo.make_game(0, month=2)
    fixed["url"] = moved_url
    (bronze / "2024-01-games-fixed.json").write_text(json.dumps([fixed]))
    run_incremental_gold(
        spark, str(bronze), str(gold), str(ckpt), demo.USERNAME,
        "2024-04-01 00:00:00",
    )
    fact = spark.read.parquet(str(gold / "fact_games"))
    moved = fact.where(F.col("game_url") == moved_url).collect()
    assert len(moved) == 1, "stale cross-month copy must be retired"
    assert (moved[0]["year"], moved[0]["month"]) == (2024, 2)
    # no duplicates anywhere; the corpus is still the 45 month-1 games
    assert fact.count() == 45
    assert fact.select("game_url").distinct().count() == 45


def test_streaming_tumbling_equals_batch(spark, tmp_path):
    stream_dir = tmp_path / "events"
    stream_dir.mkdir()
    shutil.copy(
        os.path.join(SF_DIR, "events.parquet"), stream_dir / "events.parquet"
    )
    agg = streaming_tumbling_counts(spark, str(stream_dir), "1 hour", "30 minutes")
    run_stream_to_memory(agg, "t_stream_tumbling", output_mode="complete")
    streamed = spark.table("t_stream_tumbling").select(
        "window_start", "event_type", "n_events"
    )
    batch = tumbling_agg(load_table(spark, "events", SF_DIR), "1 hour").select(
        "window_start", "event_type", "n_events"
    )
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def test_stateful_sessions_multi_batch(spark, tmp_path):
    """A session spanning micro-batches keeps its ordinal and is
    re-emitted with corrected totals (carried start + accumulated count),
    so the latest emission per (user, session_seq) equals the batch
    sessionize — the multi-batch contract of streaming_stateful_sessions."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.streaming.pipeline import (
        streaming_stateful_sessions,
    )

    d = tmp_path / "ev"
    d.mkdir()

    def write(name, rows):
        table = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                # int64 nanos, like the fixture's TIMESTAMP(NANOS) column
                "ts": pa.array([r[1] * 10**9 for r in rows], pa.int64()),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array(["view"] * len(rows)),
                "value": pa.array([1.0] * len(rows), pa.float64()),
                "props": pa.array(["{}"] * len(rows)),
            }
        )
        pq.write_table(table, str(d / name))

    # batch 1: user 1 has an open 2-event session; user 2 one event
    write("0.parquet", [(1, 1000, 1), (2, 1600, 1), (3, 1000, 2)])
    # batch 2: user 1's session extends (gap 900s < 1800s) then a new one
    # opens; user 2 starts a new session; user 3 appears fresh
    write("1.parquet", [(4, 2500, 1), (5, 10000, 1), (6, 5000, 2), (7, 7000, 3)])

    sessions = streaming_stateful_sessions(
        spark, str(d), gap_seconds=1800, max_files_per_trigger=1
    )
    run_stream_to_memory(sessions, "t_sessions_mb", output_mode="append")
    rows = spark.table("t_sessions_mb").collect()

    def ep(ts):
        return int(ts.timestamp())

    latest = {}
    for r in rows:
        k = (r.user_id, r.session_seq)
        if k not in latest or r.n_events > latest[k][2]:
            latest[k] = (ep(r.session_start), ep(r.session_end), r.n_events)
    assert latest == {
        (1, 1): (1000, 2500, 3),  # corrected: original start, full count
        (1, 2): (10000, 10000, 1),
        (2, 1): (1000, 1000, 1),
        (2, 2): (5000, 5000, 1),
        (3, 1): (7000, 7000, 1),
    }
    # the spanning session really was emitted in both batches (stale
    # prefix in batch 1, corrected totals in batch 2)
    assert sum(1 for r in rows if (r.user_id, r.session_seq) == (1, 1)) == 2


def test_multimodal_features_roundtrip(spark):
    """mapInPandas media features: Arrow batch plumbing produces exact
    deterministic features for every row."""
    import hashlib

    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.multimodal.media import (
        attach_binary_payload,
        extract_media_features,
    )

    # deterministic subset: a bare limit() after the adaptive small-scan
    # spread picks different rows per evaluation
    docs = load_table(spark, "documents", SF_DIR).where(F.col("doc_id") < 50)
    feats = extract_media_features(attach_binary_payload(docs)).collect()
    texts = {r.doc_id: r.text for r in docs.collect()}
    assert len(feats) == 50
    for r in feats:
        raw = texts[r.doc_id].encode("utf-8")
        assert r.n_bytes == len(raw)
        assert r.payload_md5 == hashlib.md5(raw).hexdigest()
        assert r.head_hex == raw[:8].hex()
        assert r.media_type == "text/plain"


def test_native_session_window_boundary_semantics(spark):
    """Pin Spark's session_window boundary behaviour (encoded in x56's
    oracle): a gap EXACTLY equal to 30 min merges (strictly-greater
    starts a new session), at MICROSECOND precision, and window.end is
    last_event + gap."""
    import datetime as dt

    from pyspark.sql import functions as F

    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, base), (1, base + dt.timedelta(seconds=1800)),
        (2, base), (2, base + dt.timedelta(seconds=1799, microseconds=999999)),
        (3, base), (3, base + dt.timedelta(seconds=1800, microseconds=1)),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = (
        df.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count("*").alias("n"))
        .select(
            "user_id",
            F.col("session_window.start").alias("s"),
            F.col("session_window.end").alias("e"),
            "n",
        )
    )
    got = sorted((r["user_id"], r["s"], r["e"], r["n"]) for r in out.collect())
    gap = dt.timedelta(minutes=30)
    assert got == [
        (1, base, base + dt.timedelta(seconds=1800) + gap, 2),
        (2, base, base + dt.timedelta(seconds=1799, microseconds=999999) + gap, 2),
        (3, base, base + gap, 1),
        (
            3,
            base + dt.timedelta(seconds=1800, microseconds=1),
            base + dt.timedelta(seconds=1800, microseconds=1) + gap,
            1,
        ),
    ]


def test_streaming_state_drops_pre_epoch_rows(spark, tmp_path):
    """Engine boundary (CONTRACTS.md): the streaming event-time
    watermark floors at epoch 0, so PRE-epoch rows are dropped as late
    by watermarked stateful operators even in their arrival batch —
    while an exact-epoch row survives.  Batch session windows have no
    floor; this is why ts_probe sweeps the time suite by its batch
    members."""
    import datetime as dt
    import os

    from pyspark.sql import functions as F

    rows = [
        (1, dt.datetime(1969, 1, 1, 0, 0, 0), 5),
        (2, dt.datetime(1969, 1, 1, 0, 5, 0), 5),
        (3, dt.datetime(1970, 1, 1, 0, 0, 0), 6),
        (4, dt.datetime(2024, 1, 1, 0, 0, 0), 7),
        (5, dt.datetime(2024, 2, 1, 0, 0, 0), 7),  # advances watermark
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")
    d = os.path.join(str(tmp_path), "ev")
    df.coalesce(1).write.parquet(d)
    schema = spark.read.parquet(d).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count("*").alias("n"))
    )
    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.streaming.pipeline import (
        run_stream_to_memory,
    )

    run_stream_to_memory(agg, "pre_epoch_probe", output_mode="append")
    users = {r["user_id"] for r in spark.table("pre_epoch_probe").collect()}
    assert 5 not in users   # pre-epoch session silently dropped
    assert 6 in users       # exact-epoch survives
    # batch form keeps everything
    batch = df.groupBy(
        "user_id", F.session_window("ts", "30 minutes")
    ).agg(F.count("*").alias("n"))
    assert {r["user_id"] for r in batch.collect()} == {5, 6, 7}


def test_job_description_restored_on_exit_and_raise(spark):
    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.session import (
        job_description,
    )

    sc = spark.sparkContext
    key = "spark.job.description"
    for caller in ("caller", None):
        sc.setLocalProperty(key, caller)
        try:
            with job_description(spark, "inner"):
                assert sc.getLocalProperty(key) == "inner"
            assert sc.getLocalProperty(key) == caller
            with pytest.raises(RuntimeError):
                with job_description(spark, "inner"):
                    raise RuntimeError("body fails")
            assert sc.getLocalProperty(key) == caller
        finally:
            sc.setLocalProperty(key, None)


def test_landing_jobs_carry_their_description(spark, tmp_path, monkeypatch):
    """Every job a re-pull's ``foreachBatch`` landing runs — its
    concurrent writes and AQE stages included — carries the description
    ``land_gold b{batch_id}`` in the status store."""
    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.streaming import (
        pipeline,
    )

    jsc = spark.sparkContext._jsc.sc()
    landed = []

    def recording(*args, _land=pipeline.land_gold):
        first = jsc.dagScheduler().nextJobId()
        _land(*args)
        landed.append((args[5], range(first, jsc.dagScheduler().nextJobId())))

    bronze, gold, ckpt = tmp_path / "bronze", tmp_path / "gold", tmp_path / "ck"
    bronze.mkdir()
    demo.write_month_json(str(bronze / "2024-01-games.json"), month=1)
    run_incremental_gold(
        spark, str(bronze), str(gold), str(ckpt), demo.USERNAME,
        "2024-03-01 00:00:00",
    )
    demo.write_month_json(str(bronze / "2024-01-repull.json"), month=1)
    monkeypatch.setattr(pipeline, "land_gold", recording)
    run_incremental_gold(
        spark, str(bronze), str(gold), str(ckpt), demo.USERNAME,
        "2024-04-01 00:00:00",
    )
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    assert [token for token, _jobs in landed] == ["b1"]
    jobs = landed[0][1]
    assert len(jobs) > 0
    for job_id in jobs:
        desc = store.job(job_id).description()
        assert desc.isDefined() and desc.get() == "land_gold b1", job_id
