"""``plans.gold.land_gold`` is the one path that merges into and commits
to gold.  Pins that gold does not depend on how months are split across
landings or on their order, that the stream and a backfill agree on the
openings book's canonical names, that a game leaving the NULL-date
partition drops it and its emptied parent, and that only the commit
knows Spark's NULL partition name."""

from __future__ import annotations

import os

import end_to_end_chess_com_etl_and_analytics_pipeline_spark as pkg
from end_to_end_chess_com_etl_and_analytics_pipeline_spark.plans.gold import (
    build_gold,
    land_gold,
)
from end_to_end_chess_com_etl_and_analytics_pipeline_spark.plans.silver import (
    bronze_to_silver,
)
from end_to_end_chess_com_etl_and_analytics_pipeline_spark.schemas import (
    DIM_SCHEMAS,
    OPENINGS_CSV_SCHEMA,
    RAW_GAME_SCHEMA,
)
from end_to_end_chess_com_etl_and_analytics_pipeline_spark.sources import demo
from end_to_end_chess_com_etl_and_analytics_pipeline_spark.streaming.pipeline import (
    read_gold_fact,
    run_incremental_gold,
)

NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _silver(spark, games):
    return bronze_to_silver(spark.createDataFrame(games, RAW_GAME_SCHEMA))


def _months(*months):
    return [g for m in months for g in demo.month_payload(m)]


def _assert_same_rows(a, b, what):
    assert a.exceptAll(b).count() == 0, what
    assert b.exceptAll(a).count() == 0, what


def test_landing_is_order_independent(spark, tmp_path):
    """Months 1-3 landed as one backfill, as three stream micro-batches
    and as three landings in the order 3, 1, 2 give the same gold, with
    the book's canonical opening names on every path."""
    book = spark.createDataFrame(demo.OPENINGS_LOOKUP, OPENINGS_CSV_SCHEMA)
    run_ts = "2024-04-01 00:00:00"

    backfill = str(tmp_path / "backfill")
    land_gold(
        spark, _silver(spark, _months(1, 2, 3)), backfill, demo.USERNAME,
        run_ts, "all", book,
    )

    bronze = tmp_path / "bronze"
    bronze.mkdir()
    for m in (1, 2, 3):
        demo.write_month_json(str(bronze / f"2024-{m:02d}-games.json"), month=m)
    streamed = str(tmp_path / "streamed")
    run_incremental_gold(
        spark, str(bronze), streamed, str(tmp_path / "ckpt"), demo.USERNAME,
        run_ts, openings_lookup=book,
    )

    shuffled = str(tmp_path / "shuffled")
    for m in (3, 1, 2):
        land_gold(
            spark, _silver(spark, _months(m)), shuffled, demo.USERNAME,
            run_ts, f"m{m}", book,
        )

    golds = (backfill, streamed, shuffled)
    facts = [read_gold_fact(spark, g) for g in golds]
    assert facts[0].count() == 135
    for g, fact in zip(golds[1:], facts[1:]):
        _assert_same_rows(facts[0], fact, g)
    for dim, schema in DIM_SCHEMAS.items():
        got = [spark.read.schema(schema).parquet(os.path.join(g, dim)) for g in golds]
        for g, d in zip(golds[1:], got[1:]):
            _assert_same_rows(got[0], d, f"{g} {dim}")

    openings = spark.read.parquet(os.path.join(streamed, "dim_openings"))
    expected = build_gold(
        spark, _silver(spark, _months(1, 2, 3)), demo.USERNAME, run_ts,
        openings_lookup=book,
    )["dim_openings"]
    _assert_same_rows(openings, expected, "dim_openings vs build_gold")
    names = {r.opening_name for r in openings.select("opening_name").collect()}
    assert "French Defense: Advance Variation" in names


def test_null_date_partition_dropped_when_its_game_moves(spark, tmp_path):
    """A game whose PGN has no Date tag lands in the NULL partition; its
    re-pull with a February date leaves that partition empty, and the
    commit drops it instead of keeping the stale copy."""
    undated = demo.make_game(0, month=1)
    undated["pgn"] = "\n".join(
        line for line in undated["pgn"].split("\n") if not line.startswith("[Date ")
    )
    gold = str(tmp_path / "gold")
    fact_dir = os.path.join(gold, "fact_games")
    null_dir = os.path.join(
        fact_dir, f"year={NULL_PARTITION}", f"month={NULL_PARTITION}"
    )
    land_gold(
        spark, _silver(spark, [undated]), gold, demo.USERNAME,
        "2024-03-01 00:00:00", "t1",
    )
    assert os.path.isdir(null_dir)

    dated = demo.make_game(0, month=2)
    dated["url"] = undated["url"]
    land_gold(
        spark, _silver(spark, [dated]), gold, demo.USERNAME,
        "2024-04-01 00:00:00", "t2",
    )
    assert not os.path.exists(null_dir)
    # the emptied parent is no partition either
    assert not os.path.exists(os.path.dirname(null_dir))
    rows = spark.read.parquet(fact_dir).select("game_url", "year", "month").collect()
    assert [tuple(r) for r in rows] == [(undated["url"], 2024, 2)]


def test_null_partition_name_only_in_commit():
    root = os.path.dirname(pkg.__file__)
    holders = set()
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            path = os.path.join(dirpath, f)
            if f.endswith(".py") and NULL_PARTITION in open(path).read():
                holders.add(os.path.relpath(path, root))
    assert holders == {os.path.join("operators", "commit.py")}
