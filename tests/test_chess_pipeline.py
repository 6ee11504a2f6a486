"""Reference-parity tests for the chess medallion pipeline
(SURVEY.md §5.2.2-3): silver transform vs a DuckDB oracle over the same
raw JSON, UDF-replacement unit vectors from the reference docstrings,
gold build semantics, and merge-operator properties."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from end_to_end_chess_com_etl_and_analytics_pipeline_spark.plans.gold import (
    build_dim_date,
    build_dim_openings,
    build_dim_time_control,
    build_gold,
)
from end_to_end_chess_com_etl_and_analytics_pipeline_spark.plans.silver import (
    bronze_to_silver,
)
from end_to_end_chess_com_etl_and_analytics_pipeline_spark.plans.analytics import (
    classify_openings,
    win_rate_by_opening,
)
from end_to_end_chess_com_etl_and_analytics_pipeline_spark.schemas import (
    DIM_KEYS,
    OPENINGS_CSV_SCHEMA,
    RAW_GAME_SCHEMA,
    SILVER_SCHEMA,
)
from end_to_end_chess_com_etl_and_analytics_pipeline_spark.sources.tables import (
    read_json,
)

from end_to_end_chess_com_etl_and_analytics_pipeline_spark.sources import demo as fx
from .oracle_compare import compare


@pytest.fixture(scope="module")
def raw_games(spark):
    return spark.createDataFrame(fx.month_payload(1), RAW_GAME_SCHEMA)


@pytest.fixture(scope="module")
def silver(raw_games):
    df = bronze_to_silver(raw_games)
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def openings_lookup(spark):
    return spark.createDataFrame(fx.OPENINGS_LOOKUP, OPENINGS_CSV_SCHEMA)


def test_silver_schema_contract(silver):
    assert [f.name for f in silver.schema.fields] == [
        f.name for f in SILVER_SCHEMA.fields
    ]
    assert silver.count() == 45


def test_silver_matches_duckdb_oracle(spark, silver, tmp_path_factory):
    """Differential: the same raw JSON through DuckDB with the
    reference-shaped SQL (regex extraction, strptime casts) must produce
    identical silver values.  pgn_trans (the UDF replacement) is checked
    separately in test_add_move_numbers_semantics."""
    import duckdb

    path = str(tmp_path_factory.mktemp("bronze") / "games.json")
    fx.write_month_json(path, month=1)
    con = duckdb.connect()
    oracle = con.sql(
        f"""
        SELECT url AS game_url, time_control, rated, time_class, rules,
               white.rating AS white_rating, white.result AS white_result,
               black.rating AS black_rating, black.result AS black_result,
               REGEXP_EXTRACT(pgn, '\\[Event "(.*?)"', 1) AS pgn_event,
               REGEXP_EXTRACT(pgn, '\\[Site "(.*?)"', 1) AS pgn_site,
               STRPTIME(REPLACE(REGEXP_EXTRACT(pgn, '\\[Date "(.*?)"', 1), '.', '/'), '%Y/%m/%d')::DATE AS game_date,
               REGEXP_EXTRACT(pgn, '\\[White "(.*?)"', 1) AS pgn_white_user,
               REGEXP_EXTRACT(pgn, '\\[Black "(.*?)"', 1) AS pgn_black_user,
               REGEXP_EXTRACT(pgn, '\\[Result "(.*?)"', 1) AS pgn_result,
               REGEXP_EXTRACT(pgn, '\\[CurrentPosition "(.*?)"', 1) AS pgn_current_position,
               REGEXP_EXTRACT(pgn, '\\[Timezone "(.*?)"', 1) AS pgn_timezone,
               REGEXP_EXTRACT(pgn, '\\[ECO "(.*?)"', 1) AS pgn_eco,
               REGEXP_EXTRACT(pgn, '\\[ECOUrl "(.*?)"', 1) AS pgn_eco_url,
               STRPTIME(
                   REPLACE(REGEXP_EXTRACT(pgn, '\\[Date "(.*?)"', 1), '.', '/')
                   || ' ' || REGEXP_EXTRACT(pgn, '\\[StartTime "(.*?)"', 1),
                   '%Y/%m/%d %H:%M:%S') AS start_time,
               STRPTIME(
                   REPLACE(REGEXP_EXTRACT(pgn, '\\[EndDate "(.*?)"', 1), '.', '/')
                   || ' ' || REGEXP_EXTRACT(pgn, '\\[EndTime "(.*?)"', 1),
                   '%Y/%m/%d %H:%M:%S') AS end_time,
               STRPTIME(REPLACE(REGEXP_EXTRACT(pgn, '\\[EndDate "(.*?)"', 1), '.', '/'), '%Y/%m/%d')::DATE AS end_game_date,
               ARRAY_TO_STRING(REGEXP_EXTRACT_ALL(pgn, '\\. (.*?) {{\\[', 1), ' ') AS pgn_raw
        FROM read_json_auto('{path}')
        """
    )
    compare(silver.drop("pgn_trans"), oracle)


_REAL_PAYLOAD = "/root/reference/dev_files/Data/2024-01/games.json"


@pytest.mark.skipif(
    not __import__("os").path.exists(_REAL_PAYLOAD),
    reason="reference dev payload not present",
)
def test_silver_golden_real_payload(spark):
    """Golden vectors against the REAL API payload (514 records,
    SURVEY.md §5.2.2): the full silver transform — including pgn_trans,
    which the demo-data oracle test drops — must be value-identical to
    the DuckDB recomputation over the same file.  This is the
    reference's own input, so divergence here is user-visible."""
    import duckdb

    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.plans.pipelines import (
        _SILVER_FROM_JSON_SQL,
    )

    silver = bronze_to_silver(read_json(spark, _REAL_PAYLOAD, RAW_GAME_SCHEMA))
    assert silver.count() == 514
    assert silver.where(F.col("game_date").isNull()).count() == 0
    con = duckdb.connect()
    compare(silver, con.sql(_SILVER_FROM_JSON_SQL.replace("@SRC@", _REAL_PAYLOAD)))


def test_silver_reads_real_json_files(spark, tmp_path_factory):
    """S2: the multiLine JSON source reads a monthly payload file with the
    declared raw schema (no inference)."""
    path = str(tmp_path_factory.mktemp("bronze2") / "2024-01-games.json")
    fx.write_month_json(path, month=1)
    raw = read_json(spark, path, RAW_GAME_SCHEMA)
    assert raw.count() == 45
    sv = bronze_to_silver(raw)
    assert sv.where(F.col("game_date").isNull()).count() == 0


def test_add_move_numbers_semantics(spark, silver):
    """D1 unit vectors (udfs.py:61-62 docstring example + the actual
    odd-length trailing-space behaviour of the reference loop)."""
    rows = (
        spark.createDataFrame(
            [(["e4", "e5", "Nf3", "Nc6", "Bb5"],), (["e4", "e5"],), ([],)],
            "moves: array<string>",
        )
        .select(
            __import__(
                "end_to_end_chess_com_etl_and_analytics_pipeline_spark.functions.pgn",
                fromlist=["add_move_numbers"],
            ).add_move_numbers(F.col("moves")).alias("out")
        )
        .collect()
    )
    # reference loop emits a trailing space inside the last element of an
    # odd-length list (f-string with '' for the missing black move)
    assert rows[0].out == "1. e4 e5 2. Nf3 Nc6 3. Bb5 "
    assert rows[1].out == "1. e4 e5"
    assert rows[2].out == ""
    # full-pipeline invariant: pgn_trans reconstructs the raw move list
    bad = (
        silver.select(
            F.array_join(
                F.filter(
                    F.split(F.col("pgn_trans"), " "),
                    lambda t: ~t.rlike(r"^\d+\.$") & (t != ""),
                ),
                " ",
            ).alias("reconstructed"),
            "pgn_raw",
        )
        .where(F.col("reconstructed") != F.col("pgn_raw"))
        .count()
    )
    assert bad == 0


def test_scalar_udf_replacements(spark):
    """D3-D6/D9 unit vectors, incl. the §2.11.6 multi-colon quirk."""
    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.functions import pgn as p

    df = spark.createDataFrame(
        [("French Defense: Advance Variation",), ("Sicilian Defense",), ("A: B: C",)],
        "name: string",
    ).select(
        p.opening_family("name").alias("fam"),
        p.opening_variation("name").alias("var"),
    )
    got = [(r.fam, r.var) for r in df.collect()]
    assert got == [
        ("French Defense", " Advance Variation"),
        ("Sicilian Defense", "Sicilian Defense"),
        ("A", " B"),  # reference keeps only split(':')[1]
    ]

    tc = spark.createDataFrame(
        [("120+1",), ("600",), ("60",), ("600+5",), ("1/86400",)],
        "tc: string",
    ).select(
        p.format_time_control("tc").alias("fmt"),
        p.time_class_of("tc").alias("cls"),
    )
    got = [(r.fmt, r.cls) for r in tc.collect()]
    # '1/86400' is Chess.com's daily-game shape: under Spark 4's
    # default ANSI mode a plain cast would CRASH the job here; try_cast
    # yields NULL display + 'rapid' bucket, matching the oracle's
    # TRY_CAST semantics
    assert got == [
        ("2|1", "bullet"),
        ("10", "rapid"),
        ("1", "bullet"),
        ("10|5", "rapid"),
        (None, "rapid"),
    ]

    depth = spark.createDataFrame(
        [("1. e4 e5 2. Nf3 Nc6 3. Bb5 ",), ("",)], "s: string"
    ).select(p.pgn_depth("s").alias("d"))
    assert [r.d for r in depth.collect()] == [3, 0]

    name = spark.createDataFrame(
        [("https://www.chess.com/openings/French-Defense-Advance-Variation",)],
        "u: string",
    ).select(p.opening_name_from_url("u").alias("n"))
    assert name.collect()[0].n == "French Defense Advance Variation"


def test_move_pairs_map(spark):
    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.functions.pgn import (
        move_pairs_map,
    )

    df = spark.createDataFrame(
        [("1. e4 e5 2. Nf3 Nc6 3. Bb5 ",)], "s: string"
    ).select(move_pairs_map("s").alias("m"))
    m = df.collect()[0].m
    assert m[1] == ["e4", "e5"] and m[2] == ["Nf3", "Nc6"] and m[3] == ["Bb5"]


def test_gold_build(spark, silver, openings_lookup):
    gold = build_gold(
        spark, silver, fx.USERNAME, "2024-02-01 00:00:00",
        openings_lookup=openings_lookup,
    )
    fact = gold["fact_games"].cache()
    assert fact.count() == 45  # validation joins add no rows (§2.11.4)
    # case-insensitive username: every row resolves to "my" side
    mine = fact.select(F.lower("my_username").alias("u")).distinct().collect()
    assert {r.u for r in mine} == {fx.USERNAME.lower()}
    # duration consistency
    neg = fact.where(F.col("game_duration_secs") < 0).count()
    assert neg == 0
    # dims are key-unique
    for name, key in [
        ("dim_openings", "pgn_eco_url"),
        ("dim_date", "game_date"),
        ("dim_time_control", "time_control"),
        ("dim_results", "result_code"),
    ]:
        d = gold[name]
        assert d.count() == d.select(key).distinct().count(), name
    # canonical names from the lookup survive the broadcast enrich
    names = {
        r.opening_name
        for r in gold["dim_openings"].select("opening_name").collect()
    }
    assert "French Defense: Advance Variation" in names


def test_fact_merge_idempotent_latest_wins(spark, silver, tmp_path):
    """T4/J2 property tests on the one gold landing path: re-landing a
    month is a no-op; a re-pull with a newer last_updated replaces rows
    (latest-wins)."""
    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.plans.gold import (
        land_gold,
    )
    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.streaming.pipeline import (
        read_gold_fact,
    )

    gold = str(tmp_path / "gold")
    land_gold(spark, silver, gold, fx.USERNAME, "2024-02-01 00:00:00", "t1")
    fact1 = read_gold_fact(spark, gold).localCheckpoint()
    # same month again, same run_ts → identical fact
    land_gold(spark, silver, gold, fx.USERNAME, "2024-02-01 00:00:00", "t2")
    fact2 = read_gold_fact(spark, gold)
    assert fact2.count() == fact1.count()
    assert fact2.exceptAll(fact1).count() == 0
    # re-pull with newer ts → every last_updated advances, count unchanged
    land_gold(spark, silver, gold, fx.USERNAME, "2024-03-01 00:00:00", "t3")
    fact3 = read_gold_fact(spark, gold)
    assert fact3.count() == fact1.count()
    assert (
        fact3.agg(F.min("last_updated")).collect()[0][0]
        == dt.datetime(2024, 3, 1)
    )


def test_dim_merge_insert_if_absent(spark, silver):
    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.operators.merge import (
        insert_if_absent,
    )

    dim1 = build_dim_date(spark, silver).cache()
    merged = insert_if_absent(dim1, build_dim_date(spark, silver), keys=["game_date"])
    assert merged.count() == dim1.count()  # never shrinks, no dups
    # new month adds rows monotonically
    raw2 = spark.createDataFrame(fx.month_payload(2), RAW_GAME_SCHEMA)
    dim2 = build_dim_date(spark, bronze_to_silver(raw2))
    merged2 = insert_if_absent(dim1, dim2, keys=["game_date"])
    assert merged2.count() >= dim1.count()


def test_not_in_null_semantics(spark):
    """§4.3: SQL NOT IN is null-poisoned; left_anti is not.  Pin both."""
    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.operators.merge import (
        insert_if_absent,
    )

    existing = spark.createDataFrame([("a",), (None,)], "k: string")
    incoming = spark.createDataFrame([("b",), ("a",)], "k: string")
    # anti-join semantics: 'b' inserts
    anti = insert_if_absent(existing, incoming, ["k"])
    assert {r.k for r in anti.collect()} == {"a", "b", None}
    # NOT IN semantics: NULL in existing poisons the subquery → no inserts
    strict = insert_if_absent(existing, incoming, ["k"], not_in_semantics=True)
    assert {r.k for r in strict.collect()} == {"a", None}


def test_analytics_views(spark, silver, openings_lookup):
    gold = build_gold(
        spark, silver, fx.USERNAME, "2024-02-01 00:00:00",
        openings_lookup=openings_lookup,
    )
    wr = win_rate_by_opening(
        gold["fact_games"], gold["dim_openings"], gold["dim_results"]
    )
    rows = wr.collect()
    assert len(rows) > 0
    assert all(0.0 <= r.win_rate <= 1.0 for r in rows if r.win_rate is not None)

    cls = classify_openings(gold["fact_games"], openings_lookup)
    got = {r.game_url: r.opening_name for r in cls.collect()}
    assert len(got) == 45
    # every fixture game starting 1. e4 e6 2. d4 d5 ... must classify at
    # least to "French Defense" (longest matching book prefix)
    some = [v for v in got.values() if v is not None]
    assert "French Defense" in some or "French Defense: Advance Variation" in some


def test_warehouse_ddl_idempotent(spark, tmp_path):
    """S9: star-schema DDL on the session catalog — idempotent
    CREATE IF NOT EXISTS, insertable, re-runnable without data loss."""
    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.sources.tables import (
        WAREHOUSE_TABLES,
        create_warehouse,
        dim_results_seed,
    )

    db = "chess_dw_test"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{tmp_path}/db'")
    try:
        create_warehouse(spark, location=str(tmp_path), schema=db)
        tables = {r.tableName for r in spark.sql(f"SHOW TABLES IN {db}").collect()}
        assert set(WAREHOUSE_TABLES) <= tables
        dim_results_seed(spark).write.insertInto(f"{db}.dim_results")
        assert spark.table(f"{db}.dim_results").count() == 15
        # second run must neither fail nor clobber existing rows
        create_warehouse(spark, location=str(tmp_path), schema=db)
        assert spark.table(f"{db}.dim_results").count() == 15
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_csv_scan_and_json_sink_roundtrip(spark, tmp_path):
    """S4 + S7: declared-schema CSV scan and engine-side JSON sink."""
    import csv

    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.schemas import (
        OPENINGS_CSV_SCHEMA,
    )
    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.sources.tables import (
        read_csv,
        write_json,
    )

    csv_path = tmp_path / "openings.csv"
    with open(csv_path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow([fld.name for fld in OPENINGS_CSV_SCHEMA.fields])
        w.writerow(["A00", "A00", "Polish Opening", "1. b4"])
        w.writerow(["C00", "C00", "French Defense", "1. e4 e6"])
    df = read_csv(spark, str(csv_path), OPENINGS_CSV_SCHEMA)
    assert df.count() == 2
    assert df.schema == OPENINGS_CSV_SCHEMA

    out = tmp_path / "bronze_json"
    write_json(df, str(out))
    # the sink emits NDJSON (line mode), unlike the reference's
    # array-document bronze which read_json's multiLine handles
    back = spark.read.schema(OPENINGS_CSV_SCHEMA).json(str(out))
    assert sorted(r.name for r in back.collect()) == [
        "French Defense",
        "Polish Opening",
    ]


def test_json_corrupt_record_quarantine(spark, tmp_path):
    """S2 hardened: malformed NDJSON lines land in _corrupt_record with
    the raw text; well-formed lines parse normally; nothing crashes or
    silently drops."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.sources.tables import (
        read_json_tracked,
    )

    path = tmp_path / "feed.jsonl"
    path.write_text(
        '{"doc_id": 1, "text": "ok"}\n'
        '{"doc_id": 2, "text": "also ok"}\n'
        '{"doc_id": 3, "text": broken\n'
        "not json at all\n"
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    df = read_json_tracked(spark, str(path), schema).cache()
    good = df.where(F.col("_corrupt_record").isNull())
    bad = df.where(F.col("_corrupt_record").isNotNull())
    assert sorted(r["doc_id"] for r in good.collect()) == [1, 2]
    bad_rows = bad.collect()
    assert len(bad_rows) == 2
    # the quarantined rows carry the raw line for replay/debugging
    raws = {r["_corrupt_record"] for r in bad_rows}
    assert '{"doc_id": 3, "text": broken' in raws
    assert "not json at all" in raws
    df.unpersist()


def test_csv_corrupt_record_quarantine(spark, tmp_path):
    """S4 hardened: rows violating the declared CSV schema quarantine
    into _corrupt_record; clean rows parse."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.sources.tables import (
        read_csv_tracked,
    )

    path = tmp_path / "feed.csv"
    path.write_text("doc_id,score\n1,0.5\n2,not_a_number\n3,0.9\n")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    df = read_csv_tracked(spark, str(path), schema).cache()
    good = df.where(F.col("_corrupt_record").isNull())
    bad = df.where(F.col("_corrupt_record").isNotNull()).collect()
    assert sorted(r["doc_id"] for r in good.collect()) == [1, 3]
    assert len(bad) == 1 and bad[0]["_corrupt_record"] == "2,not_a_number"
    df.unpersist()


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """S3 hardened: files written before a column existed read as NULL
    in that column under mergeSchema; both generations coexist."""
    from pyspark.sql import functions as F

    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.sources.tables import (
        read_parquet_evolving,
    )

    path = str(tmp_path / "bronze")
    spark.createDataFrame(
        [(1, "a")], "doc_id: long, text: string"
    ).write.parquet(path)
    spark.createDataFrame(
        [(2, "b", "en")], "doc_id: long, text: string, lang: string"
    ).write.mode("append").parquet(path)
    df = read_parquet_evolving(spark, path)
    assert set(df.columns) == {"doc_id", "text", "lang"}
    rows = {r["doc_id"]: r["lang"] for r in df.collect()}
    assert rows == {1: None, 2: "en"}
    # the old generation's missing column is NULL, not an error, and
    # filters on it still prune correctly
    assert df.where(F.col("lang") == "en").count() == 1


def test_orc_and_text_roundtrip(spark, tmp_path):
    """ORC sink/scan (partitioned, dynamic overwrite) and raw text-line
    scan — the non-Parquet corners of the source surface."""
    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.sources.tables import (
        load_table,
        read_orc,
        read_text,
        write_orc,
    )

    from .conftest import SF_DIR

    docs = load_table(spark, "documents", SF_DIR).select(
        "doc_id", "text", (F.col("doc_id") % 3).alias("part")
    )
    out = tmp_path / "docs_orc"
    write_orc(docs, str(out), partition_by=["part"])
    back = read_orc(spark, str(out))
    assert back.count() == docs.count()
    # partition pruning: filtering the partition col scans one partition dir
    pruned = back.where(F.col("part") == 1)
    assert pruned.count() == docs.where(F.col("doc_id") % 3 == 1).count()
    # dynamic overwrite rewrites ONLY the partition present in the new data
    write_orc(
        docs.where(F.col("part") == 1).limit(5), str(out), partition_by=["part"]
    )
    after = read_orc(spark, str(out))
    assert after.where(F.col("part") == 0).count() == docs.where(
        F.col("doc_id") % 3 == 0
    ).count()
    assert after.where(F.col("part") == 1).count() == 5

    txt = tmp_path / "corpus.txt"
    txt.write_text("alpha beta\ngamma\n")
    lines = read_text(spark, str(txt))
    assert [r.value for r in lines.orderBy("value").collect()] == [
        "alpha beta",
        "gamma",
    ]


def test_rating_trend_and_result_distribution(spark, silver, openings_lookup):
    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.plans.analytics import (
        rating_trend,
        result_distribution,
    )
    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.plans.gold import (
        build_gold,
    )
    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.sources import (
        demo as fx,
    )

    gold = build_gold(
        spark, silver, fx.USERNAME, "2024-02-01 00:00:00",
        openings_lookup=openings_lookup,
    )
    trend = rating_trend(gold["fact_games"]).collect()
    assert len(trend) >= 1
    for r in trend:
        assert r.min_rating <= r.avg_rating <= r.max_rating
        # first/last ratings must lie inside the month's min/max envelope
        assert r.min_rating <= r.first_rating <= r.max_rating
        assert r.min_rating <= r.last_rating <= r.max_rating

    dist = result_distribution(gold["fact_games"], gold["dim_results"])
    rows = dist.collect()
    assert sum(r.n_games for r in rows) == gold["fact_games"].count()


def test_partitioned_write_dynamic_overwrite(spark, tmp_path):
    """S6 at scale: a month's re-arrival rewrites ONLY its own partition
    (dynamic partition overwrite), never the whole table."""
    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.sources.tables import (
        write_parquet,
    )

    path = str(tmp_path / "gold_fact")
    first = spark.createDataFrame(
        [(2024, 1, "g1", 100), (2024, 2, "g2", 200)],
        "year: int, month: int, game_url: string, my_rating: int",
    )
    write_parquet(first, path, partition_by=["year", "month"])

    # re-deliver January only, with a corrected rating
    redo = spark.createDataFrame(
        [(2024, 1, "g1", 150)],
        "year: int, month: int, game_url: string, my_rating: int",
    )
    write_parquet(redo, path, partition_by=["year", "month"])

    got = {
        (r.year, r.month): r.my_rating
        for r in spark.read.parquet(path).collect()
    }
    # January replaced, February untouched
    assert got == {(2024, 1): 150, (2024, 2): 200}


def test_warehouse_incremental_load_honors_watermark(
    spark, silver, openings_lookup, tmp_path
):
    """DAG-2 parity, §2.11.5 fixed: the warehouse load reads the high
    watermark and merges only newer fact rows (latest-wins), instead of
    the reference's fetch-then-ignore full replace."""
    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.plans.gold import (
        build_gold,
    )
    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.plans.warehouse import (
        load_warehouse,
        read_watermark,
    )

    db = "chess_dw_wm_test"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{tmp_path}/db'")
    try:
        gold1 = build_gold(
            spark, silver, fx.USERNAME, "2024-02-01 00:00:00",
            openings_lookup=openings_lookup,
        )
        load_warehouse(spark, gold1, schema=db)
        n1 = spark.table(f"{db}.fact_games").count()
        assert n1 == 45
        assert read_watermark(spark, db) == dt.datetime(2024, 2, 1)

        # month 2 arrives with a later run timestamp
        raw2 = spark.createDataFrame(fx.month_payload(2), RAW_GAME_SCHEMA)
        gold2 = build_gold(
            spark, bronze_to_silver(raw2), fx.USERNAME, "2024-03-01 00:00:00",
            openings_lookup=openings_lookup,
        )
        load_warehouse(spark, gold2, schema=db)
        assert spark.table(f"{db}.fact_games").count() == n1 + 45
        assert read_watermark(spark, db) == dt.datetime(2024, 3, 1)

        # re-delivering month 2 (same watermark) is a no-op: every row is
        # filtered by the watermark before the merge
        load_warehouse(spark, gold2, schema=db)
        assert spark.table(f"{db}.fact_games").count() == n1 + 45
        # dims stayed insert-if-absent (15 static result codes, no dups)
        assert spark.table(f"{db}.dim_results").count() == 15
        for dim, keys in DIM_KEYS.items():
            t = spark.table(f"{db}.{dim}")
            assert t.count() == t.select(*keys).distinct().count(), dim
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_silver_survives_malformed_pgn(spark):
    """A game whose PGN lacks Date/StartTime tags must flow through
    bronze→silver with NULL date/timestamps — under Spark 4's default
    ANSI mode a plain to_date('') would abort the entire job, which is
    exactly the one-bad-row-kills-the-backfill failure the quarantine
    design forbids (try_to_date/try_to_timestamp + the oracle's
    TRY_STRPTIME)."""
    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.plans.silver import (
        bronze_to_silver,
    )
    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.schemas import (
        RAW_GAME_SCHEMA,
    )
    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.sources import demo

    good = demo.make_game(1, month=1)
    bad = demo.make_game(2, month=1)
    bad["pgn"] = '[Event "Live Chess"]\n\n1. e4 e5 1-0\n'  # no Date/Times
    raw = spark.createDataFrame([good, bad], RAW_GAME_SCHEMA)
    rows = {r["game_url"]: r for r in bronze_to_silver(raw).collect()}
    assert len(rows) == 2
    b = rows[bad["url"]]
    assert b["game_date"] is None
    assert b["start_time"] is None and b["end_time"] is None
    g = rows[good["url"]]
    assert g["game_date"] is not None and g["start_time"] is not None
