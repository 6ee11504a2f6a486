"""Explicit StructType schemas for every layer.

The reference infers schema at every edge (``read_json_auto`` /
``read_csv`` — reference test.ipynb cells 2, 10) and declares it only in
the warehouse DDL (create_datawarehouse.sql:2-61), and the two disagree.
Here there is one source of truth: declared schemas per layer, asserted on
read (``spark.read.schema(...)``) — schema-on-write, which is also the
100 TB-scale answer (schema inference over a petabyte of JSON is a job in
itself).

Chess-domain schemas follow SURVEY.md §1.2 / FIXTURES.md §A; the
driver-fixture schemas follow FIXTURES.md §B.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Chess domain — bronze (raw Chess.com API monthly payload)
# Mirrors dev_files/Data/2024-01/games.json: nested player structs plus an
# optional accuracies struct (present on ~7% of rows).
# ---------------------------------------------------------------------------

PLAYER_STRUCT = T.StructType(
    [
        T.StructField("rating", T.IntegerType()),
        T.StructField("result", T.StringType()),
        T.StructField("@id", T.StringType()),
        T.StructField("username", T.StringType()),
        T.StructField("uuid", T.StringType()),
    ]
)

RAW_GAME_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("pgn", T.StringType()),
        T.StructField("time_control", T.StringType()),
        T.StructField("end_time", T.LongType()),
        T.StructField("rated", T.BooleanType()),
        T.StructField("tcn", T.StringType()),
        T.StructField("uuid", T.StringType()),
        T.StructField("initial_setup", T.StringType()),
        T.StructField("fen", T.StringType()),
        T.StructField("time_class", T.StringType()),
        T.StructField("rules", T.StringType()),
        T.StructField("white", PLAYER_STRUCT),
        T.StructField("black", PLAYER_STRUCT),
        T.StructField(
            "accuracies",
            T.StructType(
                [
                    T.StructField("white", T.DoubleType()),
                    T.StructField("black", T.DoubleType()),
                ]
            ),
        ),
    ]
)

# ---------------------------------------------------------------------------
# Chess domain — silver (flattened monthly games, 24 cols)
# Output contract of plans.silver.bronze_to_silver; matches the reference's
# silver SELECT (python_scripts.py:169-205) with the reference's own
# date+time→timestamp promotion folded in (no TIME type in Spark; the
# reference itself concatenates date+time into pandas timestamps).
# ---------------------------------------------------------------------------

SILVER_SCHEMA = T.StructType(
    [
        T.StructField("game_url", T.StringType(), False),
        T.StructField("time_control", T.StringType()),
        T.StructField("rated", T.BooleanType()),
        T.StructField("time_class", T.StringType()),
        T.StructField("rules", T.StringType()),
        T.StructField("white_rating", T.IntegerType()),
        T.StructField("white_result", T.StringType()),
        T.StructField("black_rating", T.IntegerType()),
        T.StructField("black_result", T.StringType()),
        T.StructField("pgn_event", T.StringType()),
        T.StructField("pgn_site", T.StringType()),
        T.StructField("game_date", T.DateType()),
        T.StructField("pgn_white_user", T.StringType()),
        T.StructField("pgn_black_user", T.StringType()),
        T.StructField("pgn_result", T.StringType()),
        T.StructField("pgn_current_position", T.StringType()),
        T.StructField("pgn_timezone", T.StringType()),
        T.StructField("pgn_eco", T.StringType()),
        T.StructField("pgn_eco_url", T.StringType()),
        T.StructField("start_time", T.TimestampType()),
        T.StructField("end_time", T.TimestampType()),
        T.StructField("end_game_date", T.DateType()),
        T.StructField("pgn_raw", T.StringType()),
        T.StructField("pgn_trans", T.StringType()),
    ]
)

# ---------------------------------------------------------------------------
# Chess domain — gold star schema (python_scripts.py:533-564 fact;
# create_datawarehouse.sql dims, reconciled per SURVEY.md §1.3)
# ---------------------------------------------------------------------------

FACT_GAMES_SCHEMA = T.StructType(
    [
        T.StructField("game_url", T.StringType(), False),
        T.StructField("game_date", T.DateType()),
        T.StructField("start_time", T.TimestampType()),
        T.StructField("end_time", T.TimestampType()),
        T.StructField("game_duration_secs", T.LongType()),
        T.StructField("time_control", T.StringType()),
        T.StructField("my_color", T.StringType()),
        T.StructField("my_username", T.StringType()),
        T.StructField("opponent_username", T.StringType()),
        T.StructField("my_rating", T.IntegerType()),
        T.StructField("opponent_rating", T.IntegerType()),
        T.StructField("my_result", T.StringType()),
        T.StructField("opponent_result", T.StringType()),
        T.StructField("game_fen", T.StringType()),
        T.StructField("opening_url", T.StringType()),
        T.StructField("game_pgn", T.StringType()),
        T.StructField("moves", T.IntegerType()),
        T.StructField("last_updated", T.TimestampType()),
    ]
)

# The gold fact as stored by the incremental stream: the logical fact
# plus its (year, month) partition columns.  Scans declare it, so none
# spends a job inferring the schema from a footer.
GOLD_FACT_SCHEMA = T.StructType(
    FACT_GAMES_SCHEMA.fields
    + [T.StructField("year", T.IntegerType()), T.StructField("month", T.IntegerType())]
)

DIM_OPENINGS_SCHEMA = T.StructType(
    [
        T.StructField("pgn_eco_url", T.StringType(), False),
        T.StructField("opening_name", T.StringType()),
        T.StructField("opening_family", T.StringType()),
        T.StructField("opening_variation", T.StringType()),
        T.StructField("eco_code", T.StringType()),
    ]
)

DIM_DATE_SCHEMA = T.StructType(
    [
        T.StructField("game_date", T.DateType(), False),
        T.StructField("year", T.IntegerType()),
        T.StructField("month", T.IntegerType()),
        T.StructField("month_name", T.StringType()),
        T.StructField("day", T.IntegerType()),
        T.StructField("weekday", T.StringType()),
        T.StructField("quarter", T.IntegerType()),
    ]
)

DIM_TIME_CONTROL_SCHEMA = T.StructType(
    [
        T.StructField("time_control", T.StringType(), False),
        T.StructField("time_class", T.StringType()),
    ]
)

DIM_RESULTS_SCHEMA = T.StructType(
    [
        T.StructField("result_code", T.StringType(), False),
        T.StructField("result", T.StringType()),
        T.StructField("description", T.StringType()),
    ]
)

# The four dims by table name, with their primary keys (the warehouse
# DDL's PKs).  Both the gold stream and the warehouse load append only
# the rows whose key is new.
DIM_SCHEMAS: dict[str, T.StructType] = {
    "dim_openings": DIM_OPENINGS_SCHEMA,
    "dim_date": DIM_DATE_SCHEMA,
    "dim_time_control": DIM_TIME_CONTROL_SCHEMA,
    "dim_results": DIM_RESULTS_SCHEMA,
}
DIM_KEYS: dict[str, list[str]] = {
    "dim_openings": ["pgn_eco_url"],
    "dim_date": ["game_date"],
    "dim_time_control": ["time_control"],
    "dim_results": ["result_code"],
}

# openings.csv lookup (dev_files/Data/openings.csv — 3,513 rows)
OPENINGS_CSV_SCHEMA = T.StructType(
    [
        T.StructField("eco_family", T.StringType()),
        T.StructField("eco", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("pgn", T.StringType()),
    ]
)

# ---------------------------------------------------------------------------
# Driver fixture tables (/root/testdata/sf*/ — FIXTURES.md §B)
# ---------------------------------------------------------------------------

TESTDATA_SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}
