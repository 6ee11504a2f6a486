"""Bronze → silver transform (SURVEY.md §2.2 P1, §2.8 F1-F5, §2.9 D1).

The reference's silver step (python_scripts.py:169-205) is one DuckDB
SELECT flattening the raw JSON game objects and regex-exploding the PGN
text blob into 24 typed columns, followed by a pandas hop that promotes
the PGN time-of-day strings to full timestamps.  Here it is a single
DataFrame projection of JVM native expressions (no pandas, no Python
UDF): the tag regexes and the timestamp promotion are whole-stage
codegen'd; the move numbering is a chain of higher-order functions,
whose lambda bodies run interpreted over one move list per game
(functions.pgn.add_move_numbers).

At 100 TB: this is a pure map — no shuffle at all; parallelism is the
file split count.  Write partitioned by (year, month) so downstream gold
merges prune to the arriving month.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.pgn import add_move_numbers, pgn_date, pgn_moves, pgn_tag
from ..session import cached_column


def _time_tag_to_ts(date_col: Column, pgn: Column, tag: str) -> Column:
    """PGN HH:MM:SS tag + a date column → full timestamp, exactly the
    reference's pandas concat repair (python_scripts.py:198-205).

    try_to_timestamp (see functions.pgn.pgn_date): a missing date or
    time tag yields NULL instead of an ANSI-mode job abort; the DuckDB
    oracle's TRY_STRPTIME agrees (NULL date propagates through ``||``,
    a ''-time leaves a trailing space both parsers reject to NULL)."""
    return F.try_to_timestamp(
        F.concat_ws(" ", date_col.cast("string"), pgn_tag(pgn, tag)),
        F.lit("yyyy-MM-dd HH:mm:ss"),
    )


def _silver_columns() -> tuple[Column, ...]:
    pgn = F.col("pgn")
    game_date = pgn_date(pgn, "Date")
    end_game_date = pgn_date(pgn, "EndDate")
    moves = pgn_moves(pgn)
    return (
        F.col("url").alias("game_url"),
        F.col("time_control"),
        F.col("rated"),
        F.col("time_class"),
        F.col("rules"),
        F.col("white.rating").alias("white_rating"),
        F.col("white.result").alias("white_result"),
        F.col("black.rating").alias("black_rating"),
        F.col("black.result").alias("black_result"),
        pgn_tag(pgn, "Event").alias("pgn_event"),
        pgn_tag(pgn, "Site").alias("pgn_site"),
        game_date.alias("game_date"),
        pgn_tag(pgn, "White").alias("pgn_white_user"),
        pgn_tag(pgn, "Black").alias("pgn_black_user"),
        pgn_tag(pgn, "Result").alias("pgn_result"),
        pgn_tag(pgn, "CurrentPosition").alias("pgn_current_position"),
        pgn_tag(pgn, "Timezone").alias("pgn_timezone"),
        pgn_tag(pgn, "ECO").alias("pgn_eco"),
        pgn_tag(pgn, "ECOUrl").alias("pgn_eco_url"),
        _time_tag_to_ts(game_date, pgn, "StartTime").alias("start_time"),
        _time_tag_to_ts(end_game_date, pgn, "EndTime").alias("end_time"),
        end_game_date.alias("end_game_date"),
        F.array_join(moves, " ").alias("pgn_raw"),
        add_move_numbers(moves).alias("pgn_trans"),
    )


def bronze_to_silver(raw: DataFrame) -> DataFrame:
    """Flatten one month of raw games into the 24-column silver contract
    (schemas.SILVER_SCHEMA).  The projection's Column tree is built once
    per session (session.cached_column): it is the same for every month,
    and building it costs a py4j round trip per node."""
    return raw.select(
        *cached_column(raw.sparkSession, ("bronze_to_silver",), _silver_columns)
    )
