"""Silver → gold star builder (SURVEY.md §2 J1-J3, P3, F6-F9, D2-D6; §2.11).

Reproduces the reference's four dimension loads (python_scripts.py:221-488)
and fact build (python_scripts.py:491-603) as pure DataFrame→DataFrame
functions.  Deliberate, documented divergences from the reference
(SURVEY.md §2.11):

- opening names derive from the ECOUrl slug (and optionally a broadcast
  openings lookup) instead of an HTTP GET + HTML parse per row
  (udfs.py:138-151) — deterministic and offline.
- the "my side" comparison is case-insensitive on a parameterized
  username (the reference hardcodes the display-cased literal
  'Rhythmbear1', python_scripts.py:541-558).
- DISTINCT applies on both create and append paths of every dim (the
  reference drops it on one branch of dim_time_control,
  python_scripts.py:414-418).

``land_gold`` is the one path that writes gold: append-only dims and a
latest-wins fact merge partitioned by (year, month), so a monthly
arrival rewrites only its months.  Dims are broadcast-sized; the fact
merge shuffles once on game_url.
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.pgn import (
    format_time_control,
    opening_family,
    opening_name_from_url,
    opening_variation,
    pgn_depth,
)
from ..operators import commit
from ..operators.merge import latest_wins, new_dim_rows
from ..schemas import DIM_KEYS, DIM_SCHEMAS, GOLD_FACT_SCHEMA
from ..session import local_df
from ..sources.tables import dim_results_seed, fs_exists


def build_dim_openings(
    silver: DataFrame, openings_lookup: DataFrame | None = None
) -> DataFrame:
    """dim_openings (python_scripts.py:256-282): distinct opening URL →
    name/family/variation/eco.  With ``openings_lookup`` (the 3.5k-row
    openings.csv), canonical names come from a broadcast join on the
    slug-derived name; otherwise the slug name stands alone."""
    name = opening_name_from_url(F.col("pgn_eco_url"))
    dim = silver.select(
        "pgn_eco_url",
        name.alias("opening_name"),
        opening_family(name).alias("opening_family"),
        opening_variation(name).alias("opening_variation"),
        F.col("pgn_eco").alias("eco_code"),
    ).distinct()
    if openings_lookup is not None:
        # canonical `Family: Variation` punctuation where the lookup has it
        lk = openings_lookup.select(
            F.regexp_replace(F.col("name"), r"[:,]", "").alias("__flat"),
            F.col("name").alias("__canon"),
        ).dropDuplicates(["__flat"])
        dim = (
            dim.join(
                F.broadcast(lk),
                F.regexp_replace(dim.opening_name, r"[:,]", "") == lk.__flat,
                "left",
            )
            .withColumn("opening_name", F.coalesce("__canon", "opening_name"))
            .withColumn("opening_family", opening_family(F.col("opening_name")))
            .withColumn("opening_variation", opening_variation(F.col("opening_name")))
            .drop("__flat", "__canon")
        )
    return dim


def build_dim_date(silver: DataFrame) -> DataFrame:
    """dim_date (python_scripts.py:326-366): distinct game dates with
    parts; quarter via the reference's CASE/BETWEEN (F8)."""
    month = F.month("game_date")
    return (
        silver.select("game_date")
        .where(F.col("game_date").isNotNull())
        .distinct()
        .select(
            "game_date",
            F.year("game_date").alias("year"),
            month.alias("month"),
            F.date_format("game_date", "MMMM").alias("month_name"),
            F.dayofmonth("game_date").alias("day"),
            F.date_format("game_date", "EEEE").alias("weekday"),
            F.when(month.between(1, 3), 1)
            .when(month.between(4, 6), 2)
            .when(month.between(7, 9), 3)
            .otherwise(4)
            .alias("quarter"),
        )
    )


def build_dim_time_control(silver: DataFrame) -> DataFrame:
    """dim_time_control (python_scripts.py:394-443): distinct formatted
    control → time_class (DISTINCT on every path, §2.11.2)."""
    return silver.select(
        format_time_control(F.col("time_control")).alias("time_control"),
        "time_class",
    ).distinct()


def build_dim_results(spark: SparkSession) -> DataFrame:
    """dim_results static seed (S11) — idempotent create-if-absent in
    deployment (§2.11.1)."""
    return dim_results_seed(spark)


def _my(white_expr: Column, black_expr: Column, username: str) -> Column:
    is_white = F.lower(F.col("pgn_white_user")) == username.lower()
    return F.when(is_white, white_expr).otherwise(black_expr)


def build_fact(silver: DataFrame, username: str, run_ts: str) -> DataFrame:
    """fact_games projection (python_scripts.py:533-564): role-playing
    CASEs pivot white/black columns into my/opponent columns; duration in
    seconds (F9); move count (D5); run-timestamp audit column (F12,
    parameterized — never interpolated SQL)."""
    u = username
    return silver.select(
        "game_url",
        "game_date",
        "start_time",
        "end_time",
        (F.unix_timestamp("end_time") - F.unix_timestamp("start_time"))
        .cast("bigint")
        .alias("game_duration_secs"),
        format_time_control(F.col("time_control")).alias("time_control"),
        _my(F.lit("white"), F.lit("black"), u).alias("my_color"),
        _my(F.col("pgn_white_user"), F.col("pgn_black_user"), u).alias("my_username"),
        _my(F.col("pgn_black_user"), F.col("pgn_white_user"), u).alias(
            "opponent_username"
        ),
        _my(F.col("white_rating"), F.col("black_rating"), u).alias("my_rating"),
        _my(F.col("black_rating"), F.col("white_rating"), u).alias("opponent_rating"),
        _my(F.col("white_result"), F.col("black_result"), u).alias("my_result"),
        _my(F.col("black_result"), F.col("white_result"), u).alias("opponent_result"),
        F.col("pgn_current_position").alias("game_fen"),
        F.col("pgn_eco_url").alias("opening_url"),
        F.col("pgn_trans").alias("game_pgn"),
        pgn_depth(F.col("pgn_trans")).alias("moves"),
        F.lit(run_ts).cast("timestamp").alias("last_updated"),
    )


def validate_star_join(
    fact: DataFrame,
    dim_date: DataFrame,
    dim_openings: DataFrame,
    dim_results: DataFrame,
    dim_time_control: DataFrame,
) -> DataFrame:
    """J1: the reference's 5-way LEFT join projecting ``fact.*`` only
    (python_scripts.py:566-573) — a dim-coverage validation that must not
    change the row count (dims are built DISTINCT; §2.11.4).  dim_results
    role-plays twice (my/opponent).  All dims broadcast."""
    dr_my = dim_results.select(F.col("result_code").alias("__rc_my"))
    dr_op = dim_results.select(F.col("result_code").alias("__rc_op"))
    joined = (
        fact.join(F.broadcast(dim_date.select("game_date")), "game_date", "left")
        .join(
            F.broadcast(dim_openings.select(F.col("pgn_eco_url").alias("opening_url"))),
            "opening_url",
            "left",
        )
        .join(F.broadcast(dr_my), fact.my_result == dr_my.__rc_my, "left")
        .join(F.broadcast(dr_op), fact.opponent_result == dr_op.__rc_op, "left")
        .join(
            F.broadcast(dim_time_control.select("time_control")),
            "time_control",
            "left",
        )
    )
    return joined.select(*fact.columns)


def merge_fact(
    existing: DataFrame | None, incoming: DataFrame
) -> DataFrame:
    """J2/T4: latest-wins upsert by game_url on last_updated
    (python_scripts.py:576-598)."""
    return latest_wins(existing, incoming, keys=["game_url"], order_by="last_updated")


def _in_months(months: set[tuple]) -> Column:
    """The fact's rows in ``months``, (year, month) partition values
    matched null-safely: a NULL game_date lands in the NULL partition."""
    return reduce(
        lambda a, b: a | b,
        [
            F.col("year").eqNullSafe(F.lit(y)) & F.col("month").eqNullSafe(F.lit(m))
            for (y, m) in months
        ],
    )


def build_gold(
    spark: SparkSession,
    silver: DataFrame,
    username: str,
    run_ts: str,
    openings_lookup: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """Full gold layer for one silver frame — the reference's DAG-1 tail
    (four dim loads + fact load) as one lineage."""
    dims = {
        "dim_openings": build_dim_openings(silver, openings_lookup),
        "dim_date": build_dim_date(silver),
        "dim_time_control": build_dim_time_control(silver),
        "dim_results": build_dim_results(spark),
    }
    fact = build_fact(silver, username, run_ts)
    fact = validate_star_join(
        fact,
        dims["dim_date"],
        dims["dim_openings"],
        dims["dim_results"],
        dims["dim_time_control"],
    )
    return {"fact_games": fact, **dims}


def land_gold(
    spark: SparkSession,
    silver: DataFrame,
    gold_dir: str,
    username: str,
    run_ts: str,
    token: str,
    openings_lookup: DataFrame | None = None,
) -> None:
    """Land a silver frame in the gold dir — the one code path that
    merges into and commits to gold.  A backfill is one call over all
    its months; the incremental stream makes one call per micro-batch.
    Gold does not depend on how months are split across calls or on the
    order they arrive in.

    - Dims are append-only (T5, the reference's monthly create_dim_*
      tasks): only rows whose key is new land, as one more file, and a
      call that brings no new key writes nothing.  Dim files are never
      rewritten, so no crash point loses a dim's history, and a replay
      finds its keys present and appends nothing twice.
    - The fact lives partitioned by (year, month) of game_date and
      merges latest-wins by game_url (T4), scoped to the rewrite set:
      the months the frame's rows fall in, plus any month holding a
      stale copy of one of its keys.  Only those months are read
      (partition pruning) and replaced, through the crash-atomic
      two-phase swap in operators/commit.py; every other month stays
      byte-identical.  A call costs O(its months) in data plus a
      game_url-only probe of the other partitions, not O(table).

    ``token`` names the swap and must be deterministic per landing (the
    stream passes ``b{batch_id}``): a replay after a crash restages over
    its own leftovers or finds its swap finished."""
    fact_path = os.path.join(gold_dir, "fact_games")
    # finish any swap a crashed attempt left behind BEFORE anything
    # reads the fact
    commit.recover_pending_swaps(spark, fact_path)
    # the source read and the PGN parse run once for every consumer
    silver = silver.localCheckpoint()
    gold = build_gold(spark, silver, username, run_ts, openings_lookup)
    # one computation for the month probes and the merge
    fact = gold["fact_games"].localCheckpoint()
    for dim, keys in DIM_KEYS.items():
        dim_path = os.path.join(gold_dir, dim)
        existing_dim = (
            spark.read.schema(DIM_SCHEMAS[dim]).parquet(dim_path)
            if fs_exists(spark, dim_path)
            else None
        )
        fresh = new_dim_rows(spark, existing_dim, gold[dim], keys)
        if fresh is None and existing_dim is None:
            # an idle first month (no games) still creates the dim, so
            # readers of the gold layer always find it
            fresh = local_df(spark, [], DIM_SCHEMAS[dim])
        if fresh is not None:
            fresh.write.mode("append").parquet(dim_path)
    # Driver-sized: a monthly re-pull touches 1-2 months.  Re-pulled
    # games may carry dates outside the bronze file's nominal month, so
    # the rows are probed, never the file name.
    months = {
        (r["y"], r["m"])
        for r in fact.select(
            F.year("game_date").alias("y"), F.month("game_date").alias("m")
        )
        .distinct()
        .collect()
    }
    existing = None
    if months and commit.has_partition_dirs(spark, fact_path):
        live = spark.read.schema(GOLD_FACT_SCHEMA).parquet(fact_path)
        # A re-pull can correct a game's date into another month, which
        # leaves its stale row in a partition outside ``months``.  A
        # game_url-only scan of the other partitions, semi-joined with
        # the broadcast keys, finds those months; they join the rewrite
        # set, so the merge retires the stale row and the commit drops
        # a month left empty.  At warehouse scale a game_url → (year,
        # month) key index or a MERGE-capable table format replaces it.
        months |= {
            (r["year"], r["month"])
            for r in live.select("game_url", "year", "month")
            .where(~_in_months(months))
            .join(F.broadcast(fact.select("game_url")), "game_url", "left_semi")
            .select("year", "month")
            .distinct()
            .collect()
        }
        existing = live.where(_in_months(months)).drop("year", "month")
    merged = merge_fact(existing, fact)
    commit.two_phase_partition_overwrite(
        spark,
        merged.withColumn("year", F.year("game_date")).withColumn(
            "month", F.month("game_date")
        ),
        fact_path,
        ["year", "month"],
        token=token,
        rewrite_set=months,
    )
