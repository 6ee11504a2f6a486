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
from ..schemas import DIM_KEYS, DIM_SCHEMAS, FACT_GAMES_SCHEMA, GOLD_FACT_SCHEMA
from ..session import cached_column
from ..sources.tables import dim_results_seed, fs_exists


def _openings_columns():
    """dim_openings' projections: the slug-derived columns, the lookup's
    flattened-name side, the join condition, and the canonical-name
    projection over the join."""
    name = opening_name_from_url(F.col("pgn_eco_url"))
    canon = F.coalesce(F.col("__canon"), F.col("opening_name"))
    return (
        (
            F.col("pgn_eco_url"),
            name.alias("opening_name"),
            opening_family(name).alias("opening_family"),
            opening_variation(name).alias("opening_variation"),
            F.col("pgn_eco").alias("eco_code"),
        ),
        (
            F.regexp_replace(F.col("name"), r"[:,]", "").alias("__flat"),
            F.col("name").alias("__canon"),
        ),
        F.regexp_replace(F.col("opening_name"), r"[:,]", "") == F.col("__flat"),
        (
            F.col("pgn_eco_url"),
            canon.alias("opening_name"),
            opening_family(canon).alias("opening_family"),
            opening_variation(canon).alias("opening_variation"),
            F.col("eco_code"),
        ),
    )


def build_dim_openings(
    spark: SparkSession, silver: DataFrame, openings_lookup: DataFrame | None = None
) -> DataFrame:
    """dim_openings (python_scripts.py:256-282): distinct opening URL →
    name/family/variation/eco.  With ``openings_lookup`` (the 3.5k-row
    openings.csv), canonical names come from a broadcast join on the
    slug-derived name; otherwise the slug name stands alone."""
    slug_cols, lookup_cols, on, canon_cols = cached_column(
        spark, ("dim_openings",), _openings_columns
    )
    dim = silver.select(*slug_cols).distinct()
    if openings_lookup is None:
        return dim
    # canonical `Family: Variation` punctuation where the lookup has it
    lk = openings_lookup.select(*lookup_cols).dropDuplicates(["__flat"])
    return dim.join(F.broadcast(lk), on, "left").select(*canon_cols)


def _date_columns():
    month = F.month("game_date")
    return (
        F.col("game_date"),
        F.col("game_date").isNotNull(),
        (
            F.col("game_date"),
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
        ),
    )


def build_dim_date(spark: SparkSession, silver: DataFrame) -> DataFrame:
    """dim_date (python_scripts.py:326-366): distinct game dates with
    parts; quarter via the reference's CASE/BETWEEN (F8)."""
    date, known, cols = cached_column(spark, ("dim_date",), _date_columns)
    return silver.select(date).where(known).distinct().select(*cols)


def build_dim_time_control(spark: SparkSession, silver: DataFrame) -> DataFrame:
    """dim_time_control (python_scripts.py:394-443): distinct formatted
    control → time_class (DISTINCT on every path, §2.11.2)."""
    cols = cached_column(
        spark,
        ("dim_time_control",),
        lambda: (
            format_time_control(F.col("time_control")).alias("time_control"),
            F.col("time_class"),
        ),
    )
    return silver.select(*cols).distinct()


def build_dim_results(spark: SparkSession) -> DataFrame:
    """dim_results static seed (S11) — idempotent create-if-absent in
    deployment (§2.11.1)."""
    return dim_results_seed(spark)


def _fact_columns(username: str) -> tuple[Column, ...]:
    """build_fact's projection for one user, less the run timestamp."""
    is_white = F.lower(F.col("pgn_white_user")) == username.lower()

    def my(white: str, black: str) -> Column:
        return F.when(is_white, F.col(white)).otherwise(F.col(black))

    return (
        F.col("game_url"),
        F.col("game_date"),
        F.col("start_time"),
        F.col("end_time"),
        (F.unix_timestamp("end_time") - F.unix_timestamp("start_time"))
        .cast("bigint")
        .alias("game_duration_secs"),
        format_time_control(F.col("time_control")).alias("time_control"),
        F.when(is_white, F.lit("white")).otherwise(F.lit("black")).alias("my_color"),
        my("pgn_white_user", "pgn_black_user").alias("my_username"),
        my("pgn_black_user", "pgn_white_user").alias("opponent_username"),
        my("white_rating", "black_rating").alias("my_rating"),
        my("black_rating", "white_rating").alias("opponent_rating"),
        my("white_result", "black_result").alias("my_result"),
        my("black_result", "white_result").alias("opponent_result"),
        F.col("pgn_current_position").alias("game_fen"),
        F.col("pgn_eco_url").alias("opening_url"),
        F.col("pgn_trans").alias("game_pgn"),
        pgn_depth(F.col("pgn_trans")).alias("moves"),
    )


def build_fact(
    spark: SparkSession, silver: DataFrame, username: str, run_ts: str
) -> DataFrame:
    """fact_games projection (python_scripts.py:533-564): role-playing
    CASEs pivot white/black columns into my/opponent columns; duration in
    seconds (F9); move count (D5); run-timestamp audit column (F12,
    parameterized — never interpolated SQL).  The projection is built
    once per session and user; the run timestamp, new on every run, is
    its own literal column outside the cached tree."""
    cols = cached_column(spark, ("fact_games", username), lambda: _fact_columns(username))
    return silver.select(*cols, F.lit(run_ts).cast("timestamp").alias("last_updated"))


def _star_join_columns():
    """validate_star_join's dim key projections, join conditions and the
    fact's own columns."""
    return (
        F.col("game_date"),
        F.col("pgn_eco_url").alias("opening_url"),
        F.col("result_code").alias("__rc_my"),
        F.col("result_code").alias("__rc_op"),
        F.col("my_result") == F.col("__rc_my"),
        F.col("opponent_result") == F.col("__rc_op"),
        F.col("time_control"),
        tuple(F.col(c) for c in FACT_GAMES_SCHEMA.fieldNames()),
    )


def validate_star_join(
    spark: SparkSession,
    fact: DataFrame,
    dim_date: DataFrame,
    dim_openings: DataFrame,
    dim_results: DataFrame,
    dim_time_control: DataFrame,
) -> DataFrame:
    """J1: the reference's 5-way LEFT join projecting ``fact.*`` only
    (python_scripts.py:566-573) — a dim-coverage validation that must not
    change the row count (dims are built DISTINCT; §2.11.4).  dim_results
    role-plays twice (my/opponent).  All dims broadcast.

    A dim side that is distinct on its join key provably keeps every
    fact row once, and Catalyst drops such a join (no broadcast job):
    dim_date is distinct by construction, and the static dim_results
    seed's codes are unique, so its key projections say so."""
    date, opening, rc_my, rc_op, on_my, on_op, tc, fact_cols = cached_column(
        spark, ("star_join",), _star_join_columns
    )
    joined = (
        fact.join(F.broadcast(dim_date.select(date)), "game_date", "left")
        .join(F.broadcast(dim_openings.select(opening)), "opening_url", "left")
        .join(F.broadcast(dim_results.select(rc_my).distinct()), on_my, "left")
        .join(F.broadcast(dim_results.select(rc_op).distinct()), on_op, "left")
        .join(F.broadcast(dim_time_control.select(tc)), "time_control", "left")
    )
    return joined.select(*fact_cols)


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
    (four dim loads + fact load) as one lineage.  Every Column tree comes
    from the session's cache (session.cached_column), so a warm session
    builds only the DataFrames."""
    dims = {
        "dim_openings": build_dim_openings(spark, silver, openings_lookup),
        "dim_date": build_dim_date(spark, silver),
        "dim_time_control": build_dim_time_control(spark, silver),
        "dim_results": build_dim_results(spark),
    }
    fact = validate_star_join(
        spark,
        build_fact(spark, silver, username, run_ts),
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
      game_url-only probe of the partitions, not O(table).

    The dims' new keys and both month probes come back in one collect
    (merge.new_dim_rows), and the fact is computed once, by its merge.

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
    existing_dims = {}
    for dim in DIM_KEYS:
        dim_path = os.path.join(gold_dir, dim)
        existing_dims[dim] = (
            spark.read.schema(DIM_SCHEMAS[dim]).parquet(dim_path)
            if fs_exists(spark, dim_path)
            else None
        )
    # The star-join validation LEFT-joins every silver row, so the
    # fact's months and game_urls are silver's.  Re-pulled games may carry dates
    # outside the bronze file's nominal month, so the rows are probed,
    # never the file name.
    year_month = cached_column(
        spark,
        ("fact_partition",),
        lambda: (F.year("game_date").alias("year"), F.month("game_date").alias("month")),
    )
    probes = {"months": silver.select(*year_month).distinct()}
    live = None
    if commit.has_partition_dirs(spark, fact_path):
        live = spark.read.schema(GOLD_FACT_SCHEMA).parquet(fact_path)
        # A re-pull can correct a game's date into another month, which
        # leaves its stale row in a partition the batch does not touch.
        # A game_url-only scan, semi-joined with the broadcast keys,
        # finds the months holding the batch's keys; they join the
        # rewrite set, so the merge retires the stale row and the commit
        # drops a month left empty.  At warehouse scale a game_url →
        # (year, month) key index or a MERGE-capable table format
        # replaces it.
        probes["stale_months"] = (
            live.select("game_url", "year", "month")
            .join(F.broadcast(silver.select("game_url")), "game_url", "left_semi")
            .select("year", "month")
            .distinct()
        )
    fresh, found = new_dim_rows(
        spark, existing_dims, {dim: gold[dim] for dim in DIM_KEYS}, DIM_KEYS, probes
    )
    for dim, rows in fresh.items():
        rows.write.mode("append").parquet(os.path.join(gold_dir, dim))
    months = {(r["year"], r["month"]) for r in found["months"]}
    existing = None
    if months and live is not None:
        months |= {(r["year"], r["month"]) for r in found["stale_months"]}
        existing = live.where(_in_months(months)).drop("year", "month")
    merged = merge_fact(existing, gold["fact_games"])
    commit.two_phase_partition_overwrite(
        spark,
        merged.select("*", *year_month),
        fact_path,
        ["year", "month"],
        token=token,
        rewrite_set=months,
    )
