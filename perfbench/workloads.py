"""The benchmark's workloads, driven through the package's public layer
functions.  Each workload has a set-up (generate and stage inputs, warm
up) and an operation the closed loop repeats; every operation's output
is checked."""

from __future__ import annotations

import collections
import datetime as dt
import os
import random
import shutil
import statistics
import time

import gen
from measure import dir_bytes, snapshot, written_bytes

HISTORY_TS = dt.datetime(2025, 1, 1)
# one query per corpus module: retrieval (x61); pq, clustering and the
# persisted index (x67, a superset of x65's path and of x62's and x12's
# IVF work); graph (x20); plans.quality (x45).  More queries would push a
# run past the time the benchmark's run count allows.
CORPUS_QUERIES = [
    "x61_bm25_persisted_index", "x67_persisted_ann_mmr", "x20_dedup_clusters",
    "x45_bigram_lm",
]
CORPUS_TABLES = ("documents", "embeddings")
FIXTURE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture")
DASHBOARDS = ["win_rate", "rating_trend", "result_distribution", "classify"]
STAGE_OP = -2  # span op id of the set-up backfill


class Workload:
    """Base of a workload.  Set-up is ``generate`` (repeated; its median
    counts), ``stage`` and ``warmup``; ``verify_setup`` then checks the
    set-up's outputs, untimed.  ``next_op(i)`` prepares operation ``i``
    (untimed) and returns ``(op, check)`` for the closed loop."""

    rows_changed = 0  # rows one operation changes in the warehouse

    def __init__(self, bench):
        self.b = bench
        self.spark = bench.spark
        self.rng = random.Random(bench.seed ^ 0x5EED)

    def span(self, name: str, op: int):
        return self.b.tracer.span(name, op)

    def verify_setup(self) -> list[str]:
        return []

    def layer_counts(self) -> dict[str, float]:
        """Work counts measured outside the spans, by metric name."""
        return {}


# --- chess medallion ---------------------------------------------------------


def _fact_hash(df):
    """(row count, order-insensitive sum of row hashes) over fixed columns."""
    from pyspark.sql import functions as F

    cols = sorted(c for c in df.columns if c not in ("year", "month"))
    r = df.select(F.xxhash64(*cols).cast("decimal(38,0)").alias("h")).agg(
        F.count("*").alias("n"), F.sum("h").alias("s")
    ).collect()[0]
    return r["n"], r["s"]


class Monthly(Workload):
    """Gold and the warehouse hold a 12-month history (the set-up
    backfills it through the batch chain).  Each operation lands one
    re-pulled month and times it from landing through the incremental
    gold stream, the warehouse load and a dashboard refresh."""

    name = "monthly"
    schema = "chess_dw"
    games_per_month = 50
    months = 12  # 24 adds ~3 s of set-up a run on 4 cores and barely moves the op
    rows_changed = games_per_month  # a re-pull restamps every game of its month

    def generate(self) -> None:
        root = self.b.root
        self.h = gen.ChessHistory(self.b.seed, self.months, self.games_per_month)
        self.bronze_dir = os.path.join(root, "bronze")
        shutil.rmtree(self.bronze_dir, ignore_errors=True)
        bronze_paths = self.h.write_months(self.bronze_dir)
        self.book_path = self.h.write_book(os.path.join(root, "openings.csv"))
        self.bronze_bytes = sum(os.path.getsize(p) for p in bronze_paths)

    def book(self):
        from end_to_end_chess_com_etl_and_analytics_pipeline_spark.schemas import OPENINGS_CSV_SCHEMA
        from end_to_end_chess_com_etl_and_analytics_pipeline_spark.sources.tables import read_csv

        return read_csv(self.spark, self.book_path, OPENINGS_CSV_SCHEMA)

    def chain(self, bronze: str, out: str, schema: str, op: int) -> None:
        """The batch backfill: bronze JSON -> silver parquet -> gold parquet
        (fact partitioned by year/month, as the incremental path keeps it)
        -> warehouse in an empty schema."""
        from pyspark.sql import functions as F

        from end_to_end_chess_com_etl_and_analytics_pipeline_spark.plans.gold import build_gold
        from end_to_end_chess_com_etl_and_analytics_pipeline_spark.plans.silver import bronze_to_silver
        from end_to_end_chess_com_etl_and_analytics_pipeline_spark.plans.warehouse import load_warehouse
        from end_to_end_chess_com_etl_and_analytics_pipeline_spark.schemas import RAW_GAME_SCHEMA
        from end_to_end_chess_com_etl_and_analytics_pipeline_spark.sources.tables import read_json

        spark = self.spark
        silver_path = os.path.join(out, "silver")
        gold_dir = os.path.join(out, "gold")
        with self.span("silver", op):
            raw = read_json(spark, bronze, RAW_GAME_SCHEMA)
            bronze_to_silver(raw).write.mode("overwrite").parquet(silver_path)
        with self.span("gold", op):
            gold = build_gold(spark, spark.read.parquet(silver_path), gen.USERNAME,
                              str(HISTORY_TS), openings_lookup=self.book())
            gold["fact_games"].withColumn("year", F.year("game_date")).withColumn(
                "month", F.month("game_date")
            ).write.partitionBy("year", "month").mode("overwrite").parquet(
                os.path.join(gold_dir, "fact_games"))
            for dim in ("dim_openings", "dim_date", "dim_time_control", "dim_results"):
                gold[dim].write.mode("overwrite").parquet(os.path.join(gold_dir, dim))
        with self.span("warehouse", op):
            load_warehouse(spark, self.read_gold(gold_dir), location=os.path.join(out, "dw"),
                           schema=schema)

    def read_gold(self, gold_dir: str) -> dict:
        from end_to_end_chess_com_etl_and_analytics_pipeline_spark.streaming.pipeline import read_gold_fact

        gold = {"fact_games": read_gold_fact(self.spark, gold_dir)}
        for dim in ("dim_openings", "dim_date", "dim_time_control", "dim_results"):
            gold[dim] = self.spark.read.parquet(os.path.join(gold_dir, dim))
        return gold

    def dashboard(self, schema: str, q: str, op: int) -> list[tuple]:
        """One dashboard query through ``spark.table``, rows collected."""
        from pyspark.sql import functions as F

        from end_to_end_chess_com_etl_and_analytics_pipeline_spark.plans import analytics

        t = self.spark.table
        with self.span(f"analytics.{q}", op):
            fact = t(f"{schema}.fact_games")
            if q == "win_rate":
                df = analytics.win_rate_by_opening(fact, t(f"{schema}.dim_openings"),
                                                   t(f"{schema}.dim_results"))
            elif q == "rating_trend":
                df = analytics.rating_trend(fact)
            elif q == "result_distribution":
                df = analytics.result_distribution(fact, t(f"{schema}.dim_results"))
            else:
                df = analytics.classify_openings(fact, self.book()).groupBy(
                    "opening_name").agg(F.count("*").alias("n_games"))
            cols = sorted(df.columns)
            return cols, sorted((tuple(r[c] for c in cols) for r in df.collect()), key=repr)

    def check_dashboards(self, results: dict) -> list[str]:
        """Every dashboard covers every game once; the result and month
        distributions match the generator's truth."""

        def column(q, name):
            cols, rows = results[q]
            return [r[cols.index(name)] for r in rows]

        problems = []
        n = self.h.n_games
        for q in results:
            total = sum(column(q, "n_games"))
            if total != n:
                problems.append(f"{q}: n_games sums to {total}, want {n}")
        truth = self.h.truth.values()
        got = dict(zip(column("result_distribution", "my_result"),
                       column("result_distribution", "n_games")))
        if got != dict(collections.Counter(r for r, _ in truth)):
            problems.append("result_distribution differs from the generated results")
        got = dict(zip(zip(column("rating_trend", "year"), column("rating_trend", "month")),
                       column("rating_trend", "n_games")))
        if got != dict(collections.Counter((y, m) for _, (y, m, _d) in truth)):
            problems.append("rating_trend month counts differ from the generated dates")
        return problems

    def stage(self) -> None:
        """Backfill the history into gold and the warehouse."""
        root = self.b.root
        self.state = os.path.join(root, "state")
        self.gold_dir = os.path.join(self.state, "gold")
        self.dw_dir = os.path.join(self.state, "dw")
        self.landing = os.path.join(root, "landing")
        self.checkpoint = os.path.join(root, "checkpoint")
        os.makedirs(self.landing, exist_ok=True)
        t = time.perf_counter()
        self.chain(self.bronze_dir, self.state, self.schema, STAGE_OP)
        self.backfill_s = time.perf_counter() - t
        self.write_ratios: list[float] = []

    def warmup(self) -> None:
        """One untimed re-pull, as the operation runs it: the timed
        operations then meet a warm stream, checkpoint and warehouse."""
        op, check = self.next_op(-1)
        self.warmup_problems = check(op())
        self.write_ratios.clear()

    def verify_setup(self) -> list[str]:
        """The backfill landed every generated game once, and the
        warehouse fact equals the gold fact row for row."""
        problems = list(self.warmup_problems)
        gold = self.read_gold(self.gold_dir)["fact_games"]
        g = _fact_hash(gold)
        if g[0] != self.h.n_games:
            problems.append(f"gold fact has {g[0]} rows, want {self.h.n_games}")
        if _fact_hash(self.spark.table(f"{self.schema}.fact_games")) != g:
            problems.append("warehouse fact differs from gold fact")
        return problems

    def layer_counts(self) -> dict[str, float]:
        from pyspark.sql import functions as F

        from end_to_end_chess_com_etl_and_analytics_pipeline_spark.operators.prefix_join import token_prefixes

        fact = self.spark.table(f"{self.schema}.fact_games")
        r = fact.select(F.size(token_prefixes(F.col("game_pgn"), 30)).alias("k")).agg(
            F.sum("k").alias("rows"), F.count("*").alias("games")).collect()[0]
        stored = dir_bytes(*(os.path.join(self.state, d) for d in ("silver", "gold", "dw")))
        return {
            "backfill.games_per_s": self.h.n_games / self.backfill_s,
            "backfill.stored_bytes_per_input_byte": stored / self.bronze_bytes,
            "monthly.write_amp": statistics.median(self.write_ratios),
            "prefix_join.rows_per_game": r["rows"] / r["games"],
        }

    def next_op(self, i: int):
        from end_to_end_chess_com_etl_and_analytics_pipeline_spark.plans.warehouse import load_warehouse
        from end_to_end_chess_com_etl_and_analytics_pipeline_spark.streaming.pipeline import run_incremental_gold

        mi = self.rng.randrange(self.months)
        games = self.h.repull(mi)
        urls = [f"{gen.URL_PREFIX}{g['id']}" for g in games]
        run_ts = HISTORY_TS + dt.timedelta(hours=i + 2)
        path = gen.write_json(os.path.join(self.landing, f"repull-{i + 1:05d}.json"), games)
        landed = os.path.getsize(path)
        before = snapshot(self.gold_dir, self.dw_dir)

        def op():
            with self.span("streaming", i):
                run_incremental_gold(self.spark, self.landing, self.gold_dir, self.checkpoint,
                                     gen.USERNAME, str(run_ts))
            with self.span("warehouse", i):
                load_warehouse(self.spark, self.read_gold(self.gold_dir),
                               location=self.dw_dir, schema=self.schema)
            return {q: self.dashboard(self.schema, q, i) for q in DASHBOARDS}

        def check(results):
            from pyspark.sql import functions as F

            self.write_ratios.append(written_bytes(before, snapshot(self.gold_dir, self.dw_dir)) / landed)
            problems = self.check_dashboards(results)
            n = self.h.n_games
            gold = self.read_gold(self.gold_dir)["fact_games"]
            r = gold.agg(F.count("*").alias("rows"),
                         F.countDistinct("game_url").alias("urls")).collect()[0]
            if r["rows"] != r["urls"]:
                problems.append(f"{r['rows'] - r['urls']} game_urls sit in two gold partitions")
            if r["urls"] != n:
                problems.append(f"gold fact has {r['urls']} games, want {n}")
            wh = self.spark.table(f"{self.schema}.fact_games")
            if wh.count() != n:
                problems.append("warehouse fact count changed")
            got = wh.where(F.col("game_url").isin(urls)).select(
                "game_url", "my_result", "game_date", "last_updated").collect()
            if len(got) != len(urls):
                problems.append(f"re-pulled month has {len(got)} rows, want {len(urls)}")
            for row in got:
                res, (y, m, d) = self.h.truth[row["game_url"]]
                if (row["last_updated"] != run_ts or row["my_result"] != res
                        or row["game_date"] != dt.date(y, m, d)):
                    problems.append(f"{row['game_url']} not corrected by the re-pull")
                    break
            return problems

        return op, check


# --- corpus index family -----------------------------------------------------


class _Collected:
    """A query's result, collected once, in the shape the oracle
    comparison reads (``columns``, ``schema``, ``collect()``)."""

    def __init__(self, df):
        self.columns, self.schema, self._rows = df.columns, df.schema, df.collect()

    def collect(self):
        return self._rows


class Corpus(Workload):
    """One pass over the corpus index family, each query to a ``noop``
    sink, in a seeded order, over the repository's sf0.01 corpus
    fixture (500 documents, 500 64-d vectors)."""

    name = "corpus"

    def generate(self) -> None:
        self.data_dir = os.path.join(self.b.root, "corpus")
        os.makedirs(self.data_dir, exist_ok=True)
        for t in CORPUS_TABLES:
            shutil.copyfile(os.path.join(FIXTURE_DIR, f"{t}.parquet"),
                            os.path.join(self.data_dir, f"{t}.parquet"))

    def stage(self) -> None:
        from end_to_end_chess_com_etl_and_analytics_pipeline_spark.plans.suites import FULL_ORACLE, FULL_QUERIES

        self.queries = {q: FULL_QUERIES[q] for q in CORPUS_QUERIES}
        self.oracle = {q: FULL_ORACLE[q] for q in CORPUS_QUERIES}

    def warmup(self) -> None:
        """One untimed pass with every result collected: it warms the
        session and keeps the outputs ``verify_setup`` checks."""
        self.warm = {q: _Collected(self.queries[q](self.spark, self.data_dir))
                     for q in CORPUS_QUERIES}

    def verify_setup(self) -> list[str]:
        """Each query's output equals its registry DuckDB oracle's:
        column names, type families and values."""
        import duckdb

        from tests.oracle_compare import compare

        problems = []
        con = duckdb.connect()
        try:
            for t in CORPUS_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(self.data_dir, t)}.parquet')")
            for q in CORPUS_QUERIES:
                try:
                    compare(self.warm[q], con.sql(self.oracle[q]))
                except AssertionError as e:
                    problems.append(f"{q}: {e}")
        finally:
            con.close()
        return problems

    def next_op(self, i: int):
        order = self.rng.sample(CORPUS_QUERIES, len(CORPUS_QUERIES))

        def op():
            for q in order:
                with self.span(f"corpus.{q}", i):
                    self.queries[q](self.spark, self.data_dir).write.format("noop").mode(
                        "overwrite").save()

        return op, None


WORKLOADS = {w.name: w for w in (Monthly, Corpus)}
