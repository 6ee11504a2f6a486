"""Sources & sinks (SURVEY.md §2.1, S1-S11).

Every edge the reference touches, re-expressed Spark-native:

- S2/S4: JSON & CSV scans with *declared* schemas (the reference infers;
  python_scripts.py:194 / test.ipynb cells 2, 10).
- S3/S6: parquet scan/sink — ``spark.read.parquet`` goes through the
  vectorized reader; writes are partitioned for scale.
- S5/S8: JDBC scan/sink (the reference attaches Postgres;
  test.ipynb cells 21-23, python_scripts.py:629-676).
- S11: the 15-row ``dim_results`` literal seed
  (python_scripts.py:454-486 / create_dim_results_table.sql).

At 100 TB: readers take directory globs and partition columns so Catalyst
gets partition pruning; nothing here materialises on the driver.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from ..session import conf_scope, local_df

from ..schemas import (
    DIM_RESULTS_SCHEMA,
    DIM_SCHEMAS,
    FACT_GAMES_SCHEMA,
    TESTDATA_SCHEMAS,
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def repair_events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``ts`` to TimestampType whatever flavor the file held.

    Fixture generations have shipped events.ts as TIMESTAMP(NANOS)
    (readable only as raw int64 via ``nanosAsLong``) and as plain
    timestamp[us] (read as TIMESTAMP_NTZ).  Dispatch on the dtype that
    actually came back from the footer instead of assuming either:

    - LongType  → raw nanos: truncate to micros with exact integer
      division (matching DuckDB's ns→µs truncation).
    - TIMESTAMP_NTZ → cast to TimestampType.  The cast interprets the
      wall-clock in the session zone and collect() renders it back in
      the same zone, so the round-trip is identity for any session tz —
      values agree with DuckDB's naive reading of the same file.
    - already TimestampType → pass through.
    """
    t = df.schema["ts"].dataType
    if isinstance(t, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(t, T.TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def read_events_raw(spark: SparkSession, path: str) -> DataFrame:
    """Flavor-aware raw read of an events-shaped parquet path (no ts
    repair — see :func:`repair_events_ts`).

    A plain read fails on TIMESTAMP(NANOS) footers
    ([PARQUET_TYPE_ILLEGAL]); only then is ``nanosAsLong`` enabled, and
    it is restored immediately — the footer schema is captured at
    load(), so later actions don't re-consult the conf (pinned by
    tests/test_events_fixture_flavors.py).  No session state leaks
    either way.
    """
    try:
        return spark.read.parquet(path)
    except Exception:
        with conf_scope(spark, "spark.sql.legacy.parquet.nanosAsLong", "true"):
            return spark.read.parquet(path)


_BYTE_SUFFIXES = {
    "": 1, "b": 1,
    "k": 1 << 10, "kb": 1 << 10,
    "m": 1 << 20, "mb": 1 << 20,
    "g": 1 << 30, "gb": 1 << 30,
    "t": 1 << 40, "tb": 1 << 40,
}


def _parse_bytes(s: str, default: int = 134217728) -> int:
    """Parse Spark byte-string conf values ('134217728', '128m',
    '64MB') the way the JVM's byteStringAs does for the suffixes that
    occur in practice; unparseable input falls back to ``default``
    rather than raising mid-plan."""
    v = s.strip().lower()
    num = v.rstrip("kmgtb")
    try:
        return int(num) * _BYTE_SUFFIXES[v[len(num):]]
    except (ValueError, KeyError):
        return default


def spread_small_scan(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Round-robin repartition a scan to the session's core count — but
    ONLY when the scan yields fewer partitions than cores.

    Why it exists: a parquet file holds whole row groups, so byte-range
    splitting cannot parallelize a single-row-group file — the fixture
    tables all scan as ONE partition no matter what
    ``maxPartitionBytes`` says, serializing every CPU-heavy projection
    (MinHash, SimHash, text stats) onto one core.  Why it scales: on a
    real cluster a 100 TB table scans as hundreds of thousands of splits
    — far more than the core count — so the condition is false and no
    shuffle is ever introduced; the repartition fires exactly in the
    undersplit-small-input regime, where the data moved is by definition
    tiny.  Callers must only rely on it for partitioning-independent
    plans (every operator here derives shards/ordering from ids, not
    physical placement).

    The undersplit test is a file-size estimate (``size /
    maxPartitionBytes`` vs core count) rather than
    ``df.rdd.getNumPartitions()``: the RDD conversion plans the whole
    query just to count splits, which costs more than the repartition
    it is trying to decide.
    """
    cores = spark.sparkContext.defaultParallelism
    max_split = _parse_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )
    total = 0
    for f in df.inputFiles():
        try:
            total += os.path.getsize(f.removeprefix("file:"))
        except OSError:
            return df  # non-local storage: scan splitting is healthy there
    if total and -(-total // max_split) < cores:
        return df.repartition(cores)
    return df


def _hidden_path(name: str) -> bool:
    """Spark's hidden-path rule for file sources: a name starting with
    ``.``, or with ``_`` unless it is a ``key=val`` partition directory
    (``__bucket=3``)."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def local_data_files(path: str) -> list[str] | None:
    """The parquet data files of a local (``file:`` or scheme-less)
    path, or ``None`` for any other scheme — the package's one
    driver-side listing (a guard test keeps it that way).

    Directories are walked, so ``key=val/`` partition dirs count, and
    hidden paths are pruned as Spark's file index prunes them
    (``_delta_log/``, operators/commit.py's ``.staged_<token>/``).  An
    empty list (missing path, no data files) sends callers to Spark,
    which then reports the path as it would anyway."""
    scheme = re.match(r"([A-Za-z][A-Za-z0-9+.-]*):", path)
    if scheme and scheme.group(1) != "file":
        return None
    p = path.removeprefix("file:")
    if os.path.isfile(p):
        return [p]
    files = []
    for root, dirs, names in os.walk(p):
        dirs[:] = sorted(d for d in dirs if not _hidden_path(d))
        files += [
            os.path.join(root, n)
            for n in sorted(names)
            if n.endswith(".parquet") and not _hidden_path(n)
        ]
    return files


def raw_row_count(spark: SparkSession, path: str) -> int:
    """Raw row count of a parquet file/dir — the sizing heuristic
    several operators derive codebook/stride geometry from (x12/x41/the
    IVF-PQ family).  A local path is counted from its FOOTERS, which
    carry the exact row count: a Spark count job costs ~0.5 s of fixed
    overhead (guide §1.2: don't compute what metadata already knows).
    Any other scheme is counted by Spark."""
    import pyarrow.parquet as pq

    files = local_data_files(path)
    if not files:
        return spark.read.parquet(path).count()
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def read_parquet_noinfer(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet`` with the footer schema read DRIVER-SIDE
    via pyarrow instead of Spark's one-task schema-inference job — the
    per-run artifact read-backs (BM25/IVF-PQ indexes, staged
    selections) live at fresh scratch paths every run, so load_table's
    per-path cache can never help them, yet each schema-less read pays
    a ~30-90 ms scheduler job just to learn a schema the footer states.
    The footer is re-read on EVERY call (no caching), so rewritten
    paths stay correct; the schema is still the file's own — nothing is
    hard-coded.  Any other scheme is a plain inferring read."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    files = local_data_files(path)
    if not files:
        return spark.read.parquet(path)
    schema = from_arrow_schema(pq.read_schema(files[0]))
    return spark.read.schema(schema).parquet(path)


_FOOTER_SCHEMA_CACHE: dict[str, T.StructType] = {}


def load_table(

    spark: SparkSession,
    name: str,
    sf_dir: str | None = None,
    spread: bool | None = None,
) -> DataFrame:
    """Parquet scan of a driver fixture table (S3).

    Parquet is self-describing, so the footer schema is authoritative
    (fixture generations have shipped events.ts under different physical
    types, which a declared TimestampType would misread);
    TESTDATA_SCHEMAS documents the logical contract and is asserted
    post-hoc in tests.  Every schema-less ``spark.read.parquet`` pays a
    one-task footer-inference JOB per call (~30-90 ms of fixed cost on
    this harness), so the footer schema is inferred ONCE per path per
    process and passed explicitly on repeat scans (guide §1.2: don't
    recompute what metadata already gave you).  The cache holds schema
    METADATA only — never rows — and the fixture dirs are immutable
    within a process; paths that are rewritten mid-process (the chess
    STAGE_DIR, per-run temp artifacts) do not go through this reader.

    The text/embedding corpora feed compute-bound per-row operators
    (hashing, signatures, vector math), so their scans go through
    :func:`spread_small_scan` by default — a no-op whenever the scan is
    already at least core-parallel.  Callers whose map-side work is
    trivial (single hash-agg, broadcast-bound sides) pass
    ``spread=False``: for them the extra exchange is pure overhead at
    any scale.
    """
    sf_dir = sf_dir or DEFAULT_SF_DIR
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        return repair_events_ts(read_events_raw(spark, path))
    schema = _FOOTER_SCHEMA_CACHE.get(path)
    if schema is None:
        schema = spark.read.parquet(path).schema
        _FOOTER_SCHEMA_CACHE[path] = schema
    df = spark.read.schema(schema).parquet(path)
    if spread is None:
        spread = name in ("documents", "embeddings")
    return spread_small_scan(spark, df) if spread else df


def read_json(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """JSON scan (S2). Globs are native; nested structs come back as
    StructType columns accessed with dotted paths (``col("white.rating")``),
    matching the reference's ``read_json_auto`` + struct access
    (python_scripts.py:175-178).

    ``multiLine=True`` because the Chess.com payload is a JSON *array*
    document per month, not NDJSON (dev_files/Data/2024-01/games.json).
    """
    reader = spark.read.option("multiLine", "true")
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_json_tracked(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """NDJSON scan with corrupt-record quarantine (S2 hardened): rows
    that fail the declared schema surface with the raw line in
    ``corrupt_col`` instead of killing the job (PERMISSIVE) or silently
    vanishing (DROPMALFORMED).  The ingestion contract a 100 TB bronze
    layer needs — bad lines are a *partition of the output*, routed to
    a quarantine sink, never a crash at hour six of a backfill.

    The declared schema is augmented with the corrupt column (Spark
    only populates it when it exists in the schema).  Note Spark's
    documented caveat: a corrupt-only projection short-circuits the
    parse, so callers filtering on ``corrupt_col IS NOT NULL`` should
    select at least one data column too — the returned frame keeps all
    of them."""
    full = T.StructType(
        list(schema.fields) + [T.StructField(corrupt_col, T.StringType(), True)]
    )
    return (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
    )


def read_csv(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """CSV scan (S4) — header row like the reference's ``read_csv``
    (test.ipynb cells 10, 26); schema declared, never inferred."""
    reader = spark.read.option("header", "true")
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_csv_tracked(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """CSV scan with malformed-row quarantine (S4 hardened) — the CSV
    twin of :func:`read_json_tracked`: rows whose fields fail the
    declared schema surface with the raw line in ``corrupt_col``
    (PERMISSIVE) instead of aborting the scan or silently dropping."""
    full = T.StructType(
        list(schema.fields) + [T.StructField(corrupt_col, T.StringType(), True)]
    )
    return (
        spark.read.option("header", "true")
        .schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .csv(path)
    )


def read_parquet_evolving(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan across schema generations (S3 hardened):
    ``mergeSchema`` unions the footers so files written before a column
    existed read as NULL in that column — the bronze-layer reality when
    an upstream API adds fields mid-history (the reference's
    ``accuracies`` struct appears only on ~7% of rows for exactly this
    reason).  Costs one footer pass over the file listing at planning
    time, nothing at execution; use the plain reader when the schema is
    known stable."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def fs_exists(spark: SparkSession, path: str) -> bool:
    """Path-existence through the Hadoop FileSystem API — NEVER
    ``os.path.exists``, which silently returns False for any
    scheme-prefixed path (s3a://, hdfs://, viewfs://) and turns an
    incremental merge into a blind full rewrite (found by
    tests/test_nonlocal_fs.py: the streaming gold merge left stale
    cross-month copies alive when the fact lived on viewfs)."""
    from ..operators.commit import hadoop_fs

    P, fs = hadoop_fs(spark, path)
    return fs.exists(P(path))


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Parquet sink (S6). The reference full-file-overwrites gold on every
    monthly run (python_scripts.py:148, 603) — the 100 TB answer is
    partitioned layout + dynamic partition overwrite so a month's arrival
    rewrites only its own partition."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by).option(
            "partitionOverwriteMode", "dynamic"
        )
    writer.parquet(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON sink (S7).  The reference keeps bronze verbatim by dumping
    the raw API payload (python_scripts.py:64-79); the engine-side
    equivalent writes NDJSON partitions — at scale one file per
    (user, month) task, not a driver-side dump."""
    df.write.mode(mode).json(path)


def read_orc(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """ORC scan — not in the reference (its lake is Parquet-only), but a
    complete source surface needs the second columnar format users
    actually hold data in.  Same pushdown/pruning properties as the
    Parquet path (vectorized reader, PushedFilters)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """ORC sink — partitioned layout + dynamic overwrite, mirroring
    write_parquet."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by).option(
            "partitionOverwriteMode", "dynamic"
        )
    writer.orc(path)


def read_text(spark: SparkSession, path: str) -> DataFrame:
    """Raw text-line scan (one string column ``value`` per line) — the
    ingestion floor for document corpora that arrive as flat text; pair
    with functions.text for tokenization/quality downstream."""
    return spark.read.text(path)


def fetch_month_api(
    username: str, year: int, month: int, timeout: int = 30
) -> list[dict]:
    """HTTP API source (S1): GET the Chess.com monthly archive
    (python_scripts.py:30-61 shape — UA header, empty list on non-200).

    Driver-side by design at this fan-in (one request per user-month);
    the scale path parallelizes a (user, month) DataFrame and fetches in
    ``mapPartitions``.  Network-dependent, so offline tests exercise the
    same schema via sources.demo payloads instead.
    """
    try:
        import requests  # gated: not needed anywhere else
    except ImportError:  # pragma: no cover
        return []
    url = (
        "https://api.chess.com/pub/player/"
        f"{username.lower()}/games/{year}/{month:02d}"
    )
    resp = requests.get(
        url, headers={"User-Agent": "spark-analytics-engine"}, timeout=timeout
    )
    if resp.status_code != 200:  # pragma: no cover
        return []
    return resp.json().get("games", [])


def fetch_archives(
    spark: SparkSession,
    user_months: DataFrame,
    fetcher=None,
    partitions: int | None = None,
) -> DataFrame:
    """S1 at scale: distribute the monthly-archive fetch across
    executors (SURVEY §2.1 — the shape ``fetch_month_api`` documents).

    ``user_months`` is a ``(username, year, month)`` frame — the full
    fan-out a backfill enumerates.  It is hash-repartitioned on the
    triple so the per-month requests spread evenly across the cluster,
    then each partition calls ``fetcher(username, year, month)``
    (default: the live HTTP ``fetch_month_api``) and emits one row per
    game with the raw payload as a JSON string.  Parsing happens
    JVM-side via ``from_json`` against the declared RAW_GAME_SCHEMA —
    Python does network + ``json.dumps`` only, so the slow path stays
    out of the parse, and the result is schema-identical to the S2
    bronze scan (``read_json(..., RAW_GAME_SCHEMA)``).

    Offline tests inject a file-backed fetcher over ``sources.demo``
    payloads; the network fetcher shares the exact same plumbing.
    Reference: python_scripts.py:30-61 (one-request-per-user-month
    loop, here fanned out instead of sequential).
    """
    import json as _json

    import pandas as _pd

    from ..schemas import RAW_GAME_SCHEMA

    fetch = fetcher or fetch_month_api
    n = partitions or spark.sparkContext.defaultParallelism
    out_schema = (
        "username string, year int, month int, raw string"
    )

    def _fetch_part(batches):
        for pdf in batches:
            rows = []
            for u, y, m in pdf[["username", "year", "month"]].itertuples(
                index=False
            ):
                for game in fetch(u, int(y), int(m)):
                    rows.append((u, int(y), int(m), _json.dumps(game)))
            if rows:
                yield _pd.DataFrame(
                    rows, columns=["username", "year", "month", "raw"]
                )

    fetched = user_months.repartition(
        n, "username", "year", "month"
    ).mapInPandas(_fetch_part, out_schema)
    return fetched.select(
        "username",
        "year",
        "month",
        F.from_json("raw", RAW_GAME_SCHEMA).alias("game"),
    ).select("username", "year", "month", "game.*")


def read_jdbc(
    spark: SparkSession, url: str, dbtable: str, properties: dict[str, str] | None = None
) -> DataFrame:
    """Postgres/JDBC scan (S5). ``dbtable`` may be a subquery alias —
    Spark pushes it down to the database, which is how the reference's
    watermark query (get_last_updated_date.sql) runs server-side."""
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", dbtable)
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader.load()


def write_jdbc(
    df: DataFrame,
    url: str,
    dbtable: str,
    mode: str = "overwrite",
    properties: dict[str, str] | None = None,
) -> None:
    """Postgres/JDBC sink (S8). ``truncate=true`` preserves the target DDL
    on overwrite — unlike the reference's pandas ``to_sql(if_exists=
    "replace")``, which silently drops and recreates the table from the
    DataFrame schema (python_scripts.py:639-645)."""
    writer = (
        df.write.format("jdbc")
        .mode(mode)
        .option("url", url)
        .option("dbtable", dbtable)
        .option("truncate", "true")
    )
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.save()


# Star-schema DDL (S9), mirroring the reference's warehouse
# (create_datawarehouse.sql:2-61) — but unlike the reference, whose
# declared DDL and produced gold schema disagree (SURVEY.md §1.3), the
# column lists here are GENERATED from the engine's own StructTypes, so
# warehouse and gold cannot drift.  Spark's catalog has no enforced PK
# constraints — key uniqueness is guaranteed upstream by the DISTINCT
# dim builds and asserted in tests — so the PKs are documented, not
# declared.
WAREHOUSE_SCHEMA = "chess_dw"


def _ddl_columns(schema: T.StructType) -> str:
    return ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in schema.fields)


# PKs: schemas.DIM_KEYS for the dims, game_url for fact_games
WAREHOUSE_TABLES: dict[str, str] = {
    name: _ddl_columns(schema)
    for name, schema in {**DIM_SCHEMAS, "fact_games": FACT_GAMES_SCHEMA}.items()
}


def create_warehouse(
    spark: SparkSession, location: str | None = None, schema: str = WAREHOUSE_SCHEMA
) -> None:
    """DDL (S9): CREATE SCHEMA/TABLE IF NOT EXISTS for the warehouse star
    schema on the session catalog — idempotent, like the reference's
    ``CREATE ... IF NOT EXISTS`` shipped to Postgres
    (load_data_warehouse_dag.py:31-35).  ``location`` pins external
    parquet storage; without it tables are managed."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {schema}")
    for table, columns in WAREHOUSE_TABLES.items():
        loc = (
            f" LOCATION '{os.path.join(location, table)}'" if location else ""
        )
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {schema}.{table} ({columns}) "
            f"USING PARQUET{loc}"
        )


# 15 result codes seeded by the reference as a literal UNION ALL chain
# (python_scripts.py:456-485; create_dim_results_table.sql:1-29).
DIM_RESULTS_ROWS: list[tuple[str, str, str]] = [
    ("win", "Win", "Win"),
    ("checkmated", "Loss", "Checkmated"),
    ("agreed", "Draw", "Draw agreed"),
    ("repetition", "Draw", "Draw by repetition"),
    ("timeout", "Win", "Timeout"),
    ("resigned", "Loss", "Resigned"),
    ("stalemate", "Draw", "Stalemate"),
    ("lose", "Loss", "Lose"),
    ("insufficient", "Draw", "Insufficient material"),
    ("50move", "Draw", "Draw by 50-move rule"),
    ("abandoned", "Draw", "Abandoned"),
    ("kingofthehill", "Win", "Opponent king reached the hill"),
    ("threecheck", "Win", "Checked for the 3rd time"),
    ("timevsinsufficient", "Draw", "Draw by timeout vs insufficient material"),
    ("bughousepartnerlose", "Loss", "Bughouse partner lost"),
]


def dim_results_seed(spark: SparkSession) -> DataFrame:
    """Inline literal table (S11)."""
    return local_df(spark, DIM_RESULTS_ROWS, DIM_RESULTS_SCHEMA)


def register_views(
    spark: SparkSession, sf_dir: str | None = None, tables: list[str] | None = None
) -> None:
    """SQL-first entry point: register every fixture table as a temp view
    so queries run as plain ``spark.sql("SELECT ...")`` — the interface
    shape the reference's users already have (``duckdb.sql`` over
    registered files, test.ipynb cells 7-15).  Idempotent."""
    for name in tables or sorted(TESTDATA_SCHEMAS):
        load_table(spark, name, sf_dir).createOrReplaceTempView(name)
