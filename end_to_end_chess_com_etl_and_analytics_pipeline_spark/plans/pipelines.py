"""Driver contract, part 3: end-to-end pipeline demonstrations —
the chess medallion flow on deterministic demo data, the Structured
Streaming windowed aggregate, and the multimodal binary-column pipeline.

Every query here carries a DuckDB oracle.  The chess queries stage
their deterministic demo inputs (bronze JSON, then the Spark-computed
silver/gold parquet) at a fixed path; each oracle *recomputes that
stage's transform in DuckDB SQL from the same staged bytes* — silver
from the raw JSON (reference python_scripts.py:169-195), the gold fact
from silver (python_scripts.py:533-598), and each dashboard aggregate
from the gold star — so the whole medallion flow is differentially
verified stage by stage.  The streaming tumbling aggregate must equal
the batch tumbling aggregate's SQL, and the mapInPandas feature
extractor emits md5/byte-length values DuckDB recomputes directly — a
real equivalence check on a non-relational execution path.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from ..session import local_df, scratch_dir
from pyspark.sql import functions as F

from ..functions.rounding import round_fixed, round_fixed_sql
from ..multimodal.media import (
    attach_binary_payload,
    attach_image_metadata,
    extract_media_features,
    resize_plan,
)
from ..schemas import OPENINGS_CSV_SCHEMA, RAW_GAME_SCHEMA
from ..sources import demo
from ..sources.tables import read_json
from ..streaming.pipeline import (
    _events_stream,
    read_gold_fact,
    run_incremental_gold,
    run_stream_to_memory,
    run_streaming_scd2,
    stage_events_by_time,
    streaming_dedup,
    streaming_stateful_sessions,
    streaming_tumbling_counts,
)
from .analytics import (
    classify_openings,
    rating_trend,
    result_distribution,
    win_rate_by_opening,
)
from .driver import _Q25_SQL
from .extensions import _X09_SQL, _X11_SQL, _X56_SQL
from .gold import build_gold
from .silver import bronze_to_silver


# Fixed staging path shared between the Spark queries and the DuckDB
# oracle SQL strings (the driver may run them in separate processes, so
# the path must be deterministic, not tempfile-random).  Every artifact
# below is a pure function of the demo seed, so overwriting is idempotent.
STAGE_DIR = "/tmp/spark_graft_chess_stage"
_staged: set[str] = set()


def _stage_bronze() -> str:
    """Demo month as the reference's bronze JSON array document."""
    path = os.path.join(STAGE_DIR, "games.json")
    if "bronze" not in _staged:
        os.makedirs(STAGE_DIR, exist_ok=True)
        demo.write_month_json(path, month=1)
        _staged.add("bronze")
    return path


def _stage_silver(spark: SparkSession) -> str:
    """Spark-computed silver parquet — c02's input and the byte-identical
    table the gold oracle recomputes from."""
    path = os.path.join(STAGE_DIR, "silver")
    if "silver" not in _staged:
        raw = read_json(spark, _stage_bronze(), RAW_GAME_SCHEMA)
        bronze_to_silver(raw).coalesce(1).write.mode("overwrite").parquet(path)
        _staged.add("silver")
    return path


def _stage_gold(spark: SparkSession) -> str:
    """Spark-computed gold star parquet — the analytics queries' input."""
    if "gold" not in _staged:
        silver = spark.read.parquet(_stage_silver(spark))
        lookup = local_df(spark, demo.OPENINGS_LOOKUP, OPENINGS_CSV_SCHEMA)
        gold = build_gold(
            spark, silver, demo.USERNAME, "2024-02-01 00:00:00",
            openings_lookup=lookup,
        )
        for t in ("fact_games", "dim_openings", "dim_results"):
            gold[t].coalesce(1).write.mode("overwrite").parquet(
                os.path.join(STAGE_DIR, t)
            )
        _staged.add("gold")
    return STAGE_DIR


def c01_chess_silver(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bronze→silver medallion transform (python_scripts.py:169-205) on
    the staged demo month JSON; the oracle re-derives every silver column
    (12 regex tags, strptime casts, move list, numbered PGN) from the
    same file in DuckDB SQL.

    Plus the three chess-domain derivations that otherwise only had
    pytest evidence: D4 opening variation (udfs.py:78-101 quirk),
    D7 move-pairs map (notebook ``generate_pgn_dict``) — emitted in a
    canonical ``k:w,b|…`` string serialization so the oracle can
    recompute it — and D9 time-class bucketing
    (load_fact_and_dim_fiiles.ipynb cell 3)."""
    return chess_silver_plan(spark, _stage_bronze())


def chess_silver_plan(spark: SparkSession, json_path: str) -> DataFrame:
    """The c01 bronze→silver projection against any month JSON path —
    shared by the driver query (staged 45-game demo month) and the
    chess scale probe (tools/chess_scale_probe.py, 10×/100× months)."""
    from ..functions.pgn import (
        move_pairs_map,
        opening_name_from_url,
        opening_variation,
        time_class_of,
    )

    raw = read_json(spark, json_path, RAW_GAME_SCHEMA)
    silver = bronze_to_silver(raw)
    slug_name = opening_name_from_url(F.col("pgn_eco_url"))
    pairs = F.map_entries(move_pairs_map(F.col("pgn_trans")))
    return silver.select(
        "*",
        opening_variation(slug_name).alias("opening_variation"),
        time_class_of(F.col("time_control")).alias("time_class_bucket"),
        F.array_join(
            F.transform(
                pairs,
                lambda e: F.concat(
                    e["key"].cast("string"),
                    F.lit(":"),
                    F.array_join(e["value"], ","),
                ),
            ),
            "|",
        ).alias("move_pairs"),
    )


def c02_chess_gold_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full gold fact build from the staged silver parquet: role-playing
    CASEs and the 5-way validation join.  The oracle
    recomputes the fact projection (python_scripts.py:533-564) from the
    identical silver bytes."""
    silver = spark.read.parquet(_stage_silver(spark))
    lookup = local_df(spark, demo.OPENINGS_LOOKUP, OPENINGS_CSV_SCHEMA)
    return build_gold(
        spark, silver, demo.USERNAME, "2024-02-01 00:00:00",
        openings_lookup=lookup,
    )["fact_games"]


def c03_chess_win_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The README's flagship dashboard question: win rate per opening
    family × time control, recomputed by the oracle from the staged star."""
    stage = _stage_gold(spark)
    return win_rate_by_opening(
        spark.read.parquet(os.path.join(stage, "fact_games")),
        spark.read.parquet(os.path.join(stage, "dim_openings")),
        spark.read.parquet(os.path.join(stage, "dim_results")),
    )


def c04_chess_openings_classified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest-prefix opening classification of whole demo games against
    the openings book (the reference's get_opening loop, test.ipynb cell
    28); oracle = prefix-explode + max_by in DuckDB."""
    stage = _stage_gold(spark)
    lookup = local_df(spark, demo.OPENINGS_LOOKUP, OPENINGS_CSV_SCHEMA)
    return classify_openings(
        spark.read.parquet(os.path.join(stage, "fact_games")), lookup
    )


def _drained_events(
    sf_dir: str,
    prefix: str,
    build: Callable[[str], DataFrame],
    output_mode: str = "append",
    flush: bool = False,
) -> DataFrame:
    """Copy the events file into a scratch dir, open ``build(dir)`` —
    a stream over it — and drain that stream into a fresh uniquely
    named in-memory table (streaming.pipeline.run_stream_to_memory),
    which outlives the scratch dir.  ``flush`` adds the
    close-the-books files of :func:`_write_flush_files`."""
    with scratch_dir("events_stream_") as stream_dir:
        events = os.path.join(stream_dir, "events.parquet")
        shutil.copy(os.path.join(sf_dir, "events.parquet"), events)
        if flush:
            _write_flush_files(events)
        stream_df = build(stream_dir)
        name = f"{prefix}_{uuid.uuid4().hex[:8]}"
        run_stream_to_memory(stream_df, name, output_mode=output_mode)
        return stream_df.sparkSession.table(name)


def st01_streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming watermarked tumbling-window aggregate over
    the events table, drained with availableNow — must equal the batch
    tumbling aggregate (oracle = the same SQL as x09)."""
    return _drained_events(
        sf_dir,
        "st_tumbling",
        lambda d: streaming_tumbling_counts(spark, d, "1 hour", "30 minutes"),
        output_mode="complete",
    ).select(
        "window_start",
        "event_type",
        "n_events",
        round_fixed(F.col("raw_sum"), 6).alias("sum_value"),
    )


def c05_chess_rating_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly rating trend: min/max/avg plus first/last rating within
    the month via max_by/min_by on timestamp — the measure the reference
    leaves to Power BI DAX (demo end_times are unique, so arg_min/arg_max
    are deterministic on both engines)."""
    stage = _stage_gold(spark)
    return rating_trend(spark.read.parquet(os.path.join(stage, "fact_games")))


def c06_chess_result_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Games per result code and category, dims broadcast."""
    stage = _stage_gold(spark)
    return result_distribution(
        spark.read.parquet(os.path.join(stage, "fact_games")),
        spark.read.parquet(os.path.join(stage, "dim_results")),
    )


def st02_streaming_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState sessionization over the events stream —
    custom per-user state (session ordinal + last event time).  Drained
    with availableNow it must equal the batch gaps-and-islands
    sessionize, so the oracle is x11's SQL."""
    return _drained_events(
        sf_dir, "st_sessions", lambda d: streaming_stateful_sessions(spark, d)
    )


def st03_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark over a self-unioned events stream
    (every row arrives twice): the output must be each event exactly
    once — the oracle is a plain scan of the events table."""
    return _drained_events(
        sf_dir, "st_dedup", lambda d: streaming_dedup(spark, d)
    )


_ST03_SQL = "SELECT event_id, ts, user_id, event_type FROM events"


def st04_incremental_gold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1/T2 hard signal: the file-source incremental gold build — one
    bronze month per micro-batch, ``foreachBatch`` latest-wins merge
    against the on-disk fact, ``availableNow`` backlog drain — must equal
    the batch fact over the same two months.  The oracle recomputes raw
    JSON → silver → merged fact wholly in DuckDB (no Spark intermediates),
    so the entire streaming path is differentially verified."""
    bronze_dir = os.path.join(STAGE_DIR, "bronze_2m")
    os.makedirs(bronze_dir, exist_ok=True)
    for m in (1, 2):
        demo.write_month_json(
            os.path.join(bronze_dir, f"2024-{m:02d}-games.json"), month=m
        )
    with scratch_dir("st04_gold_") as work:
        run_incremental_gold(
            spark,
            bronze_dir,
            os.path.join(work, "gold"),
            os.path.join(work, "ckpt"),
            demo.USERNAME,
            "2024-03-01 00:00:00",
        )
        # pin the fact before the scratch dir disappears
        return read_gold_fact(spark, os.path.join(work, "gold")).localCheckpoint()


def st05_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join: each view event joins
    the same user's purchase events within the following hour.  Both
    sides carry watermarks so the join state is bounded by the interval
    + late-data allowance (the 100 TB requirement: state is GC'd as the
    watermark passes, never grows with the stream).  Drained with
    availableNow the inner join must equal the batch self-join — the
    oracle."""
    return _drained_events(
        sf_dir, "st_ssj", lambda d: _view_purchase_join(spark, d, "inner")
    )


def _view_purchase_join(
    spark: SparkSession,
    stream_dir: str,
    how: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """st05/st08's stream-stream interval join over the events stream:
    each view joins the same user's purchases within the following
    hour, both sides watermarked 1 hour."""
    def side(event_type: str, id_col: str, user_col: str, ts_col: str):
        return (
            _events_stream(spark, stream_dir, max_files_per_trigger)
            .where(F.col("event_type") == event_type)
            .select(
                F.col("event_id").alias(id_col),
                F.col("user_id").alias(user_col),
                F.col("ts").alias(ts_col),
            )
            .withWatermark(ts_col, "1 hour")
        )

    views = side("view", "view_id", "user_id", "view_ts")
    purchases = side("purchase", "purchase_id", "p_user_id", "purchase_ts")
    return views.join(
        purchases,
        F.expr(
            "user_id = p_user_id AND purchase_ts >= view_ts "
            "AND purchase_ts <= view_ts + interval 1 hour"
        ),
        how,
    ).select("user_id", "view_id", "purchase_id")


_ST05_SQL = """
SELECT v.user_id, v.event_id AS view_id, c.event_id AS purchase_id
FROM events v JOIN events c
  ON v.user_id = c.user_id
 AND v.event_type = 'view' AND c.event_type = 'purchase'
 AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 1 HOUR
"""


def _write_flush_files(events_path: str) -> None:
    """Append two staggered single-FILE flush parquets next to the
    events file, in the file's OWN footer flavor (events.ts has shipped
    as both TIMESTAMP(NANOS)-as-int64 and timestamp[us]; pyarrow row
    construction against the source schema preserves whichever this
    fixture carries, and a plain file — not a Spark output directory —
    is what the file-source actually lists).

    Two files, not one, because a micro-batch's watermark comes from
    the PREVIOUS batch's data: flush-0 (max+3h) puts every real view's
    interval behind the watermark, and flush-1's batch is where those
    final outer rows emit (availableNow runs no trailing no-data
    batch — measured: 8 tail views stayed withheld with one flush)."""
    import datetime as _dt

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    tbl = pq.read_table(events_path)
    ts_max = pc.max(tbl["ts"]).as_py()
    if ts_max is None:  # empty (or all-NULL-ts) events: flush from epoch
        ts_max = (
            0
            if pa.types.is_integer(tbl.schema.field("ts").type)
            else _dt.datetime(1970, 1, 1)
        )
    out_dir = os.path.dirname(events_path)
    for i, hours in enumerate((3, 6)):
        if isinstance(ts_max, int):  # NANOS-as-int64 flavor
            ts = ts_max + hours * 3_600_000_000_000
        else:
            ts = ts_max + _dt.timedelta(hours=hours)
        arrays = []
        for field in tbl.schema:
            if field.name == "event_id":
                arr = pa.array([-1 - 2 * i, -2 - 2 * i], field.type)
            elif field.name == "ts":
                arr = pa.array([ts, ts], field.type)
            elif field.name == "user_id":
                arr = pa.array([-1, -1], field.type)
            elif field.name == "event_type":
                arr = pa.array(["view", "purchase"], field.type)
            else:
                arr = pa.array([None, None], field.type)
            arrays.append(arr)
        pq.write_table(
            pa.table(arrays, schema=tbl.schema),
            os.path.join(out_dir, f"zz_flush{i}.parquet"),
        )


def st08_stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked LEFT OUTER stream-stream interval join: st05's query
    with the unmatched views KEPT — a view with no purchase in the
    following hour emits (user_id, view_id, NULL) once the watermark
    passes its interval end.  This exercises the state-EVICTION
    semantics the inner join never does: an outer result exists only
    because the engine can prove no future match is possible.

    Outer-side completeness under ``availableNow`` needs the watermark
    to pass EVERY view's interval, so the stage appends one far-future
    flush row per side (user_id -1, excluded from the output) — the
    stream idiom for "close the books"; a production stream gets this
    from real event-time progress.  With the books closed, the drained
    stream must equal the batch LEFT JOIN (the oracle).  State stays
    bounded by interval + watermark delay at any stream length."""
    drained = _drained_events(
        sf_dir,
        "st_ssloj",
        lambda d: _view_purchase_join(
            spark, d, "left_outer", max_files_per_trigger=1
        ),
        flush=True,
    )
    # Drop the flush sentinel's own row AFTER the drain: a stream-side
    # user_id filter is pushed through the left-outer join into BOTH
    # scans (left directly, right via the p_user_id = user_id equi
    # constraint), which prunes the flush rows at the source — before
    # they ever reach the watermark operators, silently defeating the
    # close-the-books mechanism (measured: 8 tail views withheld).
    return drained.where(F.col("user_id") >= 0)


_ST08_SQL = """
SELECT v.user_id, v.event_id AS view_id, c.event_id AS purchase_id
FROM events v LEFT JOIN events c
  ON v.user_id = c.user_id
 AND c.event_type = 'purchase'
 AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 1 HOUR
WHERE v.event_type = 'view'
"""


def st10_streaming_native_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked NATIVE session windows in append mode — the
    streaming twin of x56 (st02 covers the custom-state form; this is
    Catalyst's own session operator under a watermark): a session row
    emits exactly once, when the watermark proves no further event can
    extend it, and session state is evicted — bounded by gap +
    watermark delay at any stream length.

    Append-mode completeness under ``availableNow`` reuses st08's
    close-the-books staging: two staggered far-future flush rows
    (user_id -1) advance the watermark past every real session's end
    (a micro-batch's watermark comes from the PREVIOUS batch's data,
    so one flush emits nothing).  The sentinel's own session is
    excluded AFTER the drain — a stream-side filter would prune the
    flush rows at the scan and silently withhold the tail (the st08
    lesson, CONTRACTS.md).  Drained, the stream must equal x56's
    batch query, so the oracle is x56's SQL."""
    def sessions(stream_dir: str) -> DataFrame:
        return (
            _events_stream(spark, stream_dir, max_files_per_trigger=1)
            .where(F.col("ts").isNotNull())
            .withWatermark("ts", "1 hour")
            .groupBy("user_id", F.session_window("ts", "30 minutes"))
            .agg(F.count("*").alias("n_events"))
            .select(
                "user_id",
                F.col("session_window.start").alias("session_start"),
                F.col("session_window.end").alias("session_end_gap"),
                "n_events",
            )
        )

    drained = _drained_events(sf_dir, "st_nsess", sessions, flush=True)
    # NULL-safe sentinel exclusion: NULL user_id sessions are real data
    # (the NULL probe injects them) and must survive this filter
    return drained.where(F.col("user_id").isNull() | (F.col("user_id") >= 0))


def st13_streaming_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Type-2 SCD dimension maintenance: the events fixture
    staged as four time-ordered files, one micro-batch each, every
    batch merged into the on-disk history table by re-collapsing
    (affected users' version rows ∪ batch events) — never a full-
    history recompute (streaming.pipeline.run_streaming_scd2).  Drained
    with availableNow the table must equal the batch SCD2 build, so the
    oracle is q25's SQL."""
    with scratch_dir("st13_") as root:
        stream_dir = os.path.join(root, "events")
        n = stage_events_by_time(
            os.path.join(sf_dir, "events.parquet"), stream_dir, n_files=4
        )
        assert n >= 1
        dim_path = os.path.join(root, "dim_history")
        run_streaming_scd2(
            spark, stream_dir, dim_path, os.path.join(root, "ckpt")
        )
        # pin the table before the scratch dir disappears
        return spark.read.parquet(dim_path).select(
            "user_id", "attr_value", "valid_from", "valid_to", "is_current"
        ).localCheckpoint()


def m01_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal pipeline: documents → opaque binary payload + typed
    metadata → Arrow-batched mapInPandas feature extraction.  The
    deterministic features (md5, byte length, head bytes) are the oracle
    hook for a non-SQL execution path."""
    from ..sources.tables import load_table

    docs = load_table(spark, "documents", sf_dir)
    media = attach_binary_payload(docs)
    return extract_media_features(media)


_M01_SQL = """
SELECT doc_id,
       'text/plain' AS media_type,
       CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
       md5(text) AS payload_md5,
       lower(substring(hex(encode(text)), 1, 16)) AS head_hex
FROM documents
"""


def m02_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize + frame-sample plumbing: image-shaped metadata attached to
    binary payloads, geometry computed per Arrow batch in mapInPandas
    with integer math the DuckDB oracle reproduces exactly."""
    from ..sources.tables import load_table

    docs = load_table(spark, "documents", sf_dir)
    return resize_plan(attach_image_metadata(docs))


_M02_SQL = """
WITH meta AS (
    SELECT doc_id, text,
           CAST(64 + doc_id % 960 AS INTEGER) AS width,
           CAST(64 + (doc_id * 7) % 540 AS INTEGER) AS height,
           CAST(1 + doc_id % 120 AS INTEGER) AS n_frames
    FROM documents),
geom AS (
    SELECT doc_id, text, width, height, n_frames,
           CASE WHEN GREATEST(width, height) <= 224 THEN width
                ELSE CAST(width * 224 // GREATEST(width, height) AS INTEGER) END AS new_width,
           CASE WHEN GREATEST(width, height) <= 224 THEN height
                ELSE CAST(height * 224 // GREATEST(width, height) AS INTEGER) END AS new_height
    FROM meta)
SELECT doc_id, width, height, new_width, new_height,
       CAST((n_frames - 1) // 30 + 1 AS INTEGER) AS n_sampled_frames,
       md5(text || '|' || CAST(new_width AS VARCHAR) || 'x' || CAST(new_height AS VARCHAR))
           AS thumb_md5
FROM geom
"""


def s01_io_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver evidence for the CSV scan (S4), CSV sink, JSON sink (S7),
    and warehouse DDL (S9).

    ``io`` part: a deterministic projection of documents is written
    through the engine's own CSV and NDJSON sinks, read back through
    the declared-schema scans, and joined — n_chars flows through the
    CSV path and text_md5 through the JSON path, so a corruption in
    either format breaks the hash.  The oracle reads the same staged
    bytes with DuckDB's read_csv/read_json.

    ``ddl`` part: create_warehouse runs its idempotent star-schema DDL
    (create_datawarehouse.sql:2-61 shape) and the catalog is read back;
    the oracle pins the expected table set as literals."""
    from pyspark.sql import types as T

    from ..sources.tables import (
        WAREHOUSE_SCHEMA,
        create_warehouse,
        load_table,
        read_csv,
        write_json,
    )

    docs = load_table(spark, "documents", sf_dir)
    base = docs.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars"),
        F.md5("text").alias("text_md5"),
    )
    out = os.path.join(STAGE_DIR, "io_formats")
    csv_dir = os.path.join(out, "csv")
    json_dir = os.path.join(out, "json")
    base.write.mode("overwrite").option("header", "true").csv(csv_dir)
    write_json(base, json_dir)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("n_chars", T.LongType()),
            T.StructField("text_md5", T.StringType()),
        ]
    )
    from_csv = read_csv(spark, csv_dir, schema)
    from_json = spark.read.schema(schema).json(json_dir)
    io_part = (
        from_csv.alias("c")
        .join(from_json.alias("j"), "doc_id")
        .select(
            F.lit("io").alias("part"),
            "doc_id",
            F.col("c.n_chars").alias("n_chars"),
            F.col("j.text_md5").alias("text_md5"),
        )
    )
    create_warehouse(spark)
    ddl_part = (
        spark.sql(f"SHOW TABLES IN {WAREHOUSE_SCHEMA}")
        .where(~F.col("isTemporary"))
        .select(
            F.lit("ddl").alias("part"),
            F.col("tableName").alias("table_name"),
        )
    )
    return io_part.unionByName(ddl_part, allowMissingColumns=True)


def _s01_sql() -> str:
    from ..sources.tables import WAREHOUSE_TABLES

    ddl_values = ", ".join(f"('{t}')" for t in sorted(WAREHOUSE_TABLES))
    return """
SELECT 'io' AS part, c.doc_id, c.n_chars, j.text_md5,
       CAST(NULL AS VARCHAR) AS table_name
FROM read_csv('@STAGE@/io_formats/csv/*.csv', header=true,
              columns={'doc_id': 'BIGINT', 'n_chars': 'BIGINT',
                       'text_md5': 'VARCHAR'}) c
JOIN read_json('@STAGE@/io_formats/json/*.json',
               format='newline_delimited',
               columns={'doc_id': 'BIGINT', 'n_chars': 'BIGINT',
                        'text_md5': 'VARCHAR'}) j
  USING (doc_id)
UNION ALL BY NAME
SELECT 'ddl' AS part, CAST(NULL AS BIGINT) AS doc_id,
       CAST(NULL AS BIGINT) AS n_chars, CAST(NULL AS VARCHAR) AS text_md5,
       t.name AS table_name
FROM (VALUES @DDL@) t(name)
""".replace("@STAGE@", STAGE_DIR).replace("@DDL@", ddl_values)


# --- chess oracle SQL: DuckDB recomputes each medallion stage from the
# --- staged bytes (silver from raw JSON, fact from silver, aggregates
# --- from the gold star).  Templates use @STAGE@ so regex braces/quotes
# --- need no f-string escaping.

_SILVER_FROM_JSON_SQL = r"""
WITH raw AS (
    SELECT *, REGEXP_EXTRACT_ALL(pgn, '\. (.*?) {\[', 1) AS __moves
    FROM read_json_auto('@SRC@')
)
SELECT url AS game_url, time_control, rated, time_class, rules,
       CAST(white.rating AS INTEGER) AS white_rating,
       white.result AS white_result,
       CAST(black.rating AS INTEGER) AS black_rating,
       black.result AS black_result,
       REGEXP_EXTRACT(pgn, '\[Event "(.*?)"', 1) AS pgn_event,
       REGEXP_EXTRACT(pgn, '\[Site "(.*?)"', 1) AS pgn_site,
       TRY_STRPTIME(REPLACE(REGEXP_EXTRACT(pgn, '\[Date "(.*?)"', 1), '.', '/'), '%Y/%m/%d')::DATE AS game_date,
       REGEXP_EXTRACT(pgn, '\[White "(.*?)"', 1) AS pgn_white_user,
       REGEXP_EXTRACT(pgn, '\[Black "(.*?)"', 1) AS pgn_black_user,
       REGEXP_EXTRACT(pgn, '\[Result "(.*?)"', 1) AS pgn_result,
       REGEXP_EXTRACT(pgn, '\[CurrentPosition "(.*?)"', 1) AS pgn_current_position,
       REGEXP_EXTRACT(pgn, '\[Timezone "(.*?)"', 1) AS pgn_timezone,
       REGEXP_EXTRACT(pgn, '\[ECO "(.*?)"', 1) AS pgn_eco,
       REGEXP_EXTRACT(pgn, '\[ECOUrl "(.*?)"', 1) AS pgn_eco_url,
       TRY_STRPTIME(
           REPLACE(REGEXP_EXTRACT(pgn, '\[Date "(.*?)"', 1), '.', '/')
           || ' ' || REGEXP_EXTRACT(pgn, '\[StartTime "(.*?)"', 1),
           '%Y/%m/%d %H:%M:%S') AS start_time,
       TRY_STRPTIME(
           REPLACE(REGEXP_EXTRACT(pgn, '\[EndDate "(.*?)"', 1), '.', '/')
           || ' ' || REGEXP_EXTRACT(pgn, '\[EndTime "(.*?)"', 1),
           '%Y/%m/%d %H:%M:%S') AS end_time,
       TRY_STRPTIME(REPLACE(REGEXP_EXTRACT(pgn, '\[EndDate "(.*?)"', 1), '.', '/'), '%Y/%m/%d')::DATE AS end_game_date,
       -- COALESCE: ARRAY_TO_STRING([]) is NULL in DuckDB but Spark's
       -- array_join([]) is '' (the reference's ''.join([]) semantics);
       -- a ZERO-move game (abandoned before move 1) must agree
       COALESCE(ARRAY_TO_STRING(__moves, ' '), '') AS pgn_raw,
       COALESCE(ARRAY_TO_STRING(
           LIST_TRANSFORM(
               RANGE((LEN(__moves) + 1) // 2),
               i -> CAST(i + 1 AS VARCHAR) || '. ' || __moves[2 * i + 1]
                    || ' ' || COALESCE(__moves[2 * i + 2], '')),
           ' '), '') AS pgn_trans
FROM raw
"""

# slug-derived opening name (functions.pgn.opening_name_from_url) in
# DuckDB; referenced twice in the variation CASE below
_SLUG_NAME_SQL = (
    "replace(regexp_replace(regexp_extract(pgn_eco_url, '([^/]+)$', 1),"
    " '-[0-9].*$', ''), '-', ' ')"
)

_C01_SQL = f"""
SELECT s.*,
       CASE WHEN contains({_SLUG_NAME_SQL}, ':')
            THEN string_split({_SLUG_NAME_SQL}, ':')[2]
            ELSE {_SLUG_NAME_SQL} END AS opening_variation,
       CASE WHEN TRY_CAST(string_split(time_control, '+')[1] AS BIGINT) < 180
                 THEN 'bullet'
            WHEN TRY_CAST(string_split(time_control, '+')[1] AS BIGINT) < 600
                 THEN 'blitz'
            ELSE 'rapid' END AS time_class_bucket,
       coalesce(array_to_string(
           list_transform(
               list_filter(
                   regexp_split_to_array(pgn_trans, '\\s*[0-9]+\\.\\s*'),
                   x -> x <> ''),
               (x, i) -> CAST(i AS VARCHAR) || ':' || replace(rtrim(x), ' ', ',')),
           '|'), '') AS move_pairs
FROM ({_SILVER_FROM_JSON_SQL.replace("@SRC@", f"{STAGE_DIR}/games.json")}) s
"""

_MY_WHITE = "LOWER(pgn_white_user) = 'rhythmbear1'"

# fact projection over any silver-shaped relation named in @SILVER@
_FACT_FROM_SILVER_SQL = (
    r"""
SELECT game_url, game_date, start_time, end_time,
       CAST(DATE_DIFF('second', start_time, end_time) AS BIGINT) AS game_duration_secs,
       CASE WHEN CONTAINS(time_control, '+')
            THEN CAST(TRY_CAST(STRING_SPLIT(time_control, '+')[1] AS BIGINT) // 60 AS VARCHAR)
                 || '|' || STRING_SPLIT(time_control, '+')[2]
            ELSE CAST(TRY_CAST(time_control AS BIGINT) // 60 AS VARCHAR)
       END AS time_control,
       CASE WHEN @MY@ THEN 'white' ELSE 'black' END AS my_color,
       CASE WHEN @MY@ THEN pgn_white_user ELSE pgn_black_user END AS my_username,
       CASE WHEN @MY@ THEN pgn_black_user ELSE pgn_white_user END AS opponent_username,
       CASE WHEN @MY@ THEN white_rating ELSE black_rating END AS my_rating,
       CASE WHEN @MY@ THEN black_rating ELSE white_rating END AS opponent_rating,
       CASE WHEN @MY@ THEN white_result ELSE black_result END AS my_result,
       CASE WHEN @MY@ THEN black_result ELSE white_result END AS opponent_result,
       pgn_current_position AS game_fen,
       pgn_eco_url AS opening_url,
       pgn_trans AS game_pgn,
       CAST(LEN(REGEXP_EXTRACT_ALL(pgn_trans, '(\d+\.)', 1)) AS INTEGER) AS moves,
       TIMESTAMP '@RUN_TS@' AS last_updated
FROM @SILVER@
""".replace("@MY@", _MY_WHITE)
)

_C02_SQL = (
    _FACT_FROM_SILVER_SQL.replace(
        "@SILVER@", f"read_parquet('{STAGE_DIR}/silver/*.parquet')"
    ).replace("@RUN_TS@", "2024-02-01 00:00:00")
)

# st04: raw two-month bronze JSON straight to the merged fact, entirely in
# DuckDB — the oracle for the *streaming incremental* gold build.
_ST04_SQL = _FACT_FROM_SILVER_SQL.replace(
    "@SILVER@",
    "(" + _SILVER_FROM_JSON_SQL.replace("@SRC@", f"{STAGE_DIR}/bronze_2m/*.json") + ")",
).replace("@RUN_TS@", "2024-03-01 00:00:00")

_C03_SQL = (
    """
WITH f AS (SELECT * FROM read_parquet('@STAGE@/fact_games/*.parquet')),
o AS (SELECT pgn_eco_url AS opening_url, opening_family
      FROM read_parquet('@STAGE@/dim_openings/*.parquet')),
r AS (SELECT result_code, result
      FROM read_parquet('@STAGE@/dim_results/*.parquet'))
SELECT o.opening_family, f.time_control,
       COUNT(*) AS n_games,
       CAST(SUM(CASE WHEN r.result = 'Win' THEN 1 ELSE 0 END) AS BIGINT) AS n_wins,
       CAST(SUM(CASE WHEN r.result = 'Loss' THEN 1 ELSE 0 END) AS BIGINT) AS n_losses,
       CAST(SUM(CASE WHEN r.result = 'Draw' THEN 1 ELSE 0 END) AS BIGINT) AS n_draws,
       """
    + round_fixed_sql(
        "CAST(SUM(CASE WHEN r.result = 'Win' THEN 1 ELSE 0 END) AS BIGINT)"
        " / COUNT(*)",
        6,
    )
    + """ AS win_rate
FROM f
LEFT JOIN r ON f.my_result = r.result_code
LEFT JOIN o ON f.opening_url = o.opening_url
GROUP BY 1, 2
""".replace("@STAGE@", STAGE_DIR)
).replace("@STAGE@", STAGE_DIR)


def _lex_values() -> str:
    """demo.OPENINGS_LOOKUP as a VALUES list (deterministic constant
    data embedded in both engines, per the oracle contract)."""
    rows = [
        "('{}', '{}')".format(pgn.replace("'", "''"), name.replace("'", "''"))
        for (_fam, _eco, name, pgn) in demo.OPENINGS_LOOKUP
    ]
    return ", ".join(rows)


_C04_SQL = (
    """
WITH lex(pgn, name) AS (VALUES @LEX@),
f AS (SELECT game_url, game_pgn
      FROM read_parquet('@STAGE@/fact_games/*.parquet')),
toks AS (SELECT game_url, game_pgn, STRING_SPLIT(game_pgn, ' ') AS w FROM f),
prefixes AS (
    SELECT t.game_url, ARRAY_TO_STRING(t.w[1:CAST(r.i AS INTEGER)], ' ') AS prefix
    FROM toks t, RANGE(1, 31) r(i) WHERE r.i <= LEN(t.w)),
matches AS (
    SELECT p.game_url,
           MAX_BY(p.prefix, LENGTH(p.prefix)) AS opening_pgn,
           MAX_BY(l.name, LENGTH(p.prefix)) AS opening_name
    FROM prefixes p JOIN lex l ON p.prefix = l.pgn
    GROUP BY p.game_url)
SELECT t.game_url, t.game_pgn, m.opening_pgn, m.opening_name
FROM toks t LEFT JOIN matches m ON t.game_url = m.game_url
""".replace("@STAGE@", STAGE_DIR)
    .replace("@LEX@", _lex_values())
)

_C05_SQL = (
    """
SELECT CAST(YEAR(game_date) AS INTEGER) AS year,
       CAST(MONTH(game_date) AS INTEGER) AS month,
       COUNT(*) AS n_games,
       MIN(my_rating) AS min_rating,
       MAX(my_rating) AS max_rating,
       """
    + round_fixed_sql("AVG(my_rating)", 2)
    + """ AS avg_rating,
       ARG_MIN(my_rating, end_time) AS first_rating,
       ARG_MAX(my_rating, end_time) AS last_rating
FROM read_parquet('@STAGE@/fact_games/*.parquet')
GROUP BY 1, 2
""".replace("@STAGE@", STAGE_DIR)
).replace("@STAGE@", STAGE_DIR)

_C06_SQL = """
SELECT f.my_result, r.result, COUNT(*) AS n_games
FROM read_parquet('@STAGE@/fact_games/*.parquet') f
LEFT JOIN read_parquet('@STAGE@/dim_results/*.parquet') r
  ON f.my_result = r.result_code
GROUP BY 1, 2
""".replace("@STAGE@", STAGE_DIR)


PIPELINE_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "c01_chess_silver": c01_chess_silver,
    "c02_chess_gold_fact": c02_chess_gold_fact,
    "c03_chess_win_rate": c03_chess_win_rate,
    "c04_chess_openings_classified": c04_chess_openings_classified,
    "c05_chess_rating_trend": c05_chess_rating_trend,
    "c06_chess_result_distribution": c06_chess_result_distribution,
    "st01_streaming_tumbling": st01_streaming_tumbling,
    "st02_streaming_stateful_sessions": st02_streaming_stateful_sessions,
    "st03_streaming_dedup": st03_streaming_dedup,
    "st04_incremental_gold": st04_incremental_gold,
    "st05_stream_stream_join": st05_stream_stream_join,
    "st08_stream_stream_left_join": st08_stream_stream_left_join,
    "st10_streaming_native_sessions": st10_streaming_native_sessions,
    "st13_streaming_scd2": st13_streaming_scd2,
    "m01_multimodal_features": m01_multimodal_features,
    "m02_multimodal_resize": m02_multimodal_resize,
    "s01_io_formats": s01_io_formats,
}

# every pipeline query carries a real oracle: the chess medallion is
# verified stage-by-stage against the staged bytes; streaming aggregates
# against their batch SQL; multimodal against DuckDB-recomputed features.
PIPELINE_ORACLE: dict[str, str] = {
    "c01_chess_silver": _C01_SQL,
    "c02_chess_gold_fact": _C02_SQL,
    "c03_chess_win_rate": _C03_SQL,
    "c04_chess_openings_classified": _C04_SQL,
    "c05_chess_rating_trend": _C05_SQL,
    "c06_chess_result_distribution": _C06_SQL,
    "st01_streaming_tumbling": _X09_SQL,
    "st02_streaming_stateful_sessions": _X11_SQL,
    "st03_streaming_dedup": _ST03_SQL,
    "st04_incremental_gold": _ST04_SQL,
    "st05_stream_stream_join": _ST05_SQL,
    "st08_stream_stream_left_join": _ST08_SQL,
    "st10_streaming_native_sessions": _X56_SQL,
    # st13's oracle: the drained streaming SCD2 table equals the batch
    # q25 build over the same events
    "st13_streaming_scd2": _Q25_SQL,
    "m01_multimodal_features": _M01_SQL,
    "m02_multimodal_resize": _M02_SQL,
    "s01_io_formats": _s01_sql(),
}
