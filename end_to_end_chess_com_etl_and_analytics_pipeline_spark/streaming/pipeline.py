"""Structured Streaming incremental variant (SURVEY.md §2.10 T1-T5).

The reference's incremental semantics are Airflow constructs: monthly
catch-up runs (T1), Dataset-triggered downstream DAG (T2), a watermark it
reads but ignores (T3), latest-wins re-pull merge (T4), insert-if-absent
dims (T5).  Streaming-native equivalents:

- T1: a file source over the bronze directory — one JSON per arriving
  month; ``availableNow`` trigger gives the batch-backfill behaviour.
- T2: the gold landing runs in ``foreachBatch`` of the same stream — no
  external trigger plumbing.
- T3/T4: event-time watermark; each micro-batch lands through
  ``plans.gold.land_gold``, the one gold landing path, which a batch
  backfill calls once over all its months — so the stream and the
  backfill produce the same gold.
- plus watermarked tumbling-window aggregation over the events stream,
  which the reference lacks entirely.

At scale the ``foreachBatch`` merge targets partition-scoped parquet (or
a MERGE-capable table format); micro-batch size is bounded by arrival
cadence, not table size.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans.gold import land_gold
from ..plans.silver import bronze_to_silver
from ..schemas import GOLD_FACT_SCHEMA, RAW_GAME_SCHEMA
from ..session import conf_scope, job_description
from ..sources.tables import read_events_raw, repair_events_ts


def stream_bronze_to_silver(
    spark: SparkSession, bronze_dir: str, schema: T.StructType = RAW_GAME_SCHEMA
) -> DataFrame:
    """File-source stream over monthly bronze JSON → silver columns.
    The transform is the *same pure function* as batch (plans.silver)."""
    raw = (
        spark.readStream.schema(schema)
        .option("multiLine", "true")
        .option("maxFilesPerTrigger", 1)  # one month per micro-batch
        .json(bronze_dir)
    )
    return bronze_to_silver(raw)


def read_gold_fact(spark: SparkSession, gold_dir: str) -> DataFrame:
    """Read the incremental gold fact back without its (year, month)
    partition-layout columns — the logical fact schema."""
    return (
        spark.read.schema(GOLD_FACT_SCHEMA)
        .parquet(os.path.join(gold_dir, "fact_games"))
        .drop("year", "month")
    )


# Micro-batches here are month- or file-sized, not table-sized, and a
# stateful operator keeps one state store (one commit per batch) per
# shuffle partition: at a vanilla session's 200 partitions a drain
# spends several times longer scheduling empty tasks and committing
# stores than processing data.  So every drain runs at this
# batch-scoped width and restores the caller's afterwards; a real
# deployment sizes it to arrival volume and state size instead.
_DRAIN_SHUFFLE_PARTITIONS = "8"


def _drain(spark: SparkSession, writer) -> None:
    """Start ``writer`` (a configured DataStreamWriter) with the
    ``availableNow`` trigger — process the whole backlog, then stop —
    and wait for it, at the batch-scoped shuffle width."""
    with conf_scope(
        spark, "spark.sql.shuffle.partitions", _DRAIN_SHUFFLE_PARTITIONS
    ):
        writer.trigger(availableNow=True).start().awaitTermination()


def _append_stream(
    spark: SparkSession, in_dir: str, kernel, out_path: str, checkpoint_dir: str
) -> None:
    """Drain a parquet file-source stream over ``in_dir``, one arriving
    file per micro-batch, appending ``kernel(batch_df)`` to ``out_path``.
    The checkpoint makes each file land exactly once.  The shape of
    every ingest that runs against frozen artifacts: the caller builds
    the artifacts once and closes ``kernel`` over them, so a batch's
    output depends only on its own rows and the union of the appends
    equals the one-shot batch computation."""
    schema = spark.read.parquet(in_dir).schema  # footer probe
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )

    def append(batch_df: DataFrame, batch_id: int) -> None:
        kernel(batch_df).write.mode("append").parquet(out_path)

    _drain(
        spark,
        stream.writeStream.foreachBatch(append).option(
            "checkpointLocation", checkpoint_dir
        ),
    )


def run_incremental_gold(
    spark: SparkSession,
    bronze_dir: str,
    gold_dir: str,
    checkpoint_dir: str,
    username: str,
    run_ts: str,
    openings_lookup: DataFrame | None = None,
) -> None:
    """Incremental gold build: each arriving bronze month is one
    micro-batch, landed by :func:`plans.gold.land_gold` under the swap
    token ``b{batch_id}``, so a checkpoint replay reuses its token.
    ``availableNow`` processes the backlog then stops (the Airflow
    catchup=True equivalent).  The landing's jobs carry the description
    ``land_gold b{batch_id}``, so the status store names the code that
    ran them (a description, not a job group: a caller's group stays
    intact)."""

    def land(batch_df: DataFrame, batch_id: int) -> None:
        with job_description(spark, f"land_gold b{batch_id}"):
            land_gold(
                spark, batch_df, gold_dir, username, run_ts, f"b{batch_id}",
                openings_lookup,
            )

    _drain(
        spark,
        stream_bronze_to_silver(spark, bronze_dir)
        .writeStream.foreachBatch(land)
        .option("checkpointLocation", checkpoint_dir),
    )


def streaming_tumbling_counts(
    spark: SparkSession,
    events_dir: str,
    window_size: str = "1 hour",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Watermarked tumbling-window aggregate over the events stream —
    the same F.window expression as the batch operator
    (operators.windows.tumbling_agg), plus late-data bounds."""
    events = _events_stream(spark, events_dir)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_size).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("raw_sum"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "raw_sum",
        )
    )


def _events_stream(
    spark: SparkSession, events_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over the events fixture, sharing the batch
    reader's flavor probe and ts repair (sources.tables): the declared
    readStream schema is whatever a batch read of the same footers
    yields, never an assumption about the physical timestamp type.
    ``max_files_per_trigger`` splits the backlog into one-file
    micro-batches for multi-batch state tests."""
    raw_schema = read_events_raw(spark, events_dir).schema
    # For the TIMESTAMP(NANOS) flavor the probe yields ts: LongType and
    # a DECLARED LongType schema reads the nanos footers as raw int64
    # without any session conf (verified by
    # test_streaming_reader_matches_batch[ns]) — so no nanosAsLong
    # leaks into the session from here; repair_events_ts dispatches on
    # the Long dtype as usual.
    reader = spark.readStream.schema(raw_schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return repair_events_ts(reader.parquet(events_dir))


def streaming_stateful_sessions(
    spark: SparkSession, events_dir: str, gap_seconds: int = 1800,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Custom stateful streaming operator: per-user sessionization with
    ``applyInPandasWithState`` (arbitrary state the built-in window
    operators can't express — session ordinal, open-session start and
    running event count per user).

    Each group invocation stitches its batch onto the carried state and
    emits every session closed or extended in that batch.  A session
    spanning micro-batches keeps its ordinal and is *re-emitted with
    corrected totals* — the carried (start, n_events) accumulate, so in
    append mode the latest emission per (user_id, session_seq) is always
    the session's true current shape (earlier emissions are stale
    prefixes, never wrong data).  With an ``availableNow`` single-batch
    drain the output equals the batch gaps-and-islands sessionize
    (operators.windows.sessionize), which is the DuckDB oracle; the
    multi-batch corrected-totals behaviour is pinned by
    ``test_stateful_sessions_multi_batch``.  At 100 TB state is bounded
    by |active users|, not data volume.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    events = _events_stream(spark, events_dir, max_files_per_trigger).select(
        "user_id", "ts"
    )

    def stitch(key, pdf_iter, state: "GroupState"):
        import pandas as pd

        rows = pd.concat(list(pdf_iter)).sort_values("ts")
        secs = rows["ts"].astype("datetime64[ns]").astype("int64") // 10**9
        if state.exists:
            last_ts, seq, start_us, n_open = state.get
        else:
            last_ts, seq, start_us, n_open = None, 0, None, 0
        out = []
        cur = None  # [seq, start, end, n]
        for ts_val, sec in zip(rows["ts"], secs):
            if last_ts is None or sec - last_ts > gap_seconds:
                if cur is not None:
                    out.append(cur)
                seq += 1
                cur = [seq, ts_val, ts_val, 1]
            else:
                if cur is None:  # continues the pre-batch open session:
                    # resume its ordinal, carried start and carried count
                    seq = max(seq, 1)
                    start = (
                        pd.Timestamp(start_us, unit="us")
                        if start_us is not None
                        else ts_val
                    )
                    cur = [seq, start, ts_val, n_open + 1]
                else:
                    cur[2] = ts_val
                    cur[3] += 1
            last_ts = sec
        if cur is not None:
            out.append(cur)
            open_start_us = int(pd.Timestamp(cur[1]).value // 1000)
            open_n = int(cur[3])
        else:  # no rows (cannot happen with NoTimeout) — keep carried state
            open_start_us, open_n = start_us, n_open
        state.update((int(last_ts), int(seq), open_start_us, open_n))
        yield pd.DataFrame(
            {
                "user_id": [int(key[0])] * len(out),
                "session_seq": [o[0] for o in out],
                "session_start": [o[1] for o in out],
                "session_end": [o[2] for o in out],
                "n_events": [o[3] for o in out],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        stitch,
        outputStructType=(
            "user_id bigint, session_seq bigint, session_start timestamp, "
            "session_end timestamp, n_events bigint"
        ),
        stateStructType=(
            "last_ts bigint, seq bigint, start_us bigint, n_open bigint"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_dedup(spark: SparkSession, events_dir: str) -> DataFrame:
    """Streaming exact dedup: the events stream unioned with itself
    (every row duplicated) → ``dropDuplicatesWithinWatermark`` on
    event_id recovers each row exactly once.  This is T4's streaming
    form: state is bounded by the watermark horizon instead of growing
    with the table, which is what makes re-pull dedup viable at 100 TB.
    """
    s = _events_stream(spark, events_dir).select(
        "event_id", "ts", "user_id", "event_type"
    )
    doubled = s.union(s)
    return doubled.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def streaming_incremental_dedup(
    spark: SparkSession,
    batch_docs_dir: str,
    index_path: str,
    out_path: str,
    checkpoint_dir: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_len: int = 3,
) -> None:
    """Streaming ingest with incremental dedup: a file-source stream of
    arriving document batches, each micro-batch probed against the
    PERSISTED corpus LSH band index (operators.dedup.band_signatures
    written to parquet) via ``incremental_lsh_matches`` inside
    ``foreachBatch``; verdict rows append to ``out_path``.

    This is the 100 TB daily-ingest loop end-to-end: the corpus index
    is read, never rebuilt; per-batch cost is O(batch); a batch's
    verdict depends only on its own docs and the index, so the union of
    micro-batch outputs equals the one-shot batch probe (the oracle).
    ``availableNow`` drains the backlog then stops."""
    from ..operators.dedup import incremental_lsh_matches

    index = spark.read.parquet(index_path)
    _append_stream(
        spark,
        batch_docs_dir,
        lambda batch_df: incremental_lsh_matches(
            index,
            batch_df,
            num_hashes=num_hashes,
            bands=bands,
            shingle_len=shingle_len,
        ),
        out_path,
        checkpoint_dir,
    )


def streaming_lm_gate(
    spark: SparkSession,
    batch_docs_dir: str,
    vocab_path: str,
    stats_path: str,
    out_path: str,
    checkpoint_dir: str,
    keep_lo: float | None = None,
    keep_hi: float | None = None,
) -> None:
    """Streaming ingest scored against a FROZEN quality model: a
    file-source stream of arriving document batches, each micro-batch
    scored in ``foreachBatch`` by ``plans.quality.score_lm`` against
    the persisted unigram LM (``train_lm``'s vocab/stats written to
    parquet); verdict rows append to ``out_path``.

    The production shape for every model-artifact gate (perplexity
    filter, quality classifier, toxicity scorer): the model trains
    once batch-side, ingest streams against it — the model is read,
    never retrained per batch.  A doc's verdict depends only on its
    own tokens and the frozen LM, so the union of micro-batch outputs
    equals the one-shot batch scoring (the st07 oracle).
    ``availableNow`` drains the backlog then stops."""
    from ..plans.quality import LM_KEEP_HI, LM_KEEP_LO, score_lm

    # pin the frozen model frames ONCE: without the checkpoint every
    # micro-batch's scoring action re-scans (and re-broadcasts) the
    # vocab/stats parquets — model-artifact-sized, so pinning is O(V)
    # (the st11 qterms pattern)
    vocab = spark.read.parquet(vocab_path).localCheckpoint()
    stats = spark.read.parquet(stats_path).localCheckpoint()
    lo = LM_KEEP_LO if keep_lo is None else keep_lo
    hi = LM_KEEP_HI if keep_hi is None else keep_hi
    _append_stream(
        spark,
        batch_docs_dir,
        lambda batch_df: score_lm(batch_df, vocab, stats, lo, hi),
        out_path,
        checkpoint_dir,
    )


def streaming_bm25_scores(
    spark: SparkSession,
    batch_docs_dir: str,
    terms_path: str,
    scalars_path: str,
    qterms_path: str,
    out_path: str,
    checkpoint_dir: str,
    k1: float = 1.2,
    b: float = 0.75,
) -> None:
    """Streaming retrieval scoring against a FROZEN persisted BM25
    index: the term/scalar/query artifacts are built batch-side
    (operators.retrieval.bm25_index) and written to parquet; document
    batches arrive as a file-source stream and each micro-batch is
    scored in ``foreachBatch`` by the same kernel batch top-k uses
    (bm25_tf → bm25_score, all small sides broadcast); score rows
    append to ``out_path``.

    The production retrieval shape: the index refreshes on rebuild
    cadence while ingest streams against the frozen copy.  A doc's
    scores depend only on its own tokens and the frozen artifacts, so
    the union of micro-batch scores equals one-shot batch scoring —
    st11 ranks the appended scores and must hash-match x58's oracle.
    ``availableNow`` drains the backlog then stops."""
    from ..operators.retrieval import bm25_score, bm25_tf

    scalars = spark.read.parquet(scalars_path)
    qterms = spark.read.parquet(qterms_path).localCheckpoint()
    # prune the vocab-sized terms table to the batch's query tokens
    # ONCE, outside the micro-batch loop: bm25_score inner-joins
    # on qterms' tokens anyway, so the pruned frame is semantically
    # identical — but without it every micro-batch re-scanned and
    # re-broadcast the full terms parquet (guide §4.5's once-per-task
    # discipline applied at the micro-batch level).  The same token
    # set pre-filters each batch's tf AFTER dl is computed (dl must
    # count ALL of a doc's tokens), shrinking the scoring join's input
    # to O(postings of the query terms).
    qtoks = [r["token"] for r in qterms.select("token").distinct().collect()]
    terms = (
        spark.read.parquet(terms_path)
        .where(F.col("token").isin(qtoks))
        .localCheckpoint()
    )

    def score(batch_df: DataFrame) -> DataFrame:
        tf = bm25_tf(batch_df).where(F.col("token").isin(qtoks))
        return bm25_score(tf, terms, scalars, qterms, k1, b)

    _append_stream(spark, batch_docs_dir, score, out_path, checkpoint_dir)


def streaming_archive_ingest(
    spark: SparkSession,
    requests_dir: str,
    bronze_path: str,
    checkpoint_dir: str,
    fetcher=None,
    partitions: int | None = None,
) -> None:
    """S1 x T1: continuous archive ingestion — a file-source stream of
    (username, year, month) fetch REQUESTS; each micro-batch fans out
    through ``sources.tables.fetch_archives`` (hash-partitioned
    per-executor fetch, JVM-side declared-schema parse) and appends the
    parsed games to the bronze parquet layer.

    This is the reference's backfill loop (python_scripts.py:30-61, a
    sequential month loop on one machine) turned into the shape a
    standing crawl needs: requests arrive whenever, fetch parallelism =
    cluster width, exactly-once per request via the streaming
    checkpoint, and a fetch batch's output depends only on its own
    requests — so the union of micro-batch appends equals the one-shot
    batch fetch over all requests (the test's oracle).
    ``availableNow`` drains the backlog then stops."""
    from ..sources.tables import fetch_archives

    _append_stream(
        spark,
        requests_dir,
        lambda batch_df: fetch_archives(
            spark, batch_df, fetcher=fetcher, partitions=partitions
        ),
        bronze_path,
        checkpoint_dir,
    )


def streaming_sketch_merge(
    spark: SparkSession,
    batch_dir: str,
    cells_path: str,
    checkpoint_dir: str,
) -> None:
    """Incremental count-min-sketch maintenance: a file-source stream of
    (item) rows; each micro-batch builds its own D×W cell table from raw
    rows in ``foreachBatch`` (one pass, map-side-bounded — see
    operators/sketch.py) and APPENDS it to ``cells_path``.  The running
    sketch is the cellwise sum of every appended batch sketch.

    This is the streaming half of the CMS linearity property:
    sketch(∪ batches) = Σ_cells sketch(batch), so frequency monitoring
    over an unbounded stream keeps exactly D·W integers of state and
    never reprocesses history.  The checkpoint gives exactly-once per
    arriving file; the reader merges with one ≤D·W-row aggregation."""
    from ..operators.sketch import cms_cells

    _append_stream(spark, batch_dir, cms_cells, cells_path, checkpoint_dir)


def run_stream_to_memory(
    stream_df: DataFrame, table_name: str, output_mode: str = "complete"
) -> None:
    """Drain a streaming aggregate into an in-memory table with
    ``availableNow`` (process-everything-then-stop; see :func:`_drain`
    for the shuffle width it runs at)."""
    _drain(
        stream_df.sparkSession,
        stream_df.writeStream.format("memory")
        .queryName(table_name)
        .outputMode(output_mode),
    )


def streaming_ivf_pq_encode(
    spark: SparkSession,
    batch_vecs_dir: str,
    centroids: list,
    codebooks: list,
    out_path: str,
    checkpoint_dir: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    residual: bool = False,
) -> None:
    """Streaming ANN index ingest against FROZEN coarse + fine
    codebooks: vectors arrive as a file-source stream and every
    micro-batch is encoded by the exact batch corpus pass
    (operators.pq.ivf_pq_encode_corpus — cell argmin + PQ codes in one
    projection, zero joins), appending (id, cell, codes) rows to the
    code table.  The production ANN ingest shape: codebooks retrain on
    rebuild cadence while arrivals encode against the frozen pair —
    the IVF-PQ analog of the frozen BM25 index (streaming_bm25_scores)
    and the persisted LSH index (st06).

    A row's (cell, codes) is a pure per-row function of (vector,
    centroids, codebooks), so the union of micro-batch encodes equals
    the one-shot batch encode — st12 ranks queries over the appended
    codes and must hash-match x62's batch oracle."""
    from ..operators.pq import ivf_pq_corpus_encoder

    # the codebooks are FROZEN for the whole stream, so the encode
    # projection's Column trees (centroid argmin + M codebook argmin
    # lambdas — ~0.5 s of driver-side expression construction,
    # measured) are built ONCE here, not once per micro-batch (guide
    # §4's heavyweight-init-once discipline applied to plan
    # construction)
    encoder = ivf_pq_corpus_encoder(
        spark, centroids, codebooks, vec_col, id_col, residual
    )
    _append_stream(spark, batch_vecs_dir, encoder, out_path, checkpoint_dir)


def stage_events_by_time(events_path: str, out_dir: str, n_files: int = 4) -> int:
    """Split the events fixture into ``n_files`` time-ordered parquet
    FILES (plain files, not Spark output directories — what the file
    source actually lists), slice k strictly before slice k+1 in ``ts``
    and file mtimes increasing so the file source drains them oldest-
    first.  Boundaries fall BETWEEN distinct ts values, so equal
    timestamps always share a slice — the SCD2 merge's tie-breaks never
    straddle a batch boundary.  NULL-ts rows (none in the shipped
    fixtures, handled defensively) sort first, matching Spark's
    NULLS FIRST ascending order.  Works for both fixture ts flavors
    (timestamp[us] and TIMESTAMP(NANOS)-as-int64) — pyarrow sorts
    either.  Returns the number of files written."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    tbl = pq.read_table(events_path)
    order = pc.sort_indices(
        tbl, sort_keys=[("ts", "ascending")], null_placement="at_start"
    )
    tbl = tbl.take(order)
    n = tbl.num_rows
    os.makedirs(out_dir, exist_ok=True)
    cuts = [round(n * k / n_files) for k in range(1, n_files)]
    # push each cut forward past any run of equal ts values
    ts = tbl["ts"].to_pylist()
    adj = []
    for c in cuts:
        while 0 < c < n and ts[c] == ts[c - 1]:
            c += 1
        adj.append(min(c, n))
    bounds = [0] + adj + [n]
    written = 0
    now = time.time()
    for k in range(len(bounds) - 1):
        lo, hi = bounds[k], bounds[k + 1]
        if hi <= lo:
            continue
        path = os.path.join(out_dir, f"events_{written:03d}.parquet")
        pq.write_table(tbl.slice(lo, hi - lo), path)
        os.utime(path, (now + written, now + written))
        written += 1
    return written


def run_streaming_scd2(
    spark: SparkSession,
    events_dir: str,
    dim_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    n_buckets: int = 16,
) -> None:
    """Streaming Type-2 SCD maintenance: each micro-batch of events
    merges into the on-disk dimension-history table so that after any
    prefix of batches the table equals the batch SCD2 (q25) over the
    events seen so far.

    Merge kernel (foreachBatch): the table's version rows ARE the
    collapsed run-start events of all prior history, so re-collapsing
    (affected users' version rows ∪ batch events) with the same
    lag/lead windows reproduces the batch build exactly — no user's
    full event history is ever re-read.  Per batch the work is
    O(batch + affected users' version rows): untouched users' rows are
    never recomputed.

    Partition-scoped carry-over: the table lives hash-
    bucketed by user (``__bucket = pmod(xxhash64(user_id), n_buckets)``
    — layout only, dropped by readers), and a batch rewrites ONLY the
    buckets its users hash into: the state scan partition-prunes to
    those buckets, the carry-over anti-join runs inside them, and
    dynamic partition overwrite replaces just those directories —
    untouched buckets' files are not rewritten (pinned by
    test_streaming_scd2_untouched_buckets' mtime check).  At a 100 TB
    dim a batch costs O(its buckets), not O(table).  Affected users are
    matched NULL-SAFELY (eqNullSafe): NULL user ids are real data (the
    null probe injects them), hash to a real bucket, and must re-
    collapse against their prior versions like any user.

    Crash atomicity: the bucket swap is
    a two-phase stage/intent/rename commit (operators/commit.py, the
    package's one in-place rewrite protocol).  The batch
    stages its recomputed buckets to a reader-hidden sibling, records an
    intent, then swaps per-bucket by rename; every merge batch first
    runs :func:`recover_pending_swaps`, so a crash at ANY point either
    leaves the live table untouched (pre-intent — the replayed batch
    restages over its own leftovers) or is completed exactly before
    state is re-read (post-intent).  No bucket is ever observable
    empty; pinned by test_streaming_scd2_crash_replay.

    Layout persistence: ``n_buckets`` is written once as a
    hidden marker file beside the table and asserted on every later
    run — a resume with a different ``n_buckets`` raises instead of
    silently pruning the wrong partitions and duplicating history.

    In-order contract: a batch's events must not precede any already-
    merged event of the same user (stage_events_by_time's global time
    slicing guarantees it; equal timestamps never straddle batches).
    The run-start event_id is carried in the state table (__event_id)
    so (ts, event_id) tie-breaks survive the round-trip.

    Reference parity: the reference rebuilds its dims truncate-reload
    per month (create_dim_*.sql via load_data_warehouse_dag.py); this
    is the incremental history-preserving form of the same dim
    maintenance."""
    from ..operators.commit import (
        has_partition_dirs,
        read_int_marker,
        recover_pending_swaps,
        two_phase_partition_overwrite,
        write_int_marker,
    )

    _NB_MARKER = "._meta_nbuckets_"
    persisted = read_int_marker(spark, dim_path, _NB_MARKER)
    if persisted is None:
        write_int_marker(spark, dim_path, _NB_MARKER, n_buckets)
    elif persisted != n_buckets:
        raise ValueError(
            f"run_streaming_scd2: dim table at {dim_path} was laid out "
            f"with n_buckets={persisted} but this run asked for "
            f"{n_buckets}; honoring the parameter would prune the wrong "
            f"partitions and silently duplicate history. Pass "
            f"n_buckets={persisted} (or rebuild the table)."
        )

    stream = _events_stream(spark, events_dir, max_files_per_trigger)

    def bucket_of(col: Column) -> Column:
        # xxhash64(NULL) is the seed hash (non-NULL), so NULL users get
        # a real, stable bucket; pmod keeps negatives non-negative
        return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        # NULL event_type carries no dimension signal and is EXCLUDED
        # (q25's contract).  Not just hygiene: a NULL-type row passes
        # through the lag collapse as a run BREAKER without becoming a
        # run START, so keeping them makes the version rows an
        # insufficient statistic and stream ≠ batch (the null probe).
        b = batch_df.select("user_id", "event_type", "ts", "event_id").where(
            F.col("event_type").isNotNull()
        )
        # finish any swap a previous attempt crashed mid-commit BEFORE
        # reading state — the replay then sees the post-merge table
        recover_pending_swaps(spark, dim_path)
        if has_partition_dirs(spark, dim_path):
            affected = b.select("user_id").distinct().localCheckpoint()
            # the batch's rewrite set: ≤ n_buckets ids, driver-sized
            # by construction
            buckets = sorted(
                r["__b"]
                for r in affected.select(
                    bucket_of(F.col("user_id")).alias("__b")
                )
                .distinct()
                .collect()
            )
            # partition pruning: only the affected buckets are read
            state = (
                spark.read.parquet(dim_path)
                .where(F.col("__bucket").isin(buckets))
                .drop("__bucket")
            )
            match = F.col("s.user_id").eqNullSafe(F.col("a.user_id"))
            keep = state.alias("s").join(
                affected.alias("a"), match, "left_anti"
            )
            prior = (
                state.alias("s")
                .join(affected.alias("a"), match, "left_semi")
                .select(
                    "user_id",
                    F.col("attr_value").alias("event_type"),
                    F.col("valid_from").alias("ts"),
                    F.col("__event_id").alias("event_id"),
                )
            )
            combined = prior.unionByName(b)
        else:
            keep = None
            combined = b
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        runs = (
            combined.withColumn("prev_type", F.lag("event_type").over(w))
            .where(
                F.col("prev_type").isNull()
                | (F.col("prev_type") != F.col("event_type"))
            )
            .drop("prev_type")
        )
        versions = runs.select(
            "user_id",
            F.col("event_type").alias("attr_value"),
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
            F.lead("ts").over(w).isNull().alias("is_current"),
            F.col("event_id").alias("__event_id"),
        )
        if keep is not None:
            versions = keep.unionByName(versions)
        out = versions.withColumn("__bucket", bucket_of(F.col("user_id")))
        # two-phase commit: stage ONLY the buckets present in `out`
        # (= the affected buckets, plus every bucket on first write) to
        # a reader-hidden sibling, then swap them live by rename — the
        # live dirs are read during staging and touched only after the
        # staged copy is complete, so no pin is needed and no crash
        # point loses a bucket (recover_pending_swaps above)
        two_phase_partition_overwrite(
            spark, out, dim_path, ["__bucket"], token=f"b{batch_id}"
        )

    _drain(
        spark,
        stream.writeStream.foreachBatch(merge_batch).option(
            "checkpointLocation", checkpoint_dir
        ),
    )
