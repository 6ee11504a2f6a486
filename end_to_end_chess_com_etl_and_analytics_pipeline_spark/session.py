"""SparkSession factory.

One place for every engine-level knob so tests, bench, the driver entry
point, and production all run the same configuration.  The reference runs
embedded DuckDB per Airflow task (python_scripts.py:106) — single node,
in-memory, no spill story.  Here the equivalent decisions are Spark confs:
AQE for runtime re-planning (skew joins, partition coalescing), Arrow for
any pandas interop, UTC session timezone so timestamp semantics match the
DuckDB oracle bit-for-bit, and shuffle partitions sized to the local core
count (re-size to ~2-3× total cores on a real cluster).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import threading
from concurrent.futures import ThreadPoolExecutor
from contextlib import ExitStack, contextmanager
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# generated classes the JVM keeps compiled; see get_spark
CODEGEN_CACHE_ENTRIES = 2000

# serializes cached_column's check-then-build — it is called from
# run_concurrently's pool threads
_EXPR_CACHE_LOCK = threading.Lock()


@contextmanager
def conf_scope(spark: SparkSession, key: str, value: str):
    """Set one session conf for the ``with`` body only.

    On exit — normal or raised — the caller's value is put back, or the
    key is unset if the caller had not set it.  Session conf is global
    to every thread and query, so a library function must not leave its
    own setting behind; this is the package's one place that writes
    session conf (a guard test keeps it that way).
    """
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


@contextmanager
def job_description(spark: SparkSession, text: str):
    """Describe the jobs the ``with`` body runs on this thread as
    ``text`` (``spark.job.description``, kept per job in the status
    store).  On exit — normal or raised — the thread's previous
    description is put back.  A caller's job group is left as it is."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(text)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", prev)


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Driver-local rows → DataFrame through the Arrow path.

    ``spark.createDataFrame(list, schema)`` keeps the data as PICKLED
    PYTHON OBJECTS: every later action on the plan (a broadcast, a tiny
    parquet write, a noop) spins up a Python worker to deserialize the
    rows — measured at 1–6 s of fixed cost PER ACTION on this harness
    (thread dump: the write task blocked in
    ``BasePythonRunner$ReaderInputStream.read``).  A ``pyarrow.Table``
    moves the data into the JVM ONCE at creation, whatever the
    session's Arrow conf says; the same 64-row codebook-map write drops
    from 6.2 s to 0.15 s.

    Each column is built with the arrow type of the declared ``schema``
    field, so Python floats land in float64 bit-exactly and NULLs stay
    NULL; a naive ``datetime`` is read as UTC.  Rows may be tuples or
    pyspark Rows (anything positionally indexable).
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType, _parse_datatype_string

    st = schema if isinstance(schema, StructType) else _parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(st)
    rows = list(rows)
    table = pa.Table.from_arrays(
        [
            pa.array([r[i] for r in rows], type=field.type)
            for i, field in enumerate(arrow_schema)
        ],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema=st)


@contextmanager
def scratch_dir(prefix: str):
    """A fresh ``tempfile.mkdtemp`` directory (so ``TMPDIR`` applies)
    for one query's artifacts, removed on exit — normal or raised.  A
    frame reading from it must be materialized (``localCheckpoint``, a
    memory-sink table) inside the ``with`` body.  :func:`persisted_index`
    holds one open per registered index.  The package's one creator of
    scratch space (a guard test keeps it that way)."""
    path = tempfile.mkdtemp(prefix=prefix)
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)


def run_concurrently(*actions) -> None:
    """Run independent Spark actions (zero-argument callables) at once
    and wait for all of them; the first failure is raised.  Small
    artifact writes then overlap a large one instead of queueing behind
    it.  Each action runs under ``inheritable_thread_target``
    so its jobs keep the caller's job group and local properties — a
    pool thread is a fresh JVM thread that would otherwise lose them."""
    from pyspark import inheritable_thread_target

    wrap = inheritable_thread_target(SparkSession.active())
    with ThreadPoolExecutor(max_workers=len(actions)) as pool:
        futures = [pool.submit(wrap(action)) for action in actions]
        for future in futures:
            future.result()


_EXPR_CACHE = None  # weakref.WeakKeyDictionary[SparkSession, dict]
_EXPR_CACHE_MAX = 64  # per-session entries; see cached_column docstring


def cached_column(spark: SparkSession, key: tuple, builder):
    """Memoize a PURE Column-expression tree per SparkSession.

    Constructing a deep expression tree costs one py4j round trip per
    node (~1-3 ms each; the 16-seed MinHash tree measured 0.3-0.4 s to
    BUILD per call) and the constructors are pure functions of their
    key — same key, same tree.  Column objects are immutable and
    plan-independent (they reference columns by NAME), so one tree can
    be embedded in any number of plans; the pq encoder factories
    already rely on exactly this reuse across micro-batch plans.  This
    caches expression STRUCTURE only — never data, never results: every
    action still computes from its inputs.

    Keyed weakly by the SparkSession so a stopped/replaced session
    (whose JVM object handles would be stale) simply misses and
    rebuilds.  ``builder`` takes no arguments and may return a Column
    or a tuple of Columns.

    Bounded and thread-safe: entries are value-keyed (PQ encoders key
    on full codebook values), so a session that retrains models forever
    would otherwise accumulate one large Python+py4j tree per distinct
    model; past ``_EXPR_CACHE_MAX`` entries the oldest-inserted entry is
    evicted (insertion-order FIFO — the working set per session is a
    handful of frozen-model trees, so recency bookkeeping would be
    ceremony).  The lock guards the lazy init and the dict, never the
    build: a slow builder must not stall other keys' lookups or builds.
    Two callers racing on one missing key both build; the first insert
    wins and both return it.
    """
    global _EXPR_CACHE
    with _EXPR_CACHE_LOCK:
        if _EXPR_CACHE is None:
            import weakref

            _EXPR_CACHE = weakref.WeakKeyDictionary()
        per_session = _EXPR_CACHE.setdefault(spark, {})
        if key in per_session:
            return per_session[key]
    built = builder()
    with _EXPR_CACHE_LOCK:
        if key not in per_session:
            if len(per_session) >= _EXPR_CACHE_MAX:
                per_session.pop(next(iter(per_session)))
            per_session[key] = built
        return per_session[key]


class _Index(NamedTuple):
    fingerprint: tuple
    root: str
    model: object
    scope: ExitStack  # holds the root's scratch_dir open


_INDEXES = None  # weakref.WeakKeyDictionary[SparkSession, dict[slot, _Index]]
_INDEX_LOCK = threading.Lock()


def _input_fingerprint(spark: SparkSession, paths) -> tuple:
    """(path, length, modification time) of every data file under
    ``paths``, listed through the Hadoop FS like the commit protocol's
    table walk."""
    from .operators.commit import hadoop_fs, walk_table

    out = []
    for path in paths:
        P, fs = hadoop_fs(spark, path)
        for _rel, files in walk_table(fs, P(path)):
            out += [
                (f.getPath().toString(), f.getLen(), f.getModificationTime())
                for f in files
            ]
    return tuple(out)


def _root_exists(spark: SparkSession, root: str) -> bool:
    from .operators.commit import hadoop_fs

    P, fs = hadoop_fs(spark, root)
    return fs.exists(P(root))


def persisted_index(
    spark: SparkSession, kind: str, consts: tuple, inputs, build
) -> tuple[str, object]:
    """``(root, model)`` of the index ``kind`` built with the constants
    ``consts`` over the data files under ``inputs``, built once per
    session and then served.

    ``build(root)`` writes the index artifacts under ``root`` and
    returns the driver-sized model a server needs besides them
    (centroids, codebooks, a term ranking) — never a query result.  The
    registry keeps one entry per (kind, consts, inputs), valid while
    the inputs' fingerprint (every data file's path, length and
    modification time) is unchanged and its root exists; otherwise the
    next call rebuilds into a fresh ``scratch_dir`` root and removes the
    stale one.  So the first call costs a build and later calls only
    the listing; a frame read from ``root`` must be materialized before
    a later call could replace it.

    Keyed weakly by the SparkSession, like :func:`cached_column`.  The
    build runs outside the lock: two callers racing on one missing key
    both build, the first insert wins, both get its root, and the
    loser's root is removed.  :func:`release_indexes` removes roots
    early; the rest go at interpreter exit."""
    global _INDEXES
    slot = (kind, consts, tuple(inputs))
    fingerprint = _input_fingerprint(spark, inputs)
    with _INDEX_LOCK:
        if _INDEXES is None:
            import atexit
            import weakref

            _INDEXES = weakref.WeakKeyDictionary()
            atexit.register(release_indexes)
        per_session = _INDEXES.setdefault(spark, {})
        entry = per_session.get(slot)
    if (
        entry is not None
        and entry.fingerprint == fingerprint
        and _root_exists(spark, entry.root)
    ):
        return entry.root, entry.model
    with ExitStack() as scope:
        root = scope.enter_context(scratch_dir(f"{kind}_index_"))
        model = build(root)
        built = _Index(fingerprint, root, model, scope.pop_all())
    with _INDEX_LOCK:
        # re-fetched: release_indexes may have dropped the session's dict
        per_session = _INDEXES.setdefault(spark, {})
        current = per_session.get(slot)
        if (
            current is not None
            and current is not entry
            and current.fingerprint == fingerprint
        ):
            # another caller inserted this key while we built
            winner, loser = current, built
        else:
            per_session[slot] = winner = built
            loser = current
    if loser is not None:
        loser.scope.close()
    return winner.root, winner.model


def index_roots(spark: SparkSession) -> list[str]:
    """The roots of ``spark``'s live registry entries."""
    with _INDEX_LOCK:
        return [e.root for e in (_INDEXES or {}).get(spark, {}).values()]


def release_indexes(spark: SparkSession | None = None) -> None:
    """Drop ``spark``'s registry entries (every session's when None)
    and remove their roots; the next call of each index rebuilds."""
    with _INDEX_LOCK:
        sessions = [spark] if spark is not None else list(_INDEXES or {})
        entries = [
            e
            for s in sessions
            for e in (_INDEXES or {}).pop(s, {}).values()
        ]
    for e in entries:
        e.scope.close()


def get_spark(
    app_name: str = "chess-analytics-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Designed for 100 TB scale: every setting here is either scale-neutral
    or a local stand-in for a cluster conf (driver.memory only matters in
    local mode; on a cluster the same code runs under spark-submit confs).

    The codegen cache holds ``CODEGEN_CACHE_ENTRIES`` generated classes,
    not Spark's default 100.  A monthly re-pull (stream, warehouse load,
    four dashboards) uses about 135 classes and a corpus pass about 210,
    so at 100 the LRU evicts each class before its next use: every warm
    re-pull re-ran 134-135 Janino compiles, 1.3-1.6 s of a 4-core box's
    op time, and a corpus pass 206-211.  At 2000 the same re-pull
    compiles 4 classes (those whose inlined literals changed) and a
    corpus pass none.  A class is a few KB of metaspace.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # match local parallelism; on a real cluster: 2-3x total cores
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # AQE: runtime partition coalescing, skew-join splitting, plan re-opt
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # deterministic timestamp semantics (match DuckDB oracle / UTC lake)
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for pandas_udf / toPandas interop (the only sanctioned
        # python<->jvm data path; never row-at-a-time)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # dims here are tiny (≤ a few thousand rows); raise the auto
        # broadcast bar so every dim join is a broadcast hash join
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # static: read once, when the JVM first generates code
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
