"""The package's one in-place rewrite protocol for partitioned parquet
tables — a crash-atomic two-phase stage/intent/rename commit — and its
one home for Hadoop FileSystem work: the FS handle, the checked rename
and the table walk.

Gold's month swap (plans/gold.py::land_gold), the streaming SCD2 dim's
bucket swap and compaction / z-order maintenance (operators/compact.py)
all land here.  Rewriting a partition dir in place (Spark's dynamic
partition overwrite) deletes it before the new files exist: a crash in
between leaves it empty, and a foreachBatch replay then rebuilds it
from the batch's rows alone, silently losing its prior history.

- **Phase 1 (stage):** write the replacement content of the affected
  partitions under ``{table}/.staged_{token}`` (one partitioned frame,
  or one frame per leaf at ``{staged}/{rel}``) — a dot-prefixed dir
  Spark's listing hides from every reader.  :func:`commit_staged` then
  drop-marks the rewrite-set partitions the batch emptied (empty dirs
  under ``.staged_{token}/_drops/``) and creates the intent file
  ``{table}/._swap_intent_{token}``.  A crash in phase 1 leaves the
  live table as it was; the replay re-stages under the same token.
- **Phase 2 (swap):** per staged leaf: delete the live dir, rename the
  staged one in; then delete each drop-marked live dir and any parent
  it left empty; then remove the staging root and the intent.  Every
  step is skip-if-already-done, so :func:`recover_pending_swaps`,
  called before any read of the table, resumes a crashed phase 2
  exactly (the intent means staging completed against the pre-swap
  state).

Directory renames are atomic on HDFS and POSIX filesystems; object
stores without atomic rename need their committer or a transactional
table format.  All metadata goes through the Hadoop FS API, so
scheme-prefixed roots (viewfs://, hdfs://) behave like file://.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession

from ..sources.tables import _hidden_path

_INTENT = "._swap_intent_"
_STAGED = ".staged_"
# Spark's dir name for a NULL partition value; integer and plain string
# values are written as they are
_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def hadoop_fs(spark: SparkSession, path: str):
    """(Hadoop ``Path`` class, the ``FileSystem`` of ``path``)."""
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    P = jvm.org.apache.hadoop.fs.Path
    return P, P(path).getFileSystem(hconf)


def rename_or_die(fs, src, dst) -> None:
    """``fs.rename``, raising where the FileSystem returns False (a
    missing source, an existing destination) instead of throwing."""
    if not fs.rename(src, dst):
        raise IOError(f"rename failed: {src} -> {dst}")


def walk_table(fs, root) -> list[tuple[str, list]]:
    """``(rel, data files)`` for every dir under the Hadoop Path
    ``root`` (itself as rel ``''``) that holds data files or has no
    visible subdir.  Spark's hidden-path rule (sources/tables.py::_hidden_path)
    skips staging roots, intents, drop markers, ``_SUCCESS`` and
    checksums.  A staged dir whose leaf was renamed out has no files,
    so phase 2 does not mistake it for a leaf."""
    out: list[tuple[str, list]] = []

    def rec(path, rel):
        kids = [
            k
            for k in fs.listStatus(path)
            if not _hidden_path(k.getPath().getName())
        ]
        dirs = [k.getPath() for k in kids if k.isDirectory()]
        for d in dirs:
            rec(d, f"{rel}/{d.getName()}" if rel else d.getName())
        files = [k for k in kids if k.isFile()]
        if files or not dirs:
            out.append((rel, files))

    rec(root, "")
    return out


def has_partition_dirs(spark: SparkSession, table_path: str) -> bool:
    """True when the live table has at least one ``col=value`` partition
    directory.  The existence check for two-phase-maintained tables —
    ``fs_exists`` on the root is wrong here because markers, intents and
    staging leftovers create the root before any data goes live."""
    P, fs = hadoop_fs(spark, table_path)
    root = P(table_path.rstrip("/"))
    if not fs.exists(root):
        return False
    return any(
        "=" in st.getPath().getName() and st.isDirectory()
        for st in fs.listStatus(root)
    )


def staged_root(table_path: str, token: str) -> str:
    """The reader-hidden dir phase 1 writes swap ``token``'s content to."""
    return f"{table_path.rstrip('/')}/{_STAGED}{token}"


def _finish_swap(spark: SparkSession, table_path: str, token: str) -> None:
    """Phase 2: swap staged partition dirs live, apply drops, clear the
    intent.  Idempotent at every step — safe to re-run after a crash at
    any point."""
    P, fs = hadoop_fs(spark, table_path)
    root = table_path.rstrip("/")
    staged = staged_root(root, token)
    if fs.exists(P(staged)):
        for rel, files in walk_table(fs, P(staged)):
            if not (rel and files):
                continue
            dst = P(f"{root}/{rel}")
            fs.delete(dst, True)
            fs.mkdirs(dst.getParent())
            rename_or_die(fs, P(f"{staged}/{rel}"), dst)
        drops = P(f"{staged}/_drops")
        if fs.exists(drops):
            for rel, _ in walk_table(fs, drops):
                if not rel:
                    continue
                live = P(f"{root}/{rel}")
                fs.delete(live, True)
                # a parent the drop emptied (year=Y after its last
                # month) holds no partition; has_partition_dirs must
                # not count it
                parent = live.getParent()
                for _ in range(rel.count("/")):
                    if fs.exists(parent) and len(fs.listStatus(parent)):
                        break
                    fs.delete(parent, False)
                    parent = parent.getParent()
        fs.delete(P(staged), True)
    fs.delete(P(f"{root}/{_INTENT}{token}"), False)


def recover_pending_swaps(spark: SparkSession, table_path: str) -> list[str]:
    """Finish any swap that crashed mid-phase-2 (intent present) and
    clear staging leftovers from pre-intent crashes (no intent — the
    checkpoint replay re-stages them from scratch).  Runs before every
    merge batch and before the table is read; returns finished tokens."""
    P, fs = hadoop_fs(spark, table_path)
    root = P(table_path.rstrip("/"))
    if not fs.exists(root):
        return []
    names = [st.getPath().getName() for st in fs.listStatus(root)]
    tokens = [n[len(_INTENT) :] for n in names if n.startswith(_INTENT)]
    for t in tokens:
        _finish_swap(spark, table_path, t)
    for n in names:
        if n.startswith(_STAGED) and n[len(_STAGED) :] not in tokens:
            fs.delete(P(f"{table_path.rstrip('/')}/{n}"), True)
    return tokens


def commit_staged(
    spark: SparkSession,
    table_path: str,
    token: str,
    rewrite_set: Iterable[str] = (),
) -> None:
    """Commit the content staged at :func:`staged_root`: drop-mark each
    partition of ``rewrite_set`` (relative leaf paths) that was not
    staged, write the intent, then run phase 2.  The staged leaf dirs
    tell which partitions were filled, so that takes a listing, not a
    Spark job."""
    P, fs = hadoop_fs(spark, table_path)
    staged = staged_root(table_path, token)
    drops = set(rewrite_set)
    if drops:
        drops -= {rel for rel, files in walk_table(fs, P(staged)) if files}
    for rel in drops:
        fs.mkdirs(P(f"{staged}/_drops/{rel}"))
    fs.createNewFile(P(f"{table_path.rstrip('/')}/{_INTENT}{token}"))
    _finish_swap(spark, table_path, token)


def two_phase_partition_overwrite(
    spark: SparkSession,
    df: DataFrame,
    table_path: str,
    partition_cols: list[str],
    token: str,
    rewrite_set: Iterable[tuple] = (),
) -> None:
    """Crash-atomic replacement of exactly the partitions present in
    ``df``: stage it partitioned by ``partition_cols``, then
    :func:`commit_staged`.  ``rewrite_set`` holds the partition value
    tuples (in ``partition_cols`` order) the caller rewrites; each one
    ``df`` has no rows for — a partition the batch emptied — is dropped
    in the same phase 2.

    ``token`` must be deterministic per batch (the micro-batch id): a
    replay after a pre-intent crash restages over its own leftovers; a
    replay after the intent finds phase 2 completed or completable by
    :func:`recover_pending_swaps` before it re-reads state."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(
        staged_root(table_path, token)
    )
    commit_staged(
        spark,
        table_path,
        token,
        [
            "/".join(
                f"{c}={_NULL_PARTITION if v is None else v}"
                for c, v in zip(partition_cols, values)
            )
            for values in rewrite_set
        ],
    )


def read_int_marker(
    spark: SparkSession, table_path: str, prefix: str
) -> int | None:
    """Read a layout parameter persisted as an empty dot-file
    ``{prefix}{value}`` in the table root (hidden from readers), or
    None if the table carries no marker."""
    P, fs = hadoop_fs(spark, table_path)
    root = P(table_path.rstrip("/"))
    if not fs.exists(root):
        return None
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if name.startswith(prefix):
            return int(name[len(prefix) :])
    return None


def write_int_marker(
    spark: SparkSession, table_path: str, prefix: str, value: int
) -> None:
    P, fs = hadoop_fs(spark, table_path)
    root = table_path.rstrip("/")
    fs.mkdirs(P(root))
    fs.createNewFile(P(f"{root}/{prefix}{value}"))
