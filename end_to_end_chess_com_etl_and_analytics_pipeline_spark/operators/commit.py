"""Crash-atomic partition overwrite: a two-phase stage/intent/rename
commit for partitioned parquet tables maintained in place.

Spark's dynamic partition overwrite deletes and rewrites the affected
partition directories directly in the live table; a crash mid-swap can
leave an affected partition empty, and a foreachBatch checkpoint replay
then rebuilds that partition from the batch's rows alone — silently
losing its prior history (the streaming SCD2 and incremental-gold
sinks both replay that way).  This module applies the same two-phase
protocol ``bm25_refresh_index`` uses for its index artifacts
(operators/retrieval.py) to arbitrary partitioned tables:

- **Phase 1 (stage):** write the batch's full replacement content for
  the affected partitions to ``{table}/.staged_{token}`` — a
  dot-prefixed sibling Spark's file listing hides from every reader of
  the live table — then record partition directories to DROP (the
  caller's rewrite-set partitions the batch emptied, which dynamic
  overwrite cannot express) as empty marker dirs under
  ``.staged_{token}/_drops/``, and finally create the intent file
  ``{table}/._swap_intent_{token}``.  Nothing live is touched; a crash
  anywhere in phase 1 leaves the live table exactly as it was, and the
  checkpoint replay re-stages under the same deterministic token with
  ``mode("overwrite")``, clobbering the leftovers.
- **Phase 2 (swap):** per staged partition directory: delete the live
  directory, rename the staged one in; then delete each drop-marked
  live directory; then remove the staging root and the intent.  Every
  step is skip-if-already-done, so :func:`recover_pending_swaps` —
  called before any read of the table — resumes a crashed phase 2
  exactly (the intent file means staging completed against the
  pre-swap state, so replaying the renames is correct).

Directory renames are atomic on HDFS and POSIX filesystems; object
stores without atomic rename need their committer or a transactional
table format instead — the same caveat the BM25 index carries.  All
metadata goes through the Hadoop FS API so scheme-prefixed table roots
(viewfs://, hdfs://) behave exactly like file:// (the fs_exists lesson,
sources/tables.py:273).
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession

_INTENT = "._swap_intent_"
_STAGED = ".staged_"
# Spark's dir name for a NULL partition value; integer and plain string
# values are written as they are
_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _fs(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    P = jvm.org.apache.hadoop.fs.Path
    return P, P(path).getFileSystem(hconf)


def has_partition_dirs(spark: SparkSession, table_path: str) -> bool:
    """True when the live table has at least one ``col=value`` partition
    directory.  The existence check for two-phase-maintained tables —
    ``fs_exists`` on the root is wrong here because markers, intents and
    staging leftovers create the root before any data goes live."""
    P, fs = _fs(spark, table_path)
    root = P(table_path.rstrip("/"))
    if not fs.exists(root):
        return False
    return any(
        "=" in st.getPath().getName() and st.isDirectory()
        for st in fs.listStatus(root)
    )


def _leaf_partitions(fs, P, root, require_files: bool) -> list[str]:
    """Relative paths of the leaf partition dirs under ``root`` —
    every path component contains ``=``; a leaf has no ``=`` subdirs.
    ``require_files`` guards phase-2 idempotency: after a leaf is
    renamed out, its now-empty parent must not be mistaken for a leaf
    (it would clobber the live parent); drop markers are legitimately
    empty, so the drops walk disables the guard."""
    out: list[str] = []

    def rec(path, rel):
        kids = list(fs.listStatus(path))
        subparts = [
            k
            for k in kids
            if k.isDirectory() and "=" in k.getPath().getName()
        ]
        if subparts:
            for k in subparts:
                name = k.getPath().getName()
                rec(k.getPath(), f"{rel}/{name}" if rel else name)
        elif rel and (not require_files or any(k.isFile() for k in kids)):
            out.append(rel)

    rec(root, "")
    return out


def _rename_or_die(fs, src, dst) -> None:
    if not fs.rename(src, dst):
        raise IOError(f"partition swap rename failed: {src} -> {dst}")


def _finish_swap(spark: SparkSession, table_path: str, token: str) -> None:
    """Phase 2: swap staged partition dirs live, apply drops, clear the
    intent.  Idempotent at every step — safe to re-run after a crash at
    any point."""
    P, fs = _fs(spark, table_path)
    root = table_path.rstrip("/")
    staged = P(f"{root}/{_STAGED}{token}")
    if fs.exists(staged):
        drops_root = P(f"{root}/{_STAGED}{token}/_drops")
        if fs.exists(drops_root):
            for rel in _leaf_partitions(fs, P, drops_root, False):
                live = P(f"{root}/{rel}")
                if fs.exists(live):
                    fs.delete(live, True)
        for rel in _leaf_partitions(fs, P, staged, True):
            src = P(f"{root}/{_STAGED}{token}/{rel}")
            dst = P(f"{root}/{rel}")
            if fs.exists(dst):
                fs.delete(dst, True)
            parent = dst.getParent()
            if not fs.exists(parent):
                fs.mkdirs(parent)
            _rename_or_die(fs, src, dst)
        fs.delete(staged, True)
    fs.delete(P(f"{root}/{_INTENT}{token}"), False)


def recover_pending_swaps(spark: SparkSession, table_path: str) -> list[str]:
    """Finish any swap that crashed mid-phase-2 (intent present) and
    clear staging leftovers from pre-intent crashes (no intent — the
    checkpoint replay re-stages them from scratch).  Runs before every
    merge batch and before the table is read; returns finished tokens."""
    P, fs = _fs(spark, table_path)
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


def two_phase_partition_overwrite(
    spark: SparkSession,
    df: DataFrame,
    table_path: str,
    partition_cols: list[str],
    token: str,
    rewrite_set: Iterable[tuple] = (),
) -> None:
    """Crash-atomic replacement of exactly the partitions present in
    ``df``.  ``rewrite_set`` holds the partition value tuples (in
    ``partition_cols`` order) the caller rewrites; each one ``df`` has no
    rows for — a partition the batch emptied, which dynamic overwrite
    cannot express — is dropped in the same phase 2.  The staged leaf
    dirs tell which partitions ``df`` filled, so working that out takes
    a listing, not a Spark job.

    ``token`` must be deterministic per batch (the micro-batch id): a
    replay after a pre-intent crash restages over its own leftovers; a
    replay after the intent finds phase 2 completed or completable by
    :func:`recover_pending_swaps` before it re-reads state."""
    P, fs = _fs(spark, table_path)
    root = table_path.rstrip("/")
    staged = f"{root}/{_STAGED}{token}"
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(staged)
    drops = {
        "/".join(
            f"{c}={_NULL_PARTITION if v is None else v}"
            for c, v in zip(partition_cols, values)
        )
        for values in rewrite_set
    }
    if drops:
        drops -= set(_leaf_partitions(fs, P, P(staged), True))
    for rel in drops:
        fs.mkdirs(P(f"{staged}/_drops/{rel}"))
    fs.createNewFile(P(f"{root}/{_INTENT}{token}"))
    _finish_swap(spark, table_path, token)


def read_int_marker(
    spark: SparkSession, table_path: str, prefix: str
) -> int | None:
    """Read a layout parameter persisted as an empty dot-file
    ``{prefix}{value}`` in the table root (hidden from readers), or
    None if the table carries no marker."""
    P, fs = _fs(spark, table_path)
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
    P, fs = _fs(spark, table_path)
    root = table_path.rstrip("/")
    fs.mkdirs(P(root))
    fs.createNewFile(P(f"{root}/{prefix}{value}"))
