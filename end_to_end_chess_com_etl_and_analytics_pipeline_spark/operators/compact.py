"""Small-file compaction for partitioned parquet tables.

The 100 TB problem: incremental writers (streaming foreachBatch, a
micro-batch per arriving month, speculative retries) leave partitions
holding hundreds of KB-sized files; every later scan pays one task +
one footer read per file, and the driver pays listing time linear in
file count.  Compaction is the lakehouse maintenance op that bin-packs
each partition back to target-sized files (Delta OPTIMIZE / Iceberg
rewrite_data_files do exactly this).

Spark-first shape:

- file statistics come from the FileSystem API (driver-side listing of
  partition directories — metadata, never data);
- only partitions whose file count exceeds the target are rewritten
  (an already-compact partition is untouched — rewriting it would
  churn downstream caches and cost a full partition IO for nothing);
- each selected partition is rewritten through ONE narrow
  ``coalesce(ceil(bytes / target))`` pass — coalesce, not
  repartition: compaction must not shuffle, it only merges read
  splits into fewer write tasks;
- the rewritten partitions land through operators/commit.py: each is
  staged under one reader-hidden root and all are swapped in by one
  crash-atomic commit, so readers see each partition entirely old or
  entirely new, a crash leaves a swap that ``recover_pending_swaps``
  finishes, and untouched partitions are never disturbed.

Used with `sources.tables.write_parquet` partitioned layouts; pinned
by tests/test_layout.py (file count shrinks to the bin-packed target,
bytes within tolerance, data identical, untouched partitions keep
their files, staging leftovers and a crashed swap).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from ..session import local_df
from . import commit

DEFAULT_TARGET_BYTES = 128 * 1024 * 1024  # the classic HDFS-block target
# every compaction stages under one token: recover_pending_swaps, run
# first, finishes or clears a crashed one before the table is listed
_TOKEN = "compact"


def _target_files(total_bytes: int, target_bytes: int) -> int:
    return max(1, math.ceil(total_bytes / target_bytes))


def partition_file_stats(
    spark: SparkSession, path: str
) -> list[tuple[str, int, int]]:
    """(partition_rel_path, n_files, total_bytes) per directory of a
    parquet table that holds data files — driver-side FileSystem
    metadata only, through commit.walk_table, so hidden dirs (staging
    leftovers among them) are never counted.  For an unpartitioned
    table, one entry with rel_path ''.  Data files sitting next to
    partition subdirs (an unpartitioned writer raced a partitioned one)
    are fragmentation too and get their own entry."""
    P, fs = commit.hadoop_fs(spark, path)
    return [
        (rel, len(files), sum(f.getLen() for f in files))
        for rel, files in commit.walk_table(fs, P(path))
        if files
    ]


def _coalesced(df: DataFrame, dest: str, n_files: int) -> None:
    df.coalesce(n_files).write.mode("overwrite").parquet(dest)


def _rewrite_fragmented(
    spark: SparkSession,
    path: str,
    partition_by: list[str],
    target_bytes: int,
    min_files: int,
    write,
) -> tuple[list[tuple[str, int, int]], list[str]]:
    """Rewrite every over-fragmented data dir of ``path`` with
    ``write(df, dest, n_files)``; returns (the stats it chose from, the
    rewritten rel paths).  Partition leaves are staged under one root
    and swapped in by one ``commit.commit_staged``.  The unpartitioned
    root cannot be a leaf swap: it is written to a sibling dir that is
    renamed over the deleted table.  A data dir that is not a
    ``partition_by`` leaf (files beside partition subdirs) is refused,
    since swapping it would delete the partitions beneath it."""
    root = path.rstrip("/")
    commit.recover_pending_swaps(spark, root)
    stats = partition_file_stats(spark, root)
    todo = []
    for rel, n, b in stats:
        n_out = _target_files(b, target_bytes)
        if n < min_files or n <= n_out:
            continue
        if [c.split("=", 1)[0] for c in rel.split("/") if c] != list(partition_by):
            raise ValueError(
                f"{root}/{rel} is not a leaf of a table partitioned by "
                f"{partition_by}; it cannot be compacted in place"
            )
        todo.append((rel, n_out))
    if not partition_by and todo:
        P, fs = commit.hadoop_fs(spark, root)
        tmp = root + ".__compacting__"
        write(spark.read.parquet(root), tmp, todo[0][1])
        fs.delete(P(root), True)
        commit.rename_or_die(fs, P(tmp), P(root))
    elif todo:
        staged = commit.staged_root(root, _TOKEN)
        for rel, n_out in todo:
            write(spark.read.parquet(f"{root}/{rel}"), f"{staged}/{rel}", n_out)
        commit.commit_staged(spark, root, _TOKEN)
    return stats, [rel for rel, _ in todo]


def compact_partitions(
    spark: SparkSession,
    path: str,
    partition_by: list[str],
    target_bytes: int = DEFAULT_TARGET_BYTES,
    min_files: int = 2,
) -> list[str]:
    """Bin-pack every over-fragmented partition of a parquet table
    partitioned by ``partition_by`` (``[]`` for an unpartitioned one)
    to ``ceil(total_bytes / target_bytes)`` files; returns the relative
    paths of the partitions rewritten.

    A partition qualifies when it holds MORE files than its bin-packed
    target (and at least ``min_files``) — compaction only ever reduces
    file count.  The rewrite reads just the selected partition dirs,
    merges read splits with ``coalesce`` (no shuffle), and lands
    through one two-phase commit (operators/commit.py), so untouched
    partitions — and concurrent readers — are never disturbed."""
    return _rewrite_fragmented(
        spark, path, partition_by, target_bytes, min_files, _coalesced
    )[1]


def maintain_table(
    spark: SparkSession,
    path: str,
    partition_by: list[str],
    zorder: tuple[str, str] | None = None,
    target_bytes: int = DEFAULT_TARGET_BYTES,
    min_files: int = 2,
) -> dict:
    """The lakehouse maintenance loop, one idempotent pass: the
    fragmentation report picks the over-fragmented partitions, and each
    is rewritten ONCE — bin-packed as ``compact_partitions`` does when
    ``zorder`` is None, or z-order-clustered on ``zorder=(col_a,
    col_b)`` (``operators.layout.write_zordered``) when given, so the
    single rewrite pays for both file-count AND scan-pruning health.

    The rewrites land exactly as compaction's do: staged under one
    reader-hidden root and swapped in by one two-phase commit
    (operators/commit.py).  A second pass on a healthy table rewrites
    nothing — that is the idempotence contract pinned by
    tests/test_layout.py::test_maintain_table_end_to_end_over_streaming_gold.

    Returns {"report": [Row…], "rewritten": [rel…]}.
    """
    from .layout import write_zordered

    def zordered(df: DataFrame, dest: str, n_files: int) -> None:
        write_zordered(df, *zorder, dest, n_files=n_files)

    stats, rewritten = _rewrite_fragmented(
        spark,
        path,
        partition_by,
        target_bytes,
        min_files,
        _coalesced if zorder is None else zordered,
    )
    return {
        "report": _report(spark, stats, target_bytes).collect(),
        "rewritten": rewritten,
    }


def fragmentation_report(
    spark: SparkSession, path: str, target_bytes: int = DEFAULT_TARGET_BYTES
) -> DataFrame:
    """The monitoring face: one row per partition with file count,
    bytes, and the bin-packed target — what an operator dashboards to
    decide when to run compaction."""
    return _report(spark, partition_file_stats(spark, path), target_bytes)


def _report(
    spark: SparkSession, stats: list[tuple[str, int, int]], target_bytes: int
) -> DataFrame:
    rows = [(rel, n, b, _target_files(b, target_bytes)) for rel, n, b in stats]
    return local_df(
        spark,
        rows,
        "partition string, n_files long, bytes long, target_files long",
    ).withColumn("fragmented", F.col("n_files") > F.col("target_files"))
