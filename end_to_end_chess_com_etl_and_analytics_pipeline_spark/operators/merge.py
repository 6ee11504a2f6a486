"""Merge / upsert operators (SURVEY.md §2.3 J2-J3, §2.10 T4-T5).

The reference implements two merge idioms in SQL strings:

- *latest-wins upsert*: old fact UNION ALL new fact → ROW_NUMBER() OVER
  (PARTITION BY game_url ORDER BY last_updated DESC) → keep rn=1
  (python_scripts.py:576-598).
- *insert-if-absent*: ``WHERE key NOT IN (SELECT key FROM dest)`` then
  UNION with dest (python_scripts.py:265-271 etc.).

Here both are generic DataFrame combinators.  Scale notes:

- ``latest_wins`` shuffles once on the key — unavoidable for a global
  latest-per-key; at 100 TB the right deployment is partition-scoped
  (run it per arriving month against only the partitions the batch
  touches) or a Delta/Iceberg MERGE; the operator itself is the kernel
  either way.
- ``absent_rows`` is a null-safe LEFT ANTI join: the incoming rows
  whose key is new, where a NULL key matches a NULL key (Chess.com's
  daily-game control ``1/86400`` formats to a NULL ``time_control``).
  Append-only tables (the gold and warehouse dims) write just these,
  through ``new_dim_rows``; ``insert_if_absent`` unions them with the
  existing rows.  SQL ``NOT IN`` returns *no rows* if the subquery
  yields a NULL; ``left_anti`` keeps non-matching rows.  We expose
  ``not_in_semantics=True`` to replicate the SQL behaviour exactly
  (SURVEY.md §4.3) and pin it with tests.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import local_df


def latest_wins(
    existing: DataFrame | None,
    incoming: DataFrame,
    keys: Sequence[str],
    order_by: str,
) -> DataFrame:
    """Latest-wins merge by key: union existing+incoming, keep the row
    with the greatest ``order_by`` per ``keys`` group.

    Ties break toward the incoming batch (it is unioned *first*, and
    row_number over a tie preserves union order under Spark's stable
    local sort within a partition — to make this deterministic we add a
    priority column rather than rely on input order).
    """
    incoming = incoming.withColumn("__src", F.lit(0))
    unioned = (
        incoming
        if existing is None
        else incoming.unionByName(existing.withColumn("__src", F.lit(1)))
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col(order_by).desc(), F.col("__src").asc())
    )
    return (
        unioned.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn", "__src")
    )


def absent_rows(
    existing: DataFrame | None,
    incoming: DataFrame,
    keys: Sequence[str],
    not_in_semantics: bool = False,
) -> DataFrame:
    """Rows of ``incoming`` whose key is not already in ``existing`` — a
    LEFT ANTI join on ``keys``, null-safe (a NULL key is present when
    ``existing`` holds a NULL key).  These are exactly the rows an
    append-only table must add, so appending them is idempotent: a
    replayed batch finds its keys present and adds nothing.

    ``not_in_semantics=True`` replicates SQL ``NOT IN`` exactly: if
    ``existing`` contains a NULL key, *no* incoming rows qualify.
    """
    if existing is None:
        return incoming
    fresh = incoming
    if not_in_semantics:
        for k in keys:
            # NOT IN is null-poisoned: any NULL in the subquery result
            # empties the insert set for that key column.
            has_null = existing.where(F.col(k).isNull()).limit(1)
            fresh = fresh.join(
                F.broadcast(has_null.select(F.lit(1).alias("__poison"))),
                how="left",
            ).where(F.col("__poison").isNull()).drop("__poison")
            fresh = fresh.where(F.col(k).isNotNull())
    on = reduce(
        lambda a, b: a & b,
        [F.col(f"__i.{k}").eqNullSafe(F.col(f"__e.{k}")) for k in keys],
    )
    return fresh.alias("__i").join(
        existing.select(*keys).alias("__e"), on, "left_anti"
    )


def new_dim_rows(
    spark: SparkSession,
    existing: DataFrame | None,
    incoming: DataFrame,
    keys: Sequence[str],
) -> DataFrame | None:
    """The rows an append-only dim must add, as a one-file frame ready
    to append — or None when every incoming key is present, so the
    caller writes nothing.

    Dims are broadcast-sized, so the absent rows come to the driver:
    one job both finds them and tells whether there is anything to
    write, and the append then reads driver-local rows, not the
    ``existing``/``incoming`` lineage a second time."""
    rows = absent_rows(existing, incoming, keys).collect()
    if not rows:
        return None
    return local_df(spark, rows, incoming.schema).coalesce(1)


def insert_if_absent(
    existing: DataFrame | None,
    incoming: DataFrame,
    keys: Sequence[str],
    not_in_semantics: bool = False,
) -> DataFrame:
    """Insert-if-absent: ``absent_rows`` unioned with ``existing``;
    result deduplicated like the reference's set-semantics UNION
    (python_scripts.py:269-271)."""
    fresh = absent_rows(existing, incoming, keys, not_in_semantics)
    if existing is not None:
        fresh = fresh.unionByName(existing)
    return fresh.distinct()
