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
  Append-only tables (the gold and warehouse dims) write just these;
  ``new_dim_rows`` picks them for all dims in one collect, with the same
  null-safe match, and ``insert_if_absent`` unions them with the
  existing rows.  SQL ``NOT IN`` returns *no rows* if the subquery
  yields a NULL; ``left_anti`` keeps non-matching rows.  We expose
  ``not_in_semantics=True`` to replicate the SQL behaviour exactly
  (SURVEY.md §4.3) and pin it with tests.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from functools import reduce

from pyspark.sql import DataFrame, Row, SparkSession, Window
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


def collect_tagged(frames: Mapping[str, DataFrame]) -> dict[str, list[Row]]:
    """Collect several small frames in one action, each frame's rows
    (Rows of its own columns) under its tag.

    The frames travel as one tagged union: a ``__tag`` column naming a
    row's frame and one struct column per frame, set only in the row's
    own frame's column (``unionByName`` fills the others with NULL).
    Their stages then run in one query, submitted together, instead of
    one scheduler round trip per frame."""
    union = reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True),
        [
            df.select(F.lit(tag).alias("__tag"), F.struct("*").alias(tag))
            for tag, df in frames.items()
        ],
    )
    found = {tag: [] for tag in frames}
    for r in union.collect():
        found[r["__tag"]].append(r[r["__tag"]])
    return found


def new_dim_rows(
    spark: SparkSession,
    existing: Mapping[str, DataFrame | None],
    incoming: Mapping[str, DataFrame],
    keys: Mapping[str, Sequence[str]],
    probes: Mapping[str, DataFrame] | None = None,
) -> tuple[dict[str, DataFrame], dict[str, list[Row]]]:
    """The rows each append-only dim must add, for all dims at once.

    ``incoming[dim]`` lands against ``existing[dim]`` (None when the
    dim does not exist yet) on ``keys[dim]``.  Returns the frames to
    append, one file each, under the dims that need a write: a dim with
    a new key, or a dim that does not exist yet — an idle first month
    still creates it, empty, so readers always find it.  A dim whose
    every incoming key is present is absent from the result, and the
    caller writes nothing to it.

    Dims are broadcast-sized, so ONE ``collect_tagged`` brings the
    incoming dims, the existing dims' keys and the caller's other small
    ``probes`` to the driver (the probes' rows are the second value),
    and the absent rows are picked there: the key match is the
    null-safe one of ``absent_rows`` (Python ``None == None``), without
    one broadcast and one collect per dim.  The appends read
    driver-local rows, not the ``existing``/``incoming`` lineage a
    second time."""
    probes = probes or {}
    present = {
        f"__keys_{dim}": df.select(*keys[dim])
        for dim, df in existing.items()
        if df is not None
    }
    found = collect_tagged({**incoming, **present, **probes})
    fresh = {}
    for dim, df in incoming.items():
        known = {tuple(r) for r in found.get(f"__keys_{dim}", ())}
        rows = [r for r in found[dim] if tuple(r[k] for k in keys[dim]) not in known]
        if rows or existing[dim] is None:
            fresh[dim] = local_df(spark, rows, df.schema).coalesce(1)
    return fresh, {tag: found[tag] for tag in probes}


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
