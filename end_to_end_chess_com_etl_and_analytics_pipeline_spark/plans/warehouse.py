"""Warehouse load (the reference's DAG 2, gold → warehouse star schema).

The reference reads a high watermark from the warehouse
(get_last_updated_date.sql via XCom, load_data_warehouse_dag.py:37-42)
and then IGNORES it, full-replacing every table from pandas
(python_scripts.py:629-676).  Per SURVEY.md §2.11.5 this engine honors
the watermark: only fact rows newer than the warehouse's max
last_updated are read, and they merge latest-wins by game_url — the
incremental load the reference intended.

Target here is the session catalog (S9 DDL) so the flow is testable
offline; against PostgreSQL the same functions take the JDBC reader/
writer (sources.tables.read_jdbc/write_jdbc) — the watermark read pushes
down as a subquery, and the merge becomes MERGE-on-key on engines that
support it.  At 100 TB the incremental delta, not the table, is the unit
of work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.merge import new_dim_rows
from ..schemas import DIM_KEYS
from ..sources.tables import WAREHOUSE_SCHEMA, create_warehouse
from .gold import merge_fact


def _watermark(fact: DataFrame) -> DataFrame:
    return fact.agg(F.max("last_updated").alias("wm"))


def read_watermark(spark: SparkSession, schema: str = WAREHOUSE_SCHEMA):
    """High-watermark read (A4/T3): max last_updated already loaded, or
    None on an empty warehouse.  Over JDBC this whole aggregate pushes
    down as a subquery-dbtable."""
    return _watermark(spark.table(f"{schema}.fact_games")).collect()[0].wm


def load_warehouse(
    spark: SparkSession,
    gold: dict[str, DataFrame],
    location: str | None = None,
    schema: str = WAREHOUSE_SCHEMA,
) -> None:
    """Incremental warehouse load: DDL if absent, append-only dims,
    watermark-filtered latest-wins fact merge.

    Each dim gets only the rows whose key it lacks, appended as one file;
    a load that brings no new key writes nothing to it.  A replayed load
    finds its keys present, so the append is idempotent.  The four dims'
    new keys and the watermark come back in one collect
    (merge.new_dim_rows)."""
    create_warehouse(spark, location=location, schema=schema)

    existing = {dim: spark.table(f"{schema}.{dim}") for dim in DIM_KEYS}
    fact_table = f"{schema}.fact_games"
    existing_fact = spark.table(fact_table)
    fresh, found = new_dim_rows(
        spark,
        existing,
        {dim: gold[dim].select(*existing[dim].columns) for dim in DIM_KEYS},
        DIM_KEYS,
        {"watermark": _watermark(existing_fact)},
    )
    for dim, rows in fresh.items():
        rows.write.insertInto(f"{schema}.{dim}", overwrite=False)

    wm = found["watermark"][0]["wm"]
    incoming = gold["fact_games"].select(*existing_fact.columns)
    if wm is not None:
        incoming = incoming.where(F.col("last_updated") > F.lit(wm))
    merged = merge_fact(existing_fact, incoming)
    merged.localCheckpoint().write.insertInto(fact_table, overwrite=True)
