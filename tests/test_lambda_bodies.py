"""Spark evaluates higher-order-function lambda bodies interpreted, once
per array element, and shares no subexpression with the outer
projection.  A lambda body that names a whole-string expression (a
regex over the PGN, a split of the probe string) re-runs it for every
element, which makes the projection quadratic in the move count.  These
guards walk the analyzed plans of the two projections that number moves
and expand prefixes and reject such a body."""

from __future__ import annotations

from end_to_end_chess_com_etl_and_analytics_pipeline_spark.operators.prefix_join import (
    longest_prefix_match,
)
from end_to_end_chess_com_etl_and_analytics_pipeline_spark.plans.silver import (
    bronze_to_silver,
)
from end_to_end_chess_com_etl_and_analytics_pipeline_spark.schemas import RAW_GAME_SCHEMA
from end_to_end_chess_com_etl_and_analytics_pipeline_spark.sources import demo

WHOLE_STRING = {"RegExpExtractAll", "StringSplit"}


def _lambda_bodies(df) -> list[set[str]]:
    """For every lambda in ``df``'s analyzed plan, the class names of
    the expressions inside its body."""
    bodies = []

    def names(e, into):
        into.add(e.getClass().getSimpleName())
        children = e.children()
        for i in range(children.size()):
            names(children.apply(i), into)

    def walk(e):
        if e.getClass().getSimpleName() == "LambdaFunction":
            body = set()
            names(e.function(), body)
            bodies.append(body)
        children = e.children()
        for i in range(children.size()):
            walk(children.apply(i))

    def walk_plan(plan):
        exprs = plan.expressions()
        for i in range(exprs.size()):
            walk(exprs.apply(i))
        children = plan.children()
        for i in range(children.size()):
            walk_plan(children.apply(i))

    walk_plan(df._jdf.queryExecution().analyzed())
    return bodies


def test_silver_lambda_bodies_do_not_rescan_the_pgn(spark):
    raw = spark.createDataFrame(demo.month_payload(1, n=2), RAW_GAME_SCHEMA)
    bodies = _lambda_bodies(bronze_to_silver(raw))
    assert bodies
    assert all(not (b & WHOLE_STRING) for b in bodies), bodies


def test_prefix_lambda_bodies_do_not_resplit(spark):
    probe = spark.createDataFrame([(1, "1. e4 e6 2. d4")], "id int, pgn string")
    lexicon = spark.createDataFrame([("1. e4",)], "key string")
    bodies = _lambda_bodies(
        longest_prefix_match(probe, "pgn", lexicon, "key", id_col="id")
    )
    assert bodies
    assert all(not (b & WHOLE_STRING) for b in bodies), bodies
