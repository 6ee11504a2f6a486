"""session.conf_scope and the streaming drain: the package's one way to
change session conf, and its one ``availableNow`` drain.  Pins that the
caller's conf comes back — a set key restored, an absent key unset —
on normal exit and when the body (or a micro-batch) raises, and guards
that no module adds its own conf write or drain."""

from __future__ import annotations

import ast
import os

import pytest

import end_to_end_chess_com_etl_and_analytics_pipeline_spark as pkg
from end_to_end_chess_com_etl_and_analytics_pipeline_spark.session import (
    conf_scope,
)
from end_to_end_chess_com_etl_and_analytics_pipeline_spark.streaming.pipeline import (
    _append_stream,
    run_stream_to_memory,
)

_KEY = "spark.chess.test.scopedKey"
_WIDTH = "spark.sql.shuffle.partitions"


def test_conf_scope_restores_a_set_key(spark):
    spark.conf.set(_KEY, "caller")
    try:
        with conf_scope(spark, _KEY, "inner"):
            assert spark.conf.get(_KEY) == "inner"
        assert spark.conf.get(_KEY) == "caller"
        with pytest.raises(RuntimeError):
            with conf_scope(spark, _KEY, "inner"):
                raise RuntimeError("body fails")
        assert spark.conf.get(_KEY) == "caller"
    finally:
        spark.conf.unset(_KEY)


def test_conf_scope_unsets_an_absent_key(spark):
    assert spark.conf.get(_KEY, None) is None
    with conf_scope(spark, _KEY, "inner"):
        assert spark.conf.get(_KEY) == "inner"
    assert spark.conf.get(_KEY, None) is None
    with pytest.raises(RuntimeError):
        with conf_scope(spark, _KEY, "inner"):
            raise RuntimeError("body fails")
    assert spark.conf.get(_KEY, None) is None


@pytest.fixture
def caller_width(spark):
    """A caller width unlike both the session's and the drain's, so a
    leak of either shows."""
    prev = spark.conf.get(_WIDTH)
    spark.conf.set(_WIDTH, "3")
    yield "3"
    spark.conf.set(_WIDTH, prev)


def test_run_stream_to_memory_restores_shuffle_width(spark, tmp_path, caller_width):
    src = str(tmp_path / "src")
    spark.range(20).selectExpr("id % 4 AS k").write.parquet(src)
    agg = (
        spark.readStream.schema("k long").parquet(src).groupBy("k").count()
    )
    run_stream_to_memory(agg, "conf_scope_width_probe")
    assert spark.table("conf_scope_width_probe").count() == 4
    assert spark.conf.get(_WIDTH) == caller_width


def test_failing_drain_restores_shuffle_width(spark, tmp_path, caller_width):
    """The micro-batch sees the drain's batch-scoped width; when it
    raises, the query fails and the caller's width still comes back."""
    src = str(tmp_path / "src")
    spark.range(10).write.parquet(src)
    seen = []

    def kernel(batch_df):
        seen.append(batch_df.sparkSession.conf.get(_WIDTH))
        raise ValueError("batch fails")

    with pytest.raises(Exception, match="batch fails"):
        _append_stream(
            spark,
            src,
            kernel,
            str(tmp_path / "out"),
            str(tmp_path / "ckpt"),
        )
    assert seen == ["8"]
    assert spark.conf.get(_WIDTH) == caller_width


def _package_modules():
    root = os.path.dirname(pkg.__file__)
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                rel = os.path.relpath(path, root)
                with open(path) as fh:
                    yield rel, ast.parse(fh.read(), filename=rel)


def _calls_with_enclosing_function(tree):
    """(call node, name of the innermost enclosing def or None)."""
    out = []

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, child.name)
            else:
                if isinstance(child, ast.Call):
                    out.append((child, fn))
                visit(child, fn)

    visit(tree, None)
    return out


def test_only_conf_scope_writes_session_conf():
    writers = []
    for rel, tree in _package_modules():
        for call, fn in _calls_with_enclosing_function(tree):
            f = call.func
            if (
                isinstance(f, ast.Attribute)
                and f.attr in ("set", "unset")
                and isinstance(f.value, ast.Attribute)
                and f.value.attr == "conf"
            ):
                writers.append((rel, fn))
    assert writers, "the guard found no conf writes at all"
    assert set(writers) == {("session.py", "conf_scope")}, writers


def test_one_available_now_trigger():
    triggers = [
        rel
        for rel, tree in _package_modules()
        for call, _fn in _calls_with_enclosing_function(tree)
        if isinstance(call.func, ast.Attribute)
        and call.func.attr == "trigger"
        and any(k.arg == "availableNow" for k in call.keywords)
    ]
    assert triggers == [os.path.join("streaming", "pipeline.py")], triggers
