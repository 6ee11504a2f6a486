"""Per-query artifacts: ``session.scratch_dir`` owns every scratch
directory a query writes (a persisted index's root too, held by the
session's index registry), ``session.run_concurrently`` runs the
concurrent artifact writes with the caller's job tag, and
``sources.tables.local_data_files`` is the one driver-side listing.
Pins that queries leave no scratch directory behind, that a pool
thread's jobs carry the caller's job group, and guards that no module
adds its own temp dir, thread pool or directory listing."""

from __future__ import annotations

import ast
import os
import tempfile

import pytest

from end_to_end_chess_com_etl_and_analytics_pipeline_spark.plans.suites import (
    FULL_QUERIES,
)
from end_to_end_chess_com_etl_and_analytics_pipeline_spark.session import (
    index_roots,
    release_indexes,
    run_concurrently,
    scratch_dir,
)

from tests.conftest import SF_DIR
from tests.test_conf_scope import _calls_with_enclosing_function, _package_modules

# queries whose artifacts live in scratch dirs: a memory-sink drain, a
# streaming gold merge, the streaming SCD2 table, and the two
# persisted-index queries with concurrent artifact writes, whose index
# roots the session's registry keeps
_SCRATCH_QUERIES = (
    "st01_streaming_tumbling",
    "st04_incremental_gold",
    "st13_streaming_scd2",
    "x61_bm25_persisted_index",
    "x67_persisted_ann_mmr",
)
_POOL_QUERIES = ("x61_bm25_persisted_index", "x67_persisted_ann_mmr")


def test_scratch_dir_removed_on_exit_and_raise(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    with scratch_dir("probe_") as root:
        assert os.path.dirname(root) == str(tmp_path)
        open(os.path.join(root, "f"), "w").close()
    with pytest.raises(RuntimeError):
        with scratch_dir("probe_") as root:
            raise RuntimeError("body fails")
    assert os.listdir(tmp_path) == []


def test_queries_leave_no_scratch_dirs(spark, tmp_path, monkeypatch):
    """Each query's result stays readable after its own scratch dirs
    are gone: the temp root holds exactly the index registry's live
    roots (x61's and x67's indexes), and releasing the registry
    empties it."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    release_indexes(spark)
    for name in _SCRATCH_QUERIES:
        rows = FULL_QUERIES[name](spark, SF_DIR).collect()
        assert rows, name
        live = sorted(os.path.basename(r) for r in index_roots(spark))
        assert sorted(os.listdir(tmp_path)) == live, name
    assert len(index_roots(spark)) == 2
    release_indexes(spark)
    assert os.listdir(tmp_path) == []


def test_pool_jobs_carry_the_callers_job_group(spark):
    """Every job a persisted-index query runs, those of its concurrent
    artifact writes included, belongs to the caller's job group.  The
    registry is released first, so the calls build their indexes."""
    release_indexes(spark)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "artifact-tag-probe"
    untagged = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, "x61 x67")
    try:
        for name in _POOL_QUERIES:
            FULL_QUERIES[name](spark, SF_DIR).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert tracker.getJobIdsForGroup(group)
    # the tracker keeps only recent jobs, so compare additions only
    assert set(tracker.getJobIdsForGroup(None)) - untagged == set()


def test_run_concurrently_raises_the_first_failure(spark):
    done = []

    def fails():
        raise ValueError("write fails")

    with pytest.raises(ValueError, match="write fails"):
        run_concurrently(lambda: done.append(spark.range(3).count()), fails)
    assert done == [3]


def test_unreadable_local_footer_raises(spark, tmp_path):
    """A local file pyarrow cannot read is an error, not a silent
    switch to the Spark reader."""
    import pyarrow as pa

    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.sources.tables import (
        raw_row_count,
        read_parquet_noinfer,
    )

    (tmp_path / "part-0.parquet").write_bytes(b"not a parquet file")
    for reader in (raw_row_count, read_parquet_noinfer):
        with pytest.raises(pa.ArrowInvalid):
            reader(spark, str(tmp_path))


def _called_name(call):
    """``module.function`` for a module-level call (an alias such as
    ``_os`` folded to ``os``), the bare name for a direct call."""
    f = call.func
    if isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name):
        return f"{f.value.id.lstrip('_')}.{f.attr}"
    if isinstance(f, ast.Name):
        return f.id
    return None


def _uses(*names):
    return {
        (rel, fn)
        for rel, tree in _package_modules()
        for call, fn in _calls_with_enclosing_function(tree)
        if _called_name(call) in names
    }


def test_scratch_dirs_and_pools_only_in_session():
    assert _uses("tempfile.mkdtemp", "shutil.rmtree") == {
        ("session.py", "scratch_dir")
    }
    assert _uses("ThreadPoolExecutor", "futures.ThreadPoolExecutor") == {
        ("session.py", "run_concurrently")
    }


def test_one_driver_side_listing():
    assert _uses("os.listdir", "os.walk", "os.scandir") == {
        (os.path.join("sources", "tables.py"), "local_data_files")
    }
