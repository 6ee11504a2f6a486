"""Tests of the benchmark's own pieces: input generator, operation log,
span recorder.  Run from the repository root:

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
from measure import OpLog, closed_loop, tail  # noqa: E402
from spans import Tracer, union_length  # noqa: E402


def _write_all(seed: int, out: str) -> list[str]:
    h = gen.ChessHistory(seed, months=3, games_per_month=40, book_entries=300)
    paths = h.write_months(os.path.join(out, "bronze"))
    paths.append(h.write_book(os.path.join(out, "openings.csv")))
    paths.append(gen.write_json(os.path.join(out, "repull.json"), h.repull(1)))
    return [os.path.relpath(p, out) for p in paths]


def test_generator_is_deterministic_per_seed(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    files = _write_all(7, str(a))
    assert files == _write_all(7, str(b))
    _write_all(8, str(c))
    for f in files:
        assert filecmp.cmp(a / f, b / f, shallow=False), f
    assert not filecmp.cmp(a / files[0], c / files[0], shallow=False)


def test_urls_unique_at_10k_games_per_month():
    h = gen.ChessHistory(3, months=3, games_per_month=10_000, book_entries=200)
    urls = {f"{gen.URL_PREFIX}{g['id']}" for games in h.months for g in games}
    assert len(urls) == h.n_games == 30_000
    assert len(h.truth) == h.n_games
    with pytest.raises(ValueError):
        gen.url_id(0, gen.MAX_GAMES_PER_MONTH)


def test_book_has_nested_prefixes_and_games_are_long():
    h = gen.ChessHistory(5, months=1, games_per_month=500)
    pgns = {e["pgn"] for e in h.book}
    assert len(h.book) == 3500
    nested = sum(
        1 for e in h.book
        if any(gen.numbered(e["moves"][:k]) in pgns for k in range(1, len(e["moves"])))
    )
    assert nested >= len(h.book) - 64  # every entry but the family roots
    moves = sorted(len(g["moves"]) for g in h.months[0])
    assert 60 <= moves[len(moves) // 2] <= 100
    assert all(len(e["moves"]) <= 18 for e in h.book)


def test_repull_changes_results_and_moves_dates():
    h = gen.ChessHistory(9, months=3, games_per_month=2000, book_entries=200)
    before = dict(h.truth)
    games = h.repull(1)
    assert len(games) == 2000
    changed = sum(1 for g in games if before[f"{gen.URL_PREFIX}{g['id']}"][0] != g["my_result"])
    moved = sum(1 for g in games if g["date"][:2] != gen.month_of(1))
    assert 100 < changed < 300 and 10 < moved < 80
    assert all(h.truth[f"{gen.URL_PREFIX}{g['id']}"] == (g["my_result"], g["date"]) for g in games)


def test_error_rate_counts_exceptions_and_failed_checks():
    log = OpLog()

    def boom():
        raise RuntimeError("op raised")

    log.run(lambda: 1, lambda r: [])
    log.run(boom)
    log.run(lambda: 2, lambda r: ["wrong output"])
    log.run(lambda: 3, lambda r: 1 / 0)  # a check that raises is a failure too
    log.record_check([])
    log.record_check(["set-up output wrong"])
    assert (log.attempted, log.failed) == (6, 4)
    assert log.error_rate == 4 / 6
    assert len(log.times) == 1


def test_closed_loop_runs_at_least_one_op_and_stops_on_failures():
    log = OpLog()
    closed_loop(log, lambda i: ((lambda: i), None), seconds=0.0)
    assert log.labels == [0]
    log = OpLog()
    closed_loop(log, lambda i: ((lambda: 1 / 0), None), seconds=60.0)
    assert (log.attempted, log.failed) == (3, 3)


def test_tail_is_highest_percentile_with_ten_samples_above():
    assert tail([float(x) for x in range(1, 101)]) == (90.0, 90.0, 100)
    assert tail([float(x) for x in range(1, 26)]) == (60.0, 15.0, 25)
    assert tail([3.0, 1.0, 2.0]) == (100.0, 3.0, 3)


def test_self_time_and_union():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    tr = Tracer(status=None)
    with tr.span("op", 0):
        with tr.span("child", 0):
            time.sleep(0.05)
        time.sleep(0.02)
    op, child = tr.spans
    assert child.parent == 0 and op.parent is None
    assert 0.015 < tr.self_time(0) < op.wall_s - 0.045
    assert 0 <= tr.overhead_s[0] < 0.01  # no status store: bookkeeping only


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[2]").appName("perfbench-tests")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false").getOrCreate())
    yield s
    s.stop()


def test_thread_pool_jobs_land_in_enclosing_span(spark):
    from spans import SparkStatus

    status = SparkStatus(spark)
    tr = Tracer(status)
    first = status.next_job_id()
    spark.range(10).count()  # before any span: attributed to none
    per_count = status.next_job_id() - first
    with tr.span("outer", 0):
        spark.range(100).count()
        with ThreadPoolExecutor(max_workers=3) as pool:
            for f in [pool.submit(lambda n=n: spark.range(n).count()) for n in (5, 6, 7)]:
                assert f.result() in (5, 6, 7)
    spark.range(10).count()  # after the span: attributed to none
    (outer,) = tr.spans
    assert 0 < tr.overhead_s[0] < outer.wall_s
    assert len(outer.jobs) == 4 * per_count
    assert all(outer.start - 0.01 <= s and e <= outer.end + 0.01 for s, e in outer.jobs)
    assert outer.stages["numTasks"] >= 4
