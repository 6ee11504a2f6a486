"""session.cached_column: the per-session expression memo must return
the SAME tree for the same key (that is the point — zero rebuild
cost), distinct trees for distinct keys, and a cached MinHash
signature tree must produce values identical to a freshly-built,
uncached one (the memo caches expression structure, never data)."""

from __future__ import annotations

import sys
import threading

from pyspark.sql import functions as F

from end_to_end_chess_com_etl_and_analytics_pipeline_spark import session as S
from end_to_end_chess_com_etl_and_analytics_pipeline_spark.operators.dedup import (
    minhash_signature_array,
)
from end_to_end_chess_com_etl_and_analytics_pipeline_spark.session import (
    cached_column,
)


def test_same_key_returns_same_tree(spark):
    calls = []

    def build():
        calls.append(1)
        return F.col("x") + F.lit(1)

    c1 = cached_column(spark, ("t", 1), build)
    c2 = cached_column(spark, ("t", 1), build)
    assert c1 is c2
    assert len(calls) == 1
    c3 = cached_column(spark, ("t", 2), build)
    assert c3 is not c1
    assert len(calls) == 2


def test_slow_builder_does_not_block_other_keys(spark):
    """Builders run outside the cache lock: while key A's builder waits,
    key B's builder still runs in another thread and releases it."""
    started, released = threading.Event(), threading.Event()
    waited = {}

    def build_a():
        started.set()
        waited["released"] = released.wait(10)
        return F.lit("a")

    def build_b():
        released.set()
        return F.lit("b")

    keys = [("slow-builder", "A"), ("slow-builder", "B")]
    a = threading.Thread(target=cached_column, args=(spark, keys[0], build_a))
    a.start()
    assert started.wait(10)
    b = threading.Thread(target=cached_column, args=(spark, keys[1], build_b))
    b.start()
    a.join(30)
    b.join(30)
    for k in keys:
        S._EXPR_CACHE[spark].pop(k, None)
    assert not a.is_alive() and not b.is_alive()
    assert waited["released"]


def test_racing_builders_all_get_the_first_insert(spark):
    """Threads racing on the same missing keys may each build, but the
    first insert wins: every caller of a key gets one object."""
    keys = [("race", i) for i in range(4)]
    got = {k: [] for k in keys}
    interval = sys.getswitchinterval()

    def worker():
        for _ in range(50):
            for k in keys:
                got[k].append(cached_column(spark, k, object))

    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(30)
    finally:
        sys.setswitchinterval(interval)
        for k in keys:
            S._EXPR_CACHE[spark].pop(k, None)
    assert not any(t.is_alive() for t in threads)
    for k in keys:
        assert len(got[k]) == 400 and len({id(o) for o in got[k]}) == 1, k


def test_cached_tree_reused_across_plans(spark):
    col = cached_column(
        spark, ("t3",), lambda: (F.col("x") * F.lit(2)).alias("y")
    )
    a = spark.createDataFrame([(1,), (2,)], "x int").select(col)
    b = spark.createDataFrame([(5,)], "x int").select(col)
    assert sorted(r["y"] for r in a.collect()) == [2, 4]
    assert [r["y"] for r in b.collect()] == [10]


def test_minhash_signature_cached_equals_fresh(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "c d e f g"), (3, None)],
        "doc_id long, text string",
    )
    # first call populates the memo, second call reuses it — both must
    # equal a build that bypasses the memo entirely
    cached1 = minhash_signature_array(docs).collect()
    cached2 = minhash_signature_array(docs).collect()
    per_session = S._EXPR_CACHE[spark]
    saved = {k: per_session.pop(k) for k in list(per_session)}
    try:
        fresh = minhash_signature_array(docs).collect()
    finally:
        per_session.update(saved)
    key = lambda rows: sorted(  # noqa: E731
        (r["doc_id"], list(r["signature"])) for r in rows
    )
    assert key(cached1) == key(cached2) == key(fresh)


def test_cache_bounded_fifo_eviction(spark):
    """Value-keyed entries (pq encoders key on whole codebooks) must
    not accumulate unboundedly in a long-lived session that retrains
    models: past _EXPR_CACHE_MAX the oldest entry is
    evicted and a re-request simply rebuilds."""
    per_session = S._EXPR_CACHE[spark] if S._EXPR_CACHE else None
    saved = dict(per_session) if per_session is not None else None
    if per_session is not None:
        per_session.clear()
    try:
        n = S._EXPR_CACHE_MAX
        for i in range(n + 5):
            cached_column(spark, ("evict", i), lambda i=i: F.lit(i))
        per = S._EXPR_CACHE[spark]
        assert len(per) == n
        assert ("evict", 0) not in per  # oldest evicted
        assert ("evict", n + 4) in per  # newest kept
        # evicted key rebuilds on demand (a miss, never an error)
        col = cached_column(spark, ("evict", 0), lambda: F.lit(0))
        assert col is not None
    finally:
        per = S._EXPR_CACHE[spark]
        per.clear()
        if saved:
            per.update(saved)


def test_pq_encode_accepts_list_carry(spark):
    """A list-valued carry was accepted before the memo (it is only
    iterated) — the memo key must normalize it, not raise TypeError:
    unhashable."""
    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.operators.pq import (
        pq_encode,
    )

    df = spark.createDataFrame(
        [(1, "s1", [1.0, 2.0, 3.0, 4.0])],
        "vec_id long, src string, embedding array<double>",
    )
    books = [
        [(0, [1.0, 2.0]), (1, [3.0, 4.0])],
        [(0, [3.0, 4.0]), (1, [5.0, 6.0])],
    ]
    out = pq_encode(df, books, carry=["src"]).collect()
    assert out[0]["src"] == "s1" and out[0]["code_0"] == 0
