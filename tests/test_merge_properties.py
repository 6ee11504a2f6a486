"""Property-based tests (hypothesis) for the merge kernels
(SURVEY.md §5.2.3): latest-wins upsert is idempotent, latest-wins, and
key-unique; insert-if-absent never shrinks, never overwrites, and is
idempotent; the absent rows an append-only table adds are exactly the
incoming rows with a new key, and appending them twice adds nothing;
picking them for several dims in one collect agrees with the per-dim
anti-join — over arbitrary generated key/version data, NULL keys
included.

Example counts are small because each example runs Spark jobs; the
generators still cover duplicate keys, ties, and empty frames.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from end_to_end_chess_com_etl_and_analytics_pipeline_spark.operators.merge import (
    absent_rows,
    insert_if_absent,
    latest_wins,
    new_dim_rows,
)

ROWS = st.lists(
    st.tuples(
        # key: small range forces collisions; NULL is a key like any other
        # (a daily game's time_control formats to NULL)
        st.one_of(st.none(), st.integers(min_value=0, max_value=5)),
        st.integers(min_value=0, max_value=10),  # version
        st.integers(min_value=0, max_value=100),  # payload
    ),
    max_size=12,
)

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k: long, v: long, payload: long")


def _sorted(rows):
    """Rows as tuples in a total order (a NULL key does not compare
    with an int)."""
    return sorted(map(tuple, rows), key=repr)


@given(old=ROWS, new=ROWS)
@settings(**_SETTINGS)
def test_latest_wins_properties(spark, old, new):
    merged = latest_wins(_df(spark, old), _df(spark, new), ["k"], "v")
    got = {r.k: r for r in merged.collect()}

    all_rows = new + old
    keys = {k for k, _, _ in all_rows}
    # key-unique and key-complete
    assert set(got) == keys
    assert merged.count() == len(keys)
    for k in keys:
        best_v = max(v for kk, v, _ in all_rows if kk == k)
        assert got[k].v == best_v
        # ties break toward the incoming batch (new listed first)
        candidates = [
            (kk, v, p) for kk, v, p in (new if any(
                kk == k and v == best_v for kk, v, p in new
            ) else old) if kk == k and v == best_v
        ]
        assert (got[k].k, got[k].v, got[k].payload) in candidates

    # idempotence: merging the result with itself changes nothing
    again = latest_wins(merged, merged, ["k"], "v")
    assert _sorted(again.collect()) == _sorted(merged.collect())


@given(old=ROWS, new=ROWS)
@settings(**_SETTINGS)
def test_insert_if_absent_properties(spark, old, new):
    old_df, new_df = _df(spark, old), _df(spark, new)
    merged = insert_if_absent(old_df, new_df, ["k"])
    got = _sorted(merged.collect())

    # never shrinks, never overwrites: every distinct existing row survives
    for row in set(old):
        assert row in got
    # inserted rows only for previously-absent keys
    old_keys = {k for k, _, _ in old}
    for row in got:
        assert row in set(old) or (row in set(new) and row[0] not in old_keys)

    # idempotence
    again = insert_if_absent(merged, new_df, ["k"])
    assert _sorted(again.collect()) == got


@given(old=ROWS, new=ROWS)
@settings(**_SETTINGS)
def test_absent_rows_properties(spark, old, new):
    old_df, new_df = _df(spark, old), _df(spark, new)
    fresh = absent_rows(old_df, new_df, ["k"])

    # exactly the incoming rows (with multiplicity) whose key is new
    old_keys = {k for k, _, _ in old}
    want = _sorted(r for r in new if r[0] not in old_keys)
    assert _sorted(fresh.collect()) == want

    # appending them makes a replay a no-op
    appended = old_df.unionByName(fresh)
    assert absent_rows(appended, new_df, ["k"]).count() == 0


@given(old=ROWS, new=ROWS, first=ROWS)
@settings(**_SETTINGS)
def test_new_dim_rows_properties(spark, old, new, first):
    """Two dims and a probe in one collect: an existing dim gets exactly
    absent_rows' rows as one file, or no write when nothing is new; a dim
    that does not exist yet gets every incoming row, and a write even
    when there are none (an idle first month); the probe's rows come
    back as collected."""
    old_df, new_df, first_df = _df(spark, old), _df(spark, new), _df(spark, first)
    fresh, found = new_dim_rows(
        spark,
        {"a": old_df, "b": None},
        {"a": new_df, "b": first_df},
        {"a": ["k"], "b": ["k"]},
        {"p": first_df.select("k")},
    )
    want = _sorted(absent_rows(old_df, new_df, ["k"]).collect())
    if want:
        assert _sorted(fresh["a"].collect()) == want
        assert fresh["a"].rdd.getNumPartitions() == 1
    else:
        assert "a" not in fresh
    assert _sorted(fresh["b"].collect()) == _sorted(first)
    assert _sorted(found["p"]) == _sorted((k,) for k, _, _ in first)
