"""Vector math over ``array<float>`` embedding columns — JVM-side
higher-order functions (``zip_with`` + ``aggregate``), no Python hop.

Used by the similarity-search and embedding-dedup operators.  Computation
is in double precision; callers round before oracle comparison.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_staged(a: Column, b: Column, norm_a: Column, norm_b: Column) -> Column:
    """:func:`cosine` with the norms supplied as pre-staged columns.

    For pairwise scoring (N_pairs >> N_vectors) computing ``norm`` once
    per *vector* instead of once per *pair* removes two thirds of the
    aggregation work.  Bit-identical to :func:`cosine`: the norm column
    holds the same double the inline expression would produce, and the
    final ``dot / (na * nb)`` arithmetic is unchanged."""
    return dot(a, b) / (norm_a * norm_b)


def max_abs(a: Column) -> Column:
    """Largest |component| — the symmetric-quantization scale base.
    max is order-independent, so this is deterministic without any
    summation-order care."""
    return F.array_max(F.transform(a, lambda v: F.abs(v.cast("double"))))


def quantize_int8(a: Column, scale: Column) -> Column:
    """Symmetric int8 quantization: q_i = round(v_i / scale) ∈ [-127,127]
    with ``scale = max_abs/127``.  Scale-0 rounding of identical doubles
    is cross-engine portable (functions.rounding); the guard keeps
    all-zero vectors at q=0 instead of 0/0."""
    return F.transform(
        a,
        lambda v: F.when(scale == 0.0, F.lit(0))
        .otherwise(F.round(v.cast("double") / scale, 0))
        .cast("long"),
    )


def usable_vec(a: Column, require_nonzero: bool = True) -> Column:
    """True when the embedding is safe to consume: every component
    finite (one NaN poisons every dot product it touches, and under
    ANSI mode a NaN reaching an integer cast KILLS the whole job — one
    bad vector in 100 TB), and — for the cosine family — not all-zero
    (cosine is 0/0-undefined on zero vectors; ANSI raises
    DIVIDE_BY_ZERO).  Embedding operators filter on this at entry; the
    DuckDB oracles apply USABLE_VEC_SQL identically."""
    # coalesce to false: forall yields NULL (not false) when a COMPONENT
    # is NULL — a NULL-component vector must be excluded, and DuckDB's
    # list_filter silently drops NULL predicate results, so both engines
    # get an explicit no-NULL-component rule (see usable_vec_sql)
    finite = F.coalesce(
        F.forall(
            a,
            lambda x: ~F.isnan(x.cast("double"))
            & (F.abs(x.cast("double")) != F.lit(float("inf"))),
        ),
        F.lit(False),
    )
    if not require_nonzero:
        return finite
    return finite & F.coalesce(
        F.exists(a, lambda x: x.cast("double") != 0.0), F.lit(False)
    )


def usable_col(spark, name: str, require_nonzero: bool = True) -> Column:
    """``usable_vec(F.col(name), require_nonzero)``, built once per
    session (session.cached_column): each build of its forall/exists
    lambdas is ~40 py4j round trips, paid again by every serving call."""
    from ..session import cached_column

    return cached_column(
        spark,
        ("usable_vec", name, require_nonzero),
        lambda: usable_vec(F.col(name), require_nonzero),
    )


def norm_col(spark, name: str) -> Column:
    """``norm(F.col(name))``, built once per session (see usable_col)."""
    from ..session import cached_column

    return cached_column(spark, ("norm", name), lambda: norm(F.col(name)))


def usable_vec_sql(expr: str, require_nonzero: bool = True) -> str:
    """DuckDB twin of :func:`usable_vec`."""
    # the explicit IS NULL clause mirrors usable_vec's coalesce-to-false:
    # list_filter DROPS rows where the predicate is NULL, so a NULL
    # component would otherwise sail through the finite check here while
    # Spark excludes the vector
    finite = (
        f"len(list_filter({expr}, x -> x IS NULL)) = 0"
        f" AND len(list_filter({expr}, x -> isnan(CAST(x AS DOUBLE))"
        f" OR isinf(CAST(x AS DOUBLE)))) = 0"
    )
    if not require_nonzero:
        return f"({finite})"
    return f"({finite} AND len(list_filter({expr}, x -> x <> 0)) > 0)"


def norm_sq_sql(expr: str) -> str:
    """DuckDB rendering of squared L2 norm (list_aggregate on squares)."""
    return f"list_sum(list_transform({expr}, x -> CAST(x AS DOUBLE) * x))"


def cosine_sql(a: str, b: str) -> str:
    """DuckDB rendering of :func:`cosine` with identical summation order
    (left-to-right list reduction over index-aligned products)."""
    dot_ = (
        f"list_sum(list_transform(range(1, len({a}) + 1), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )
    return f"({dot_} / (sqrt({norm_sq_sql(a)}) * sqrt({norm_sq_sql(b)})))"
