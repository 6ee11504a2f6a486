"""Longest-prefix-match join (SURVEY.md §2.3 J4 / §2.9 D8).

The reference's ``get_opening`` (test.ipynb cell 28) classifies a game by
its longest matching opening: a Python loop grows the PGN prefix one
half-move at a time and re-queries ``openings WHERE pgn LIKE '{prefix}%'``
per step — O(moves × table-scan) per game, driver-bound.

Set-oriented Spark formulation (one job, no driver loop):

    1. explode each probe string into its token-prefixes (1..max_len)
    2. equi-join prefix = lexicon key (lexicon broadcast — it is the
       dims-sized side, 3.5k rows in the reference)
    3. keep the longest match per probe row via max_by

The equi-join on the *exploded* prefixes turns a theta/LIKE join into a
broadcast hash join — the scale-out answer: probe side is embarrassingly
parallel, lexicon ships once per executor, no shuffle of the big side.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def token_prefixes(c: Column, max_tokens: int, sep: str = " ") -> Column:
    """All leading-token prefixes of a string split on the literal
    ``sep``, longest last: ``"a b c"`` → ``["a", "a b", "a b c"]``
    (capped at ``max_tokens``).  Prefix ``i`` is ``substring_index(c,
    sep, i)``, one scan of the string; the split that counts the tokens
    runs once per row, outside the lambda, whose body Spark evaluates
    interpreted once per prefix."""
    n = F.least(F.size(F.split(c, F.lit(re.escape(sep)))), F.lit(max_tokens))
    return F.transform(
        F.sequence(F.lit(1), n),
        # F.substring_index takes a Python int count, not a Column
        lambda i: F.call_function("substring_index", c, F.lit(sep), i),
    )


def longest_prefix_match(
    probe: DataFrame,
    probe_col: str,
    lexicon: DataFrame,
    lexicon_key: str,
    max_tokens: int = 24,
    payload_cols: list[str] | None = None,
    keep_unmatched: bool = True,
    id_col: str | None = None,
) -> DataFrame:
    """For each probe row, the lexicon row whose ``lexicon_key`` is the
    *longest* token-prefix of ``probe[probe_col]``.

    Returns the probe columns plus ``matched_<key>`` and any requested
    lexicon payload columns (null when unmatched and ``keep_unmatched``).

    ``id_col`` names a unique probe key; only (id, prefix) pairs are
    shuffled for the longest-match aggregation and the full rows are
    re-attached with an equi-join on that id — the document text never
    becomes a shuffle key. Without ``id_col`` an internal surrogate id is
    minted with ``monotonically_increasing_id``, which is only stable when
    the probe plan is deterministic (scans/filters — not after an
    unordered shuffle); pass a real key when in doubt.
    """
    payload_cols = payload_cols or []
    if id_col is None:
        key = "__pid"
        keyed = probe.withColumn(key, F.monotonically_increasing_id())
    else:
        key = id_col
        keyed = probe
    exploded = keyed.select(
        key, F.explode(token_prefixes(F.col(probe_col), max_tokens)).alias("__prefix")
    )
    lex = lexicon.select(
        F.col(lexicon_key).alias("__prefix"),
        F.length(lexicon_key).alias("__match_len"),
        *[F.col(c) for c in payload_cols],
    )
    joined = exploded.join(F.broadcast(lex), "__prefix", "inner")
    best = joined.groupBy(key).agg(
        F.max_by(
            F.struct(
                F.col("__prefix").alias(f"matched_{lexicon_key}"),
                *[F.col(c) for c in payload_cols],
            ),
            F.col("__match_len"),
        ).alias("__best")
    )
    how = "left" if keep_unmatched else "inner"
    return keyed.join(best, key, how).select(*probe.columns, "__best.*")
