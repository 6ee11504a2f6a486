"""PGN / chess-domain column expressions (SURVEY.md §2.8-2.9).

Every reference UDF (udfs.py:53-171) becomes a *native* Spark expression —
JVM-side, no Python boundary — which is the single biggest engine-level
win over the reference's row-at-a-time DuckDB UDFs.  The regex and string
expressions are whole-stage-codegen'd; the higher-order functions
(``transform``, ``filter``, ``zip_with``) run their lambda bodies
interpreted, so a body must never re-evaluate a whole-PGN expression.

Reference parity notes are inline; the one deliberate divergence is
``opening_name_from_url``: the reference's ``extract_opening_name``
(udfs.py:138-151) does an HTTP GET + HTML parse *per row*.  We derive the
name deterministically from the URL slug and/or a broadcast join against
the openings lookup instead — offline, testable, and scan-speed.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# regex the reference uses to pull one PGN header tag (python_scripts.py:179-191)
_TAG_RE = '\\[{tag} "(.*?)"'
# regex pulling the SAN move list out of a chess.com PGN with clock
# comments: `1. e4 {[%clk 0:02:59]} 1... e6 {[%clk ...]}` → e4, e6
# (python_scripts.py:192-193)
MOVES_RE = r"\. (.*?) \{\["


def pgn_tag(pgn: Column | str, tag: str) -> Column:
    """F1: ``REGEXP_EXTRACT(pgn, '\\[Tag "(.*?)"', 1)``.

    Both Spark and DuckDB return '' (not NULL) on a miss, so oracle
    hashes align without adjustment (SURVEY.md §2.8 F1)."""
    return F.regexp_extract(pgn, _TAG_RE.format(tag=tag), 1)


def pgn_moves(pgn: Column | str) -> Column:
    """F2: SAN move array — ``REGEXP_EXTRACT_ALL(pgn, '\\. (.*?) {\\[', 1)``."""
    return F.regexp_extract_all(F.col(pgn) if isinstance(pgn, str) else pgn, F.lit(MOVES_RE), F.lit(1))


def pgn_raw(pgn: Column | str) -> Column:
    """F3: moves joined with spaces (``ARRAY_TO_STRING(..., ' ')``)."""
    return F.array_join(pgn_moves(pgn), " ")


def pgn_date(pgn: Column | str, tag: str = "Date") -> Column:
    """F4+F5: ``TRY_STRPTIME(REPLACE(tag, '.', '/'), '%Y/%m/%d')::DATE``.

    try_to_date, not to_date: a PGN missing the tag extracts '' and
    under Spark 4's default ANSI mode a plain to_date('') KILLS the
    whole silver job — one malformed game must yield a NULL date (the
    quarantine/null-partition path), never abort a 100 TB backfill."""
    return F.try_to_date(
        F.replace(pgn_tag(pgn, tag), F.lit("."), F.lit("/")), "yyyy/MM/dd"
    )


def add_move_numbers(moves: Column) -> Column:
    """D1: pair SAN moves into ``"1. e4 e5 2. Nf3 Nc6 3. Bb5"``.

    Native replacement for the reference's row-at-a-time UDF
    (udfs.py:53-75): for each white-move index 2i, emit
    ``{i+1}. {moves[2i]} {moves[2i+1] or ''}`` and join with spaces.
    Exactly replicates the reference's trailing-space-free odd-length
    behaviour (an odd move list ends ``"3. Bb5 "``-less: the f-string puts
    '' for the missing black move, so the pair is ``"3. Bb5 "``.join'd —
    i.e. a trailing space *inside* the last element).  We reproduce that
    byte-for-byte: concat always inserts the separating space.

    ``moves`` enters each higher-order function as its argument, never
    inside a lambda body: Spark evaluates lambda bodies interpreted and
    shares no subexpression with the outer projection, so a body that
    names ``moves`` (a ``regexp_extract_all`` over the whole PGN)
    re-runs that regex once per move pair.  ``zip_with`` pads the
    shorter black list with NULL, the missing reply of an odd game.
    """
    whites = F.filter(moves, lambda _, i: i % 2 == 0)
    blacks = F.filter(moves, lambda _, i: i % 2 == 1)
    pairs = F.zip_with(
        whites, blacks, lambda w, b: F.concat(w, F.lit(" "), F.coalesce(b, F.lit("")))
    )
    numbered = F.transform(
        pairs, lambda p, i: F.concat((i + 1).cast("string"), F.lit(". "), p)
    )
    return F.when(F.size(moves) == 0, F.lit("")).otherwise(
        F.array_join(numbered, " ")
    )


def add_move_numbers_trimmed(moves: Column) -> Column:
    """D1 variant with the trailing space of odd-length games trimmed —
    what the reference *intended*; used by our analytics layer."""
    return F.rtrim(add_move_numbers(moves))


def opening_family(name: Column | str) -> Column:
    """D3: text before the first ':' else the whole name
    (udfs.py:78-101) — ``F.substring_index`` is the codegen'd equivalent."""
    return F.substring_index(name, ":", 1)


def opening_variation(name: Column | str) -> Column:
    """D4: text after the first ':' else the whole name.

    Replicates the reference quirk (SURVEY.md §2.11.6): ``split(':')[1]``
    keeps only the *second* segment, so ``"A: B: C"`` → ``" B"`` (leading
    space kept, " C" dropped)."""
    c = F.col(name) if isinstance(name, str) else name
    return F.when(c.contains(":"), F.split(c, ":").getItem(1)).otherwise(c)


def pgn_depth(pgn: Column | str) -> Column:
    """D5: number of ``\\d+\\.`` move-number tokens (udfs.py:123-136)."""
    c = F.col(pgn) if isinstance(pgn, str) else pgn
    return F.size(F.regexp_extract_all(c, F.lit(r"(\d+\.)"), F.lit(1))).cast("int")


def format_time_control(tc: Column | str) -> Column:
    """D6/F13: ``"120+1"`` → ``"2|1"``; ``"600"`` → ``"10"``
    (udfs.py:153-171).  Integer division truncates exactly like the
    reference's ``int(int(tc)/60)``."""
    c = F.col(tc) if isinstance(tc, str) else tc
    # try_cast: under Spark 4's default ANSI mode a plain cast THROWS on
    # the daily-game shape '1/86400'; try_cast yields NULL (NULL display),
    # mirrored by TRY_CAST in the oracle SQL
    base = F.split(c, r"\+").getItem(0).try_cast("long")
    minutes = F.floor(base / 60).cast("long").cast("string")
    inc = F.split(c, r"\+").getItem(1)
    return F.when(c.contains("+"), F.concat(minutes, F.lit("|"), inc)).otherwise(minutes)


def time_class_of(tc: Column | str) -> Column:
    """D9 (commented-out reference UDF, load_fact_and_dim_fiiles.ipynb
    cell 3): bucket base seconds <180 bullet / <600 blitz / else rapid."""
    c = F.col(tc) if isinstance(tc, str) else tc
    # try_cast (see format_time_control): NULL base -> 'rapid', exactly
    # the oracle's TRY_CAST CASE fall-through
    base = F.split(c, r"\+").getItem(0).try_cast("long")
    return (
        F.when(base < 180, F.lit("bullet"))
        .when(base < 600, F.lit("blitz"))
        .otherwise(F.lit("rapid"))
    )


def opening_name_from_url(url: Column | str) -> Column:
    """D2 replacement: derive the opening name from the ECOUrl slug.

    ``https://www.chess.com/openings/French-Defense-Advance-Variation``
    → ``French Defense Advance Variation``.  Deterministic/offline stand-in
    for the reference's network-in-UDF (udfs.py:138-151); callers that
    need canonical ``Family: Variation`` punctuation should broadcast-join
    the openings lookup (plans.gold.build_dim_openings).
    """
    c = F.col(url) if isinstance(url, str) else url
    slug = F.substring_index(c, "/", -1)
    # strip trailing "-3.5..." move-suffix some slugs carry, then de-dash
    cleaned = F.regexp_replace(slug, r"-\d.*$", "")
    return F.replace(cleaned, F.lit("-"), F.lit(" "))


def move_pairs_map(pgn_trans: Column | str) -> Column:
    """D7 (notebook ``generate_pgn_dict``): numbered PGN → map
    {move_no → [white, black]} as MapType(int, array<string>).

    Structured: split ``"1. e4 e5 2. Nf3 Nc6"`` on move-number tokens and
    build map entries; the pair array has 1 element for an unanswered
    final white move, matching the notebook dict semantics.
    """
    c = F.col(pgn_trans) if isinstance(pgn_trans, str) else pgn_trans
    # "1. e4 e5 2. Nf3 Nc6" -> ["", "e4 e5", "Nf3 Nc6"]; entry i -> moves
    segments = F.split(c, r"\s*\d+\.\s*")
    pairs = F.filter(segments, lambda s: s != "")
    entries = F.transform(
        pairs,
        lambda s, i: F.struct(
            (i + 1).alias("key"),
            F.split(F.rtrim(s), " ").alias("value"),
        ),
    )
    return F.map_from_entries(entries)
