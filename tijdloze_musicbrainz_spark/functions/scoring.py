"""Scoring + canonical-selection key builders (SURVEY §2.8 F7-F9, P11).

These are the reference's core client-side algorithms re-expressed as
pure expressions (no UDFs):

- album-type predicates from the secondary-type array
  (``/root/reference/src/main.py:30-37``)
- the 3-component lexicographic canonical sort key
  (``src/main.py:50-73``; semantics documented in README.md:39-40)
- relevance scoring v1 (generation, ``src/main.py:42-48``) and v2
  (query path, ``src/benchmark.py:43-49``)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# MusicBrainz enum semantics (src/main.py:30-37):
#   release_group.type: 1 = album, 2 = single
#   secondary_type:     1 = compilation, 2 = soundtrack
ALBUM, SINGLE = 1, 2
COMPILATION, SOUNDTRACK = 1, 2


# The album predicates and the sort key are defined ONCE, as Spark-SQL
# text over expression snippets (a bare column name works): the SQL
# stages of pipeline.py splice the text into their statements, and the
# Column callers get the same text as one ``F.expr`` parse (a Column
# composition costs one py4j round trip per operator).


def _arr(sec_types: str) -> str:
    # collect_list of an empty group yields NULL, not [] — normalize
    # (SURVEY F16 pitfall).
    return f"coalesce({sec_types}, CAST(array() AS ARRAY<INT>))"


def is_main_album_expr(rg_type: str, sec_types: str) -> str:
    """type == album AND no secondary types (src/main.py:30-32)."""
    return f"({rg_type} = {ALBUM} AND size({_arr(sec_types)}) = 0)"


def is_compilation_expr(rg_type: str, sec_types: str) -> str:
    """type == album AND compilation secondary (src/main.py:33-34 —
    the release_type==1 guard is part of the predicate: a SINGLE with
    a compilation secondary type is NOT a compilation album)."""
    return f"({rg_type} = {ALBUM} AND array_contains({_arr(sec_types)}, {COMPILATION}))"


def is_soundtrack_expr(rg_type: str, sec_types: str) -> str:
    """type == album AND soundtrack secondary (src/main.py:36-37)."""
    return f"({rg_type} = {ALBUM} AND array_contains({_arr(sec_types)}, {SOUNDTRACK}))"


def is_single_expr(rg_type: str) -> str:
    return f"({rg_type} = {SINGLE})"


def canonical_sort_key_exprs(
    release_year: str,
    is_single_from: str,
    main_album: str,
    soundtrack: str,
    compilation: str,
) -> tuple[str, str, str]:
    """The 3-tuple lexicographic argmin key (src/main.py:50-73), as
    the SQL texts of ``year_value``, ``ref_priority``, ``type_priority``.

    1. ``year_value``: NULL year → 9999 sentinel; a release-group that
       is the explicit "single from" target or a main album keeps its
       year; anything else (singles, compilations, …) is penalized one
       year, so a single released a year early loses to the album but
       a single two years early wins (README.md:39).
    2. ``ref_priority``: explicit single-from relation beats everything
       at equal year.
    3. ``type_priority``: main album < soundtrack < compilation < other.
    """
    # NULL year is 9999 UNCONDITIONALLY (src/main.py:51-52) — it must
    # not also take the +1 penalty, or a NULL-year compilation would
    # sort after a 9998-year "other" instead of tying on year_value.
    year_value = (
        f"CASE WHEN {release_year} IS NULL THEN 9999"
        f" WHEN {is_single_from} OR {main_album} THEN {release_year}"
        f" ELSE {release_year} + 1 END"
    )
    ref_priority = f"CASE WHEN {is_single_from} THEN 0 ELSE 1 END"
    type_priority = (
        f"CASE WHEN {main_album} THEN 1 WHEN {soundtrack} THEN 2"
        f" WHEN {compilation} THEN 3 ELSE 4 END"
    )
    return year_value, ref_priority, type_priority


def is_single(rg_type: str) -> Column:
    return F.expr(is_single_expr(rg_type))


def canonical_sort_key(
    release_year: str,
    is_single_from: str,
    main_album: str,
    soundtrack: str,
    compilation: str,
) -> tuple[Column, Column, Column]:
    """``canonical_sort_key_exprs`` as aliased Columns; the arguments
    are SQL snippets (the ``*_expr`` predicates, or column names)."""
    exprs = canonical_sort_key_exprs(
        release_year, is_single_from, main_album, soundtrack, compilation
    )
    names = ("year_value", "ref_priority", "type_priority")
    return tuple(F.expr(e).alias(n) for e, n in zip(exprs, names))  # type: ignore[return-value]


def relevance_generation(exact_match: Column, score: Column) -> Column:
    """v1 (src/main.py:42-48): exact key match keeps the score, a
    prefix/fuzzy match is worth a tenth."""
    return F.when(exact_match, score.cast("double")).otherwise(score / 10.0)


def relevance_query(
    score: Column,
    is_single_from: Column,
    main_album: Column,
    exact_match: Column,
) -> Column:
    """v2 (src/benchmark.py:43-49): multiplicative boosts —
    score × 10^[single_from] × 10^[main_album] × 10^[exact]."""
    boost = lambda flag: F.when(flag, F.lit(10.0)).otherwise(F.lit(1.0))  # noqa: E731
    return (
        score.cast("double")
        * boost(is_single_from)
        * boost(main_album)
        * boost(exact_match)
    )
