"""Property tests for the canonical sort key, straight from the
reference's documented counterexamples (/root/reference/README.md:39-41
and src/main.py:50-73):

1. a single released ONE year before the album still loses to the album;
2. a single released TWO years early wins;
3. an explicit "single from" relation beats a same-year compilation;
4. NULL year is the 9999 sentinel unconditionally (no +1 penalty).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tijdloze_musicbrainz_spark.functions.scoring import (
    canonical_sort_key,
    is_compilation_expr,
    is_main_album_expr,
    is_single,
    is_soundtrack_expr,
)
from tijdloze_musicbrainz_spark.operators.canonical import argmin_per_group


def _pick_winner(spark, rows):
    """rows: (rg_id, release_year, rg_type, sec_types, is_single_from).
    Returns the rg_id the canonical selection picks for the one group."""
    df = spark.createDataFrame(
        rows, "rg_id string, release_year int, rg_type int, sec_types array<int>, is_single_from boolean"
    )
    yv, rp, tp = canonical_sort_key(
        "release_year",
        "is_single_from",
        is_main_album_expr("rg_type", "sec_types"),
        is_soundtrack_expr("rg_type", "sec_types"),
        is_compilation_expr("rg_type", "sec_types"),
    )
    scored = df.select("rg_id", yv, rp, tp).withColumn("grp", F.lit(1))
    best = argmin_per_group(
        scored, ["grp"], ["year_value", "ref_priority", "type_priority", "rg_id"]
    )
    return best.collect()[0]["rg_id"]


ALBUM, SINGLE = 1, 2
COMPILATION, SOUNDTRACK = 1, 2


def test_single_one_year_early_loses_to_album(spark):
    # single 1994, album 1995 -> single year_value = 1995 (penalty), ties
    # the album on year, loses on type_priority (album=1 < other=4).
    winner = _pick_winner(
        spark,
        [
            ("single", 1994, SINGLE, [], False),
            ("album", 1995, ALBUM, [], False),
        ],
    )
    assert winner == "album"


def test_single_two_years_early_wins(spark):
    winner = _pick_winner(
        spark,
        [
            ("single", 1993, SINGLE, [], False),
            ("album", 1995, ALBUM, [], False),
        ],
    )
    assert winner == "single"


def test_single_from_beats_same_year_compilation(spark):
    winner = _pick_winner(
        spark,
        [
            ("comp", 1995, ALBUM, [COMPILATION], False),
            ("target", 1995, SINGLE, [], True),
        ],
    )
    assert winner == "target"


def test_null_year_is_9999_without_penalty(spark):
    # A NULL-year compilation must TIE a 9998-year "other" on
    # year_value+1=9999 and then win on type_priority (3 < 4) — the
    # reference assigns 9999 unconditionally, never 9999+1.
    winner = _pick_winner(
        spark,
        [
            ("nullcomp", None, ALBUM, [COMPILATION], False),
            ("other", 9998, SINGLE, [SOUNDTRACK, COMPILATION], False),
        ],
    )
    # other: a SINGLE with secondary types is NOT a soundtrack album
    # (release_type==1 guard, src/main.py:36-37) -> type_priority 4;
    # nullcomp: year_value 9999 (no +1), type_priority 3 -> wins
    assert winner == "nullcomp"


def test_secondary_types_on_single_do_not_make_it_an_album(spark):
    # same-year: a SINGLE carrying a soundtrack secondary must rank as
    # "other" (4), losing to a true soundtrack ALBUM (2)
    winner = _pick_winner(
        spark,
        [
            ("fake", 1995, SINGLE, [SOUNDTRACK], False),
            ("real", 1995, ALBUM, [SOUNDTRACK], False),
        ],
    )
    assert winner == "real"


def test_soundtrack_outranks_compilation_same_year(spark):
    winner = _pick_winner(
        spark,
        [
            ("comp", 1995, ALBUM, [COMPILATION], False),
            ("strack", 1995, ALBUM, [SOUNDTRACK], False),
        ],
    )
    assert winner == "strack"


def test_main_album_requires_no_secondary_types(spark):
    # album with a secondary type is NOT a main album -> +1 year penalty
    winner = _pick_winner(
        spark,
        [
            ("tainted", 1994, ALBUM, [COMPILATION], False),
            ("clean", 1995, ALBUM, [], False),
        ],
    )
    assert winner == "clean"


def test_is_single_flag(spark):
    df = spark.createDataFrame([(SINGLE,), (ALBUM,)], "rg_type int")
    got = [r[0] for r in df.select(is_single("rg_type")).collect()]
    assert got == [True, False]
