"""String normalization (SURVEY §2.8 F1/F2/F6).

The reference's workhorse is ``search_key``: unidecode → lower → strip
everything non-alphanumeric (``/root/reference/src/util.py:14-16``;
SQL twin ``LOWER(REGEXP_REPLACE(UNACCENT(name), '\\W', '', 'g'))`` at
``sql/4_artist_alias_data.sql:32`` and ``sql/5_song_alias_data.sql:34``).
The two reference variants disagree on ``_`` (``\\W`` keeps it,
``[^a-zA-Z0-9]`` strips it); we canonicalize on the Python variant —
strip underscores too — and document that choice here.

``unaccent`` has no Spark built-in. Strategy:

1. ``F.translate`` over a Latin-1/Latin-2 fold table — a pure JVM
   column expression, whole-stage-codegen friendly, covers the
   overwhelming majority of western-script music metadata.
2. An optional vectorized ``pandas_udf`` fallback using ``unidecode``
   for full-fidelity transliteration, gated behind an import-try
   (the package is not in this container).

Everything stays a column expression: no row-at-a-time Python in the
hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Latin fold table: each accented char maps to one ASCII char.
# (F.translate is strictly 1 char -> 1 char, so multi-char folds like
# æ -> "ae" are handled by regexp_replace below.)
#
# _FOLDED is DERIVED from _ACCENTED at import time (NFD-decompose and
# strip combining marks, with an explicit map for letters whose ASCII
# fold is not a decomposition: ø đ ħ ı ł ŧ). A hand-typed twin table
# went misaligned once (round 1); a generated one cannot.
_ACCENTED = (
    "àáâãäåāăąçćĉċčďđèéêëēĕėęěĝğġģĥħìíîïĩīĭįıĵķĺļľŀłñńņňòóôõöøōŏőŕŗřśŝşšţťŧùúûüũūŭůűųŵýÿŷźżž"
    "ÀÁÂÃÄÅĀĂĄÇĆĈĊČĎĐÈÉÊËĒĔĖĘĚĜĞĠĢĤĦÌÍÎÏĨĪĬĮİĴĶĹĻĽĿŁÑŃŅŇÒÓÔÕÖØŌŎŐŔŖŘŚŜŞŠŢŤŦÙÚÛÜŨŪŬŮŰŲŴÝŸŶŹŻŽ"
)

_NO_DECOMPOSITION = {
    "ø": "o", "Ø": "O", "đ": "d", "Đ": "D", "ħ": "h", "Ħ": "H",
    "ı": "i", "ł": "l", "Ł": "L", "ŧ": "t", "Ŧ": "T", "ŀ": "l", "Ŀ": "L",
}


def _ascii_fold_char(ch: str) -> str:
    if ch in _NO_DECOMPOSITION:
        return _NO_DECOMPOSITION[ch]
    import unicodedata  # noqa: PLC0415

    base = "".join(
        c for c in unicodedata.normalize("NFD", ch) if not unicodedata.combining(c)
    )
    if len(base) != 1 or ord(base) > 0x7F:
        raise ValueError(f"char {ch!r} has no single-ASCII fold; extend _NO_DECOMPOSITION")
    return base


_FOLDED = "".join(_ascii_fold_char(ch) for ch in _ACCENTED)

# Multi-char folds that translate() cannot express.
_MULTI_FOLDS = [("æ", "ae"), ("Æ", "AE"), ("œ", "oe"), ("Œ", "OE"), ("ß", "ss"), ("þ", "th"), ("Þ", "Th"), ("ð", "d"), ("Ð", "D")]


def unaccent(col: Column | str) -> Column:
    """Latin-script accent folding as a JVM-side expression.
    Multi-char folds use literal ``replace`` (plain substring scan),
    not ``regexp_replace`` — same semantics, no regex engine per row."""
    c = F.col(col) if isinstance(col, str) else col
    for src, dst in _MULTI_FOLDS:
        c = F.replace(c, F.lit(src), F.lit(dst))
    return F.translate(c, _ACCENTED, _FOLDED)


def unaccent_full(col: Column | str) -> Column:
    """Full-fidelity transliteration via unidecode, vectorized.

    Falls back to the translate-map ``unaccent`` when unidecode is not
    installed (it is not in this container). Only use when the corpus
    has non-Latin scripts that must round-trip to ASCII.
    """
    try:
        from unidecode import unidecode  # noqa: PLC0415
    except ImportError:
        return unaccent(col)

    import pandas as pd  # noqa: PLC0415
    from pyspark.sql import types as T  # noqa: PLC0415

    @F.pandas_udf(T.StringType())
    def _unidecode(s: pd.Series) -> pd.Series:
        return s.map(lambda x: unidecode(x) if x is not None else None)

    return _unidecode(F.col(col) if isinstance(col, str) else col)


def search_key_expr(e: str) -> str:
    """Spark-SQL rendering of search_key over an expression snippet —
    the same functions the Column path composes, as ONE parse."""
    for src, dst in _MULTI_FOLDS:
        e = f"replace({e}, '{src}', '{dst}')"
    e = f"translate({e}, '{_ACCENTED}', '{_FOLDED}')"
    return (
        f"regexp_replace(replace(lower({e}), '(live)', ''), '[^a-z0-9]+', '')"
    )


def search_key(col: Column | str) -> Column:
    """The reference's canonical matching key (src/util.py:14-16):
    unaccent → lower → drop "(live)" → strip non-[a-z0-9].

    The "(live)" removal happens before the strip, mirroring the
    reference exactly (it is a no-op on the final key because '(' and
    ')' are stripped anyway — kept for fidelity, see SURVEY F1).

    A ``str`` argument is treated as a Spark-SQL expression snippet
    (a bare column name still works) and rendered as a SINGLE
    ``F.expr`` parse: the Column composition below costs ~40 py4j
    round trips per call (~15 ms of pure driver latency), which the
    fuzzy/benchmark builders pay dozens of times per bench trial.
    The parsed plan is function-for-function the same expression.
    """
    if isinstance(col, str):
        return F.expr(search_key_expr(col))
    c = F.lower(unaccent(col))
    c = F.replace(c, F.lit("(live)"), F.lit(""))
    return F.regexp_replace(c, "[^a-z0-9]+", "")


# DuckDB twin of search_key(), for oracle SQL strings. DuckDB's
# strip_accents covers the single-char Latin folds but leaves
# ligatures/specials (æ ø ß đ þ ð …) intact, which the [^a-z0-9] strip
# would then delete — so apply the same _MULTI_FOLDS and
# _NO_DECOMPOSITION replacements explicitly before strip_accents to
# keep both engines' keys identical on non-ASCII input.
def search_key_sql(expr: str) -> str:
    e = expr
    for src, dst in list(_MULTI_FOLDS) + sorted(_NO_DECOMPOSITION.items()):
        e = f"replace({e}, '{src}', '{dst}')"
    return (
        "regexp_replace(replace(lower(strip_accents(" + e + ")), '(live)', ''),"
        " '[^a-z0-9]+', '', 'g')"
    )


# Unicode punctuation canonicalization (benchmark.py:14-21): the
# reference maps … ’ “ ” ‐ to ASCII. '…' is a 1→3 fold so it goes
# through replace(); the 1→1 folds go through translate().
def clean(col: Column | str) -> Column:
    if isinstance(col, str):
        # one parse instead of two py4j-built ops; '\'' escapes the
        # ASCII apostrophe inside the SQL string literal
        return F.expr(
            f"translate(replace({col}, '…', '...'), '’“”‐', '\\'\"\"-')"
        )
    c = F.replace(col, F.lit("…"), F.lit("..."))
    return F.translate(c, "’“”‐", "'\"\"-")


def clean_sql(expr: str) -> str:
    e = f"replace({expr}, '…', '...')"
    e = f"replace({e}, '’', '''')"
    e = f"replace({e}, '“', '\"')"
    e = f"replace({e}, '”', '\"')"
    return f"replace({e}, '‐', '-')"
