"""The composed MusicBrainz-shaped ETL pipeline — the reference's
full DAG (``sql/1 → sql/3 → sql/4 → src/main.py → sql/5``,
README.md:142-201) as one set-oriented Spark job over
FIXTURES.md §B-shaped input relations.

Where the reference loops artist-by-artist with correlated scalar
subqueries, every stage here is a whole-dataset plan, written as ONE
Spark-SQL text (``STAGES``, keyed by the relation it computes):

| reference                                   | stage                  |
|---------------------------------------------|------------------------|
| sql/1 depth-3 part-of area chain            | area_country_map       |
| sql/3 artist cut (be OR score>8)            | mb_artist              |
| sql/4 4-branch alias union                  | mb_artist_alias        |
| main.py singlesQuery per artist             | single_from_relations  |
| main.py recordings_query (+soundtrack pool) | candidates             |
| main.py per-recording min(sort_key)         | canonical              |
| main.py album / song exports                | mb_album, mb_song      |
| sql/5 4-branch song alias union             | mb_song_alias          |

A stage reads its inputs by name (``{name}``). ``build_stage`` turns a
stage into one ``spark.sql(text, **inputs)`` call: the upstream stages
and text-defined tables it reaches become CTEs of the one statement,
and each input DataFrame is bound by PySpark to a uniquely named
``_pyspark_<uuid>`` temp view that is dropped once the statement is
analyzed — no session-global name is created, so one build cannot
invalidate another. The same DAG composed from Column operations cost
~8,400 py4j round trips per warm build of ``mb_pipeline_scale``, each
~100 µs of driver latency, and one analysis per operation; as SQL text
the driver pays one parse and one analysis per statement, whatever the
column count.

In the texts ``{{name}}`` is an input relation and ``{NAME}`` a Python
constant or SQL snippet spliced in at import time.

Scale notes: the per-artist loop becomes a shuffle keyed on
(artist, recording) — AQE splits the Beatles-sized keys; the five
correlated subqueries of recordings_query are decorrelated into
pre-aggregated joins (A2/A4); the argmin is the min_by aggregate.
"""

from __future__ import annotations

from collections.abc import Mapping
from string import Formatter

from pyspark.sql import DataFrame

from .functions.normalize import search_key_expr as _key
from .functions.scoring import (
    canonical_sort_key_exprs,
    is_compilation_expr,
    is_main_album_expr,
    is_single_expr,
    is_soundtrack_expr,
)

PART_OF_LINK = 118734  # l_area_area link id for "part of" (sql/1:14)
LEGAL_NAME_LINK_TYPE = 103  # l_artist_artist link_type (sql/4:27)
LEGAL_NAME_ATTRIBUTE = 1094  # link_attribute.attribute_type (sql/4:28)
SINGLE_FROM_LINK_TYPE = 11  # l_release_group_release_group (main.py:87)
STATUS_OFFICIAL = 1  # release.status (main.py:142)
SOUNDTRACK_SECONDARY = 2


# sql/1: resolve every area to a country code by walking the part-of
# chain up to 3 levels, first non-null wins. Fixed-depth unrolled
# self-joins — no recursion needed; the link-type constant is folded
# into each edge scan. An area with several part-of parents yields one
# row per chain; the reference collapses to one via PRIMARY KEY + ON
# CONFLICT DO NOTHING (arbitrary winner). We collapse
# deterministically: min non-null country code.
_AREA_MAP = f"""
WITH edges AS (
  SELECT entity0 AS parent, entity1 AS child FROM {{l_area_area}}
  WHERE link = {PART_OF_LINK}
),
iso AS (SELECT area AS iso_area, code FROM {{iso_3166_1}})
SELECT a.id AS area_id,
       min(lower(coalesce(c0.code, c1.code, c2.code, c3.code))) AS country_id
FROM {{area}} a
LEFT JOIN iso c0 ON a.id = c0.iso_area
LEFT JOIN edges l1 ON a.id = l1.child
LEFT JOIN iso c1 ON l1.parent = c1.iso_area
LEFT JOIN edges l2 ON l1.parent = l2.child
LEFT JOIN iso c2 ON l2.parent = c2.iso_area
LEFT JOIN edges l3 ON l2.parent = l3.child
LEFT JOIN iso c3 ON l3.parent = c3.iso_area
GROUP BY a.id
"""


# sql/3: the correlated COUNT becomes a pre-aggregate join. area_map is
# an aggregate over the area dimension — bounded by |areas of the
# world| (~120k rows, a few MB at the full dump), but the
# post-aggregate estimate is opaque to the planner, which
# sort-merge-joined it against every artist (r16 plan dump, node 64).
# Broadcast explicitly: the bound is structural (geography), not an
# SF-scaled table like `part`.
_ARTIST_CUT = """
SELECT /*+ BROADCAST(m) */
       a.id, a.gid AS mb_id, a.name, m.country_id,
       coalesce(s.score, 0) AS score
FROM {artist} a
LEFT JOIN (
  SELECT entity0 AS artist_id, count(*) AS score FROM {l_artist_url}
  GROUP BY entity0
) s ON a.id = s.artist_id
LEFT JOIN {area_country_map} m ON a.area = m.area_id
WHERE m.country_id = 'be' OR coalesce(s.score, 0) > 8
"""


# sql/4: UNION-distinct of (own name, alias-table names, credited names,
# legal-name-linked artists' names), normalized to the search key.
# Distinct AFTER normalization so spelling variants that fold to one key
# dedupe (ON CONFLICT DO NOTHING twin). DELIBERATE unification: the
# reference keys the alias TABLES with the SQL variant (``\W`` strip —
# keeps underscores, keeps "(live)"; sql/4:32) but queries them with the
# Python ``search_key`` (strips both; src/util.py:14-16), so its write
# and read keys disagree on those inputs. This engine uses the Python
# variant on BOTH sides (functions/normalize.py), so stored aliases
# always match query keys.
_ARTIST_ALIASES = f"""
WITH legal_links AS (
  SELECT aa.entity1 AS id, aa.entity0 AS other
  FROM {{l_artist_artist}} aa
  JOIN {{link}} l ON aa.link = l.id AND l.link_type = {LEGAL_NAME_LINK_TYPE}
  JOIN {{link_attribute}} la
    ON aa.link = la.link AND la.attribute_type = {LEGAL_NAME_ATTRIBUTE}
),
named AS (
  SELECT id, name FROM {{mb_artist}}
  UNION ALL
  SELECT m.id, al.name FROM {{mb_artist}} m
  JOIN {{artist_alias}} al ON m.id = al.artist
  UNION ALL
  SELECT m.id, c.name FROM {{mb_artist}} m
  JOIN {{artist_credit_name}} c ON m.id = c.artist
  UNION ALL
  SELECT m.id, o.name FROM {{mb_artist}} m
  JOIN legal_links ll ON m.id = ll.id
  JOIN {{artist}} o ON ll.other = o.id
)
SELECT DISTINCT artist_id, alias FROM (
  SELECT id AS artist_id, {_key("name")} AS alias FROM named
) WHERE alias != ''
"""


# main.py singlesQuery, set-oriented: for every artist, the
# (single-title search key -> album gid) pairs connected by a
# link_type=11 'single from' relation.
_SINGLE_FROM = f"""
SELECT DISTINCT c.artist AS artist_id, {_key("s.name")} AS title_key,
       a.gid AS album_gid
FROM {{artist_credit_name}} c
JOIN {{artist_credit}} ac ON c.artist_credit = ac.id
JOIN {{release_group}} s ON c.artist_credit = s.artist_credit
JOIN {{l_rg_rg}} r ON s.id = r.entity0
JOIN {{link}} l ON r.link = l.id AND l.link_type = {SINGLE_FROM_LINK_TYPE}
JOIN {{release_group}} a ON r.entity1 = a.id
"""


# main.py recordings_query + recordings_query_soundtrack, both pools for
# ALL exported artists at once. The five correlated subqueries are
# decorrelated into pre-aggregated joins: release_group_year (min
# date_year per release group, A2), recording_score (#tracks per
# recording across releases, A4), secondary_types (collect_set per
# release group, A3), second_artist_id (position=1 credit per
# artist_credit, A5). The normal pool requires the release-group artist
# to equal the recording artist (cross-branch equality, J2); the
# soundtrack pool instead requires secondary_type = 2 (SET3 union).
_CANDIDATES = f"""
WITH
-- Decorrelated aggregates. release_group_year spans ALL releases of
-- the group: the reference's correlated subquery (src/main.py:104-109)
-- has NO status filter, unlike the spine (bootleg years count here).
rg_year AS (
  SELECT r.release_group AS rg_id, min(rc.date_year) AS release_group_year
  FROM {{release}} r JOIN {{release_country}} rc ON r.id = rc.release
  GROUP BY r.release_group
),
rec_score AS (
  SELECT t.recording AS rec_id, count(*) AS recording_score
  FROM {{track}} t
  JOIN {{medium}} m ON t.medium = m.id
  JOIN {{release}} r ON m.release = r.id
  GROUP BY t.recording
),
sec_types AS (
  SELECT release_group AS rg_id,
         sort_array(collect_set(secondary_type)) AS secondary_types
  FROM {{release_group_secondary_type_join}} GROUP BY release_group
),
second_artist AS (
  SELECT artist_credit AS ac_id, min(artist) AS second_artist_id
  FROM {{artist_credit_name}} WHERE position = 1 GROUP BY artist_credit
),
-- language pick per work (main.py:121-128): any usable language
-- (iso_code_1 set, or iso_code_3 = 'zxx' = "no language"); the
-- reference's LIMIT 1 is made deterministic with MIN (A5).
lang_pick AS (
  SELECT wl.work AS work_id, min(coalesce(l.iso_code_1, l.iso_code_3)) AS language
  FROM {{work_language}} wl JOIN {{language}} l ON wl.language = l.id
  WHERE l.iso_code_1 IS NOT NULL OR l.iso_code_3 = 'zxx'
  GROUP BY wl.work
),
-- THE selectivity lever (sql/3 cut, README.md:37): restrict to the
-- exported artists' recordings FIRST, before any of the fat joins — at
-- full MusicBrainz scale this turns the spine's input from every
-- recording into the Belgian-or-popular slice, exactly like the
-- reference's per-artist WHERE does. The cut id set is by design a
-- small slice of the artist universe (~tens of thousands of longs at
-- the full dump); its filter+aggregate chain hides that from the
-- planner, which sort-merge-joined it, shuffling EVERY recording to
-- apply the very filter meant to avoid touching most of them (r16 plan
-- dump, node 69). Broadcast: the recordings side never exchanges for
-- this semi join.
cut_recordings AS (
  SELECT /*+ BROADCAST(cut) */
         r.id AS recording_id, r.gid AS recording_mb_id,
         r.name AS recording_name, r.artist_credit AS rec_ac,
         fc.artist AS artist_id
  FROM {{recording}} r
  JOIN {{artist_credit_name}} fc
    ON r.artist_credit = fc.artist_credit AND fc.position = 0
  LEFT SEMI JOIN (SELECT id FROM {{mb_artist}}) cut ON fc.artist = cut.id
),
-- The spine: recording -> track -> medium -> release(official) ->
-- release_country + release_group, credits on both branches
spine AS (
  SELECT c.*, rc.date_year, rg.id AS rg_id, rg.gid AS release_group_mb_id,
         rg.name AS release_group_name, rg.type AS release_type,
         rg.artist_credit AS rg_ac
  FROM cut_recordings c
  JOIN {{track}} t ON c.recording_id = t.recording
  JOIN {{medium}} m ON t.medium = m.id
  JOIN {{release}} r ON m.release = r.id AND r.status = {STATUS_OFFICIAL}
  JOIN {{release_country}} rc ON r.id = rc.release
  JOIN {{release_group}} rg ON r.release_group = rg.id
),
-- Pool membership as ONE spine pass (round-4 plan fix): the naive form
-- — two left-semi joins UNION'd — makes Spark execute the whole 5-join
-- spine subtree TWICE (no common-subexpression elimination across a
-- union). The union's duplicates were collapsed by the GROUP BY below
-- anyway, so an equivalent plan is one spine + two existence flags +
-- an OR filter: the flag sides are key-distinct (so the left joins
-- cannot multiply rows) and tiny relative to the spine at any scale.
normal_keys AS (
  SELECT nk_ac, nk_artist, true AS in_normal FROM (
    SELECT DISTINCT artist_credit AS nk_ac, artist AS nk_artist
    FROM {{artist_credit_name}}
  )
),
st_keys AS (
  SELECT st_rg, true AS in_st FROM (
    SELECT DISTINCT release_group AS st_rg
    FROM {{release_group_secondary_type_join}}
    WHERE secondary_type = {SOUNDTRACK_SECONDARY}
  )
),
pooled AS (
  SELECT s.* FROM spine s
  LEFT JOIN normal_keys n ON s.rg_ac = n.nk_ac AND s.artist_id = n.nk_artist
  LEFT JOIN st_keys st ON s.rg_id = st.st_rg
  WHERE n.in_normal OR st.in_st
),
-- LEFT work edge with the join-side bound (P9, main.py:140)
work_edge AS (
  SELECT e.entity0 AS edge_recording, w.gid AS work_mb_id, lp.language
  FROM {{l_recording_work}} e
  JOIN {{work}} w ON e.entity1 = w.id
  LEFT JOIN lang_pick lp ON w.id = lp.work_id
  WHERE e.link_order <= 1
),
-- GROUP BY (recording, release_group, work): release_year =
-- min(date_year) within the group (main.py GROUP BY + MIN). rec_ac
-- rides along as a grouping key: it is functionally dependent on
-- recording_id (one credit per recording row), so it does not change
-- the groups — and having it here lets the second-artist lookup join
-- directly on it instead of re-deriving the whole `recording` subtree
-- a second time (round-4 plan fix).
grouped AS (
  SELECT p.artist_id, p.recording_id, p.rec_ac, p.recording_mb_id,
         p.recording_name, p.rg_id, p.release_group_mb_id,
         p.release_group_name, p.release_type, we.work_mb_id, we.language,
         min(p.date_year) AS release_year
  FROM pooled p LEFT JOIN work_edge we ON p.recording_id = we.edge_recording
  GROUP BY p.artist_id, p.recording_id, p.rec_ac, p.recording_mb_id,
           p.recording_name, p.rg_id, p.release_group_mb_id,
           p.release_group_name, p.release_type, we.work_mb_id, we.language
)
-- no DISTINCT needed: the GROUP BY above already collapses duplicate
-- rows across the two pools (pool flags are computed BEFORE the
-- grouping), and every join after it is 1:1 on its key
SELECT g.rg_id, g.recording_id, g.artist_id, g.recording_mb_id,
       g.recording_name, g.release_group_mb_id, g.release_group_name,
       g.release_type, g.work_mb_id, g.language, g.release_year,
       ry.release_group_year, rs.recording_score, st.secondary_types,
       sa.second_artist_id
FROM grouped g
LEFT JOIN rg_year ry ON g.rg_id = ry.rg_id
LEFT JOIN rec_score rs ON g.recording_id = rs.rec_id
LEFT JOIN sec_types st ON g.rg_id = st.rg_id
LEFT JOIN second_artist sa ON g.rec_ac = sa.ac_id
"""


# main.py:242 for every (artist, recording) at once: drop NULL-year
# entries (process_entry:232), mark is_single_from via the relations
# set, build the 3-part lexicographic key, take the min — ONE min_by
# aggregation keyed on (artist, recording), whose map-side partial
# combine keeps a hot artist balanced (see
# operators.canonical.argmin_per_group).
_MAIN = is_main_album_expr("release_type", "secondary_types")
_SOUNDTRACK = is_soundtrack_expr("release_type", "secondary_types")
_YEAR_VALUE, _REF_PRIORITY, _TYPE_PRIORITY = canonical_sort_key_exprs(
    "release_year",
    "is_single_from",
    _MAIN,
    _SOUNDTRACK,
    is_compilation_expr("release_type", "secondary_types"),
)
# the argmin's payload: every output column but the group keys
_PAYLOAD = (
    "recording_name, release_group_mb_id, release_group_name, release_type, "
    "release_year, release_group_year, recording_score, second_artist_id, "
    "work_mb_id, language, is_single_from, is_main_album, is_soundtrack, "
    "year_value, ref_priority, type_priority"
)
_CANONICAL = f"""
WITH flagged AS (
  SELECT c.*, coalesce(sf.flag, false) AS is_single_from
  FROM {{candidates}} c
  LEFT JOIN (
    SELECT artist_id, title_key, album_gid, true AS flag FROM {{single_from_relations}}
  ) sf
    ON c.artist_id = sf.artist_id
   AND {_key("c.recording_name")} = sf.title_key
   AND c.release_group_mb_id = sf.album_gid
  WHERE c.release_year IS NOT NULL
),
scored AS (
  SELECT artist_id, recording_mb_id, recording_name, release_group_mb_id,
         release_group_name, release_type, release_year, release_group_year,
         recording_score, second_artist_id, work_mb_id, language,
         is_single_from,
         {_MAIN} AS is_main_album,
         {_SOUNDTRACK} AS is_soundtrack,
         {_YEAR_VALUE} AS year_value,
         {_REF_PRIORITY} AS ref_priority,
         {_TYPE_PRIORITY} AS type_priority,
         -- a recording with two work edges (link_order 0 and 1) on the
         -- same release group ties on every reference sort component —
         -- the reference's min() then keeps arbitrary query order; we
         -- break the tie deterministically on the work gid (NULL-work
         -- rows first)
         coalesce(work_mb_id, '') AS work_key
  FROM flagged
)
SELECT artist_id, recording_mb_id, best.*, {is_single_expr("best.release_type")} AS is_single
FROM (
  SELECT artist_id, recording_mb_id,
         min_by(
           struct({_PAYLOAD}),
           struct(year_value, ref_priority, type_priority,
                  release_group_mb_id, work_key)
         ) AS best
  FROM scored
  GROUP BY artist_id, recording_mb_id
)
"""


# sql/5: UNION-distinct of recording name / recording aliases / work
# name / work aliases of each song (``id``, ``mb_id``), keyed by the
# normalized alias.
_SONG_ALIASES = f"""
WITH rec AS (
  SELECT s.id AS song_id, r.id AS recording_id, r.name
  FROM {{songs}} s JOIN {{recording}} r ON s.mb_id = r.gid
),
works AS (
  SELECT rec.song_id, w.id AS work_id, w.name
  FROM rec
  JOIN {{l_recording_work}} e ON rec.recording_id = e.entity0
  JOIN {{work}} w ON e.entity1 = w.id
),
named AS (
  SELECT song_id, name FROM rec
  UNION ALL
  SELECT rec.song_id, ra.name FROM rec
  JOIN {{recording_alias}} ra ON rec.recording_id = ra.recording
  UNION ALL
  SELECT song_id, name FROM works
  UNION ALL
  SELECT works.song_id, wa.name FROM works
  JOIN {{work_alias}} wa ON works.work_id = wa.work
)
SELECT DISTINCT song_id, alias FROM (
  SELECT song_id, {_key("name")} AS alias FROM named
) WHERE alias != ''
"""


# mb_album.release_year is the GROUP-wide year (all releases, no status
# filter — src/main.py:264-272 exports release_group_year), not the
# winning entry's official-only year. mb_album.is_single is the
# release-group type; mb_song.is_single is the single-from FLAG (the
# reference's VALUES tuple, src/main.py:281-292).
_MB_ALBUM = f"""
SELECT DISTINCT release_group_mb_id AS mb_id, release_group_name AS title,
       release_group_year AS release_year, is_soundtrack,
       {is_single_expr("release_type")} AS is_single, is_main_album
FROM {{canonical}}
"""
_MB_SONG = """
SELECT recording_mb_id AS mb_id, work_mb_id, recording_name AS title,
       artist_id, second_artist_id, release_group_mb_id AS album_mb_id,
       is_single_from AS is_single, language, recording_score AS score
FROM {canonical}
"""


# Each stage of the DAG by the name of the relation it computes. A stage
# reads its inputs by name, as ``{name}``: a source table or an upstream
# stage.
STAGES = {
    "area_country_map": _AREA_MAP,
    "mb_artist": _ARTIST_CUT,
    "single_from_relations": _SINGLE_FROM,
    "candidates": _CANDIDATES,
    "canonical": _CANONICAL,
    "mb_artist_alias": _ARTIST_ALIASES,
    "mb_album": _MB_ALBUM,
    "mb_song": _MB_SONG,
    # sql/5 keys the song aliases on the song id; the fixture world's
    # songs are keyed on their mb_id
    "songs": "SELECT *, mb_id AS id FROM {mb_song}",
    "mb_song_alias": _SONG_ALIASES,
}
CANONICAL_STAGES = (
    "area_country_map", "mb_artist", "single_from_relations", "candidates", "canonical",
)  # fmt: skip
EXPORT_STAGES = ("mb_artist_alias", "mb_album", "mb_song", "mb_song_alias")


def build_stage(name: str, relations: Mapping[str, DataFrame | str]) -> DataFrame:
    """The relation ``name`` as ONE ``spark.sql`` statement.

    ``name`` and the relations it reads resolve in ``relations`` first,
    then in ``STAGES``. A DataFrame is bound by spark.sql; a SQL text
    (a stage, or a text-defined table) is inlined as a CTE, and so is
    every text it reads in turn. Binding is the costly part: each bound
    DataFrame is a temp-view command (one SQL execution, ~5 ms of warm
    driver time), while a CTE costs only its share of the one parse."""
    frames = {k: v for k, v in relations.items() if isinstance(v, DataFrame)}
    texts = {**STAGES, **{k: v for k, v in relations.items() if isinstance(v, str)}}
    inputs: dict[str, DataFrame] = {}
    ctes: list[str] = []

    def visit(rel: str) -> None:
        if rel in frames:
            inputs[rel] = frames[rel]
        elif rel not in ctes:
            for _, ref, _, _ in Formatter().parse(texts[rel]):
                if ref:
                    visit(ref)
            ctes.append(rel)

    visit(name)
    # a CTE is referenced by its name; a bound input stays a placeholder
    refs = {**{rel: "{" + rel + "}" for rel in inputs}, **{rel: f"`{rel}`" for rel in ctes}}
    body = ",\n".join(f"`{rel}` AS ({texts[rel].format(**refs)})" for rel in ctes)
    spark = next(iter(inputs.values())).sparkSession
    return spark.sql(f"WITH {body}\nSELECT * FROM `{name}`", **inputs)


def song_aliases(
    songs: DataFrame,
    recording: DataFrame,
    recording_alias: DataFrame,
    l_recording_work: DataFrame,
    work: DataFrame,
    work_alias: DataFrame,
) -> DataFrame:
    """The ``mb_song_alias`` stage over the given songs and tables."""
    return build_stage(
        "mb_song_alias",
        {
            "songs": songs,
            "recording": recording,
            "recording_alias": recording_alias,
            "l_recording_work": l_recording_work,
            "work": work,
            "work_alias": work_alias,
        },
    )


def canonical_pipeline(tables: Mapping[str, DataFrame | str]) -> dict[str, DataFrame]:
    """The canonical half of the DAG (area map -> artist cut ->
    single-from relations -> candidates -> canonical argmin), each
    stage one ``build_stage`` statement over ``tables``. A caller that
    reads only ``canonical`` builds ``build_stage("canonical", tables)``."""
    return {name: build_stage(name, tables) for name in CANONICAL_STAGES}


def run_pipeline(tables: Mapping[str, DataFrame | str]) -> dict[str, DataFrame]:
    """The full DAG. ``tables`` holds FIXTURES.md §B.2-shaped inputs;
    returns the §B.1-shaped exports and the canonical half's stages."""
    return {name: build_stage(name, tables) for name in CANONICAL_STAGES + EXPORT_STAGES}
