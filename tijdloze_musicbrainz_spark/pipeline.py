"""The composed MusicBrainz-shaped ETL pipeline — the reference's
full DAG (``sql/1 → sql/3 → sql/4 → src/main.py → sql/5``,
README.md:142-201) as one set-oriented Spark job over
FIXTURES.md §B-shaped input DataFrames.

Where the reference loops artist-by-artist with correlated scalar
subqueries, every stage here is a whole-dataset DataFrame plan:

| reference                                   | here                       |
|---------------------------------------------|----------------------------|
| sql/1 depth-3 part-of area chain            | area_country_map           |
| sql/3 artist cut (be OR score>8)            | artist_export              |
| sql/4 4-branch alias union                  | artist_aliases             |
| main.py singlesQuery per artist             | single_from_relations      |
| main.py recordings_query (+soundtrack pool) | candidate_entries          |
| main.py per-recording min(sort_key)         | canonical_selection        |
| sql/5 4-branch song alias union             | song_aliases               |

Scale notes: the per-artist loop becomes a shuffle keyed on
(artist, recording) — AQE splits the Beatles-sized keys; the five
correlated subqueries of recordings_query are decorrelated into
pre-aggregated joins (A2/A4); the argmin is the min_by aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions.normalize import search_key
from .functions.scoring import (
    canonical_sort_key,
    is_compilation,
    is_main_album,
    is_single,
    is_soundtrack,
)
from .operators.canonical import argmin_per_group

PART_OF_LINK = 118734  # l_area_area link id for "part of" (sql/1:14)
LEGAL_NAME_LINK_TYPE = 103  # l_artist_artist link_type (sql/4:27)
LEGAL_NAME_ATTRIBUTE = 1094  # link_attribute.attribute_type (sql/4:28)
SINGLE_FROM_LINK_TYPE = 11  # l_release_group_release_group (main.py:87)
STATUS_OFFICIAL = 1  # release.status (main.py:142)
SOUNDTRACK_SECONDARY = 2


def area_country_map(
    area: DataFrame, iso_3166_1: DataFrame, l_area_area: DataFrame
) -> DataFrame:
    """sql/1: resolve every area to a country code by walking the
    part-of chain up to 3 levels, first non-null wins. Fixed-depth
    unrolled self-joins — no recursion needed; the link-type constant
    is folded into each edge scan."""
    edges = l_area_area.filter(F.col("link") == PART_OF_LINK).select(
        F.col("entity0").alias("parent"), F.col("entity1").alias("child")
    )
    iso = iso_3166_1.select(F.col("area").alias("iso_area"), "code")

    def code_for(col, alias):
        return iso.select(
            F.col("iso_area").alias(f"{alias}_area"),
            F.col("code").alias(alias),
        )

    a = area.select(F.col("id").alias("area_id"))
    l1 = edges.select(F.col("child").alias("l1_child"), F.col("parent").alias("l1_parent"))
    l2 = edges.select(F.col("child").alias("l2_child"), F.col("parent").alias("l2_parent"))
    l3 = edges.select(F.col("child").alias("l3_child"), F.col("parent").alias("l3_parent"))
    return (
        a.join(code_for("c0", "c0"), a.area_id == F.col("c0_area"), "left")
        .join(l1, a.area_id == l1.l1_child, "left")
        .join(code_for("c1", "c1"), F.col("l1_parent") == F.col("c1_area"), "left")
        .join(l2, F.col("l1_parent") == l2.l2_child, "left")
        .join(code_for("c2", "c2"), F.col("l2_parent") == F.col("c2_area"), "left")
        .join(l3, F.col("l2_parent") == l3.l3_child, "left")
        .join(code_for("c3", "c3"), F.col("l3_parent") == F.col("c3_area"), "left")
        .select(
            "area_id",
            F.lower(
                F.coalesce(F.col("c0"), F.col("c1"), F.col("c2"), F.col("c3"))
            ).alias("country_id"),
        )
        # an area with several part-of parents yields one row per
        # chain; the reference collapses to one via PRIMARY KEY +
        # ON CONFLICT DO NOTHING (arbitrary winner). We collapse
        # deterministically: min non-null country code.
        .groupBy("area_id")
        .agg(F.min("country_id").alias("country_id"))
    )


def artist_export(
    artist: DataFrame, l_artist_url: DataFrame, area_map: DataFrame
) -> DataFrame:
    """sql/3: artist universe cut — Belgian or popular (score = #URL
    links > 8). The correlated COUNT becomes a pre-aggregate join;
    the cut is THE selectivity lever of the whole pipeline (turns the
    full dump into the relevant slice before anything expensive)."""
    scores = l_artist_url.groupBy(F.col("entity0").alias("artist_id")).agg(
        F.count("*").alias("score")
    )
    # area_map is an aggregate over the area dimension — bounded by
    # |areas of the world| (~120k rows, a few MB at the full dump), but
    # the post-aggregate estimate is opaque to the planner, which
    # sort-merge-joined it against every artist (r16 plan dump, node
    # 64). Broadcast explicitly: the bound is structural (geography),
    # not an SF-scaled table like `part`.
    return (
        artist.join(scores, artist.id == scores.artist_id, "left")
        .join(F.broadcast(area_map), artist.area == area_map.area_id, "left")
        .select(
            "id",
            F.col("gid").alias("mb_id"),
            "name",
            "country_id",
            F.coalesce(F.col("score"), F.lit(0)).alias("score"),
        )
        .filter((F.col("country_id") == "be") | (F.col("score") > 8))
    )


def artist_aliases(
    mb_artist: DataFrame,
    artist_alias: DataFrame,
    artist_credit_name: DataFrame,
    l_artist_artist: DataFrame,
    link: DataFrame,
    link_attribute: DataFrame,
    artist: DataFrame,
) -> DataFrame:
    """sql/4: UNION-distinct of (own name, alias-table names, credited
    names, legal-name-linked artists' names), normalized to the search
    key. Distinct AFTER normalization so spelling variants that fold
    to one key dedupe (ON CONFLICT DO NOTHING twin).

    DELIBERATE unification: the reference keys the alias TABLES with
    the SQL variant (``\\W`` strip — keeps underscores, keeps
    "(live)"; sql/4:32) but queries them with the Python
    ``search_key`` (strips both; src/util.py:14-16), so its write and
    read keys disagree on those inputs. This engine uses the Python
    variant on BOTH sides (functions/normalize.py), so stored aliases
    always match query keys."""
    ids = mb_artist.select("id")
    own = mb_artist.select("id", "name")
    aliased = ids.join(
        artist_alias.select(F.col("artist").alias("id"), "name"), "id"
    )
    credited = ids.join(
        artist_credit_name.select(F.col("artist").alias("id"), "name"), "id"
    )
    legal_links = (
        l_artist_artist.join(
            link.filter(F.col("link_type") == LEGAL_NAME_LINK_TYPE).select(
                F.col("id").alias("link_id")
            ),
            F.col("link") == F.col("link_id"),
        )
        .join(
            link_attribute.filter(
                F.col("attribute_type") == LEGAL_NAME_ATTRIBUTE
            ).select(F.col("link").alias("attr_link")),
            F.col("link") == F.col("attr_link"),
        )
        .select(F.col("entity1").alias("id"), F.col("entity0").alias("other"))
    )
    legal = (
        ids.join(legal_links, "id")
        .join(
            artist.select(F.col("id").alias("other"), "name"),
            "other",
        )
        .select("id", "name")
    )
    unioned = own.unionByName(aliased).unionByName(credited).unionByName(legal)
    return (
        unioned.select(
            F.col("id").alias("artist_id"),
            search_key(F.col("name")).alias("alias"),
        )
        .filter(F.col("alias") != "")
        .distinct()
    )


def single_from_relations(
    artist_credit_name: DataFrame,
    artist_credit: DataFrame,
    release_group: DataFrame,
    l_rg_rg: DataFrame,
    link: DataFrame,
) -> DataFrame:
    """main.py singlesQuery, set-oriented: for every artist, the
    (single-title search key -> album gid) pairs connected by a
    link_type=11 'single from' relation."""
    singles = (
        artist_credit_name.select(
            F.col("artist").alias("sf_artist"),
            F.col("artist_credit").alias("sf_ac"),
        )
        .join(
            artist_credit.select(F.col("id").alias("sf_ac")),
            "sf_ac",
        )
        .join(
            release_group.select(
                F.col("id").alias("single_rg"),
                F.col("artist_credit").alias("sf_ac"),
                F.col("name").alias("single_title"),
            ),
            "sf_ac",
        )
    )
    rel = (
        singles.join(
            l_rg_rg.select(
                F.col("entity0").alias("single_rg"),
                F.col("entity1").alias("album_rg"),
                F.col("link").alias("rel_link"),
            ),
            "single_rg",
        )
        .join(
            link.filter(F.col("link_type") == SINGLE_FROM_LINK_TYPE).select(
                F.col("id").alias("rel_link")
            ),
            "rel_link",
        )
    )
    album_gids = rel.join(
        release_group.select(
            F.col("id").alias("album_rg"), F.col("gid").alias("album_gid")
        ),
        "album_rg",
    )
    return album_gids.select(
        F.col("sf_artist").alias("artist_id"),
        search_key(F.col("single_title")).alias("title_key"),
        F.col("album_gid"),
    ).distinct()


def candidate_entries(tables: dict[str, DataFrame], artist_ids: DataFrame) -> DataFrame:
    """main.py recordings_query + recordings_query_soundtrack, both
    pools for ALL artists at once. The five correlated subqueries
    are decorrelated into pre-aggregated joins:

    - release_group_year: min(date_year) per release group (A2)
    - recording_score:    #tracks per recording across releases (A4)
    - secondary_types:    collect_set per release group (A3)
    - second_artist_id:   position=1 credit per artist_credit (A5)

    Normal pool requires the release-group artist to equal the
    recording artist (cross-branch equality, J2); the soundtrack pool
    instead requires secondary_type = 2 (SET3 union)."""
    recording = tables["recording"]
    track = tables["track"]
    medium = tables["medium"]
    release = tables["release"].filter(F.col("status") == STATUS_OFFICIAL)
    release_country = tables["release_country"]
    release_group = tables["release_group"]
    acn = tables["artist_credit_name"]
    sec_join = tables["release_group_secondary_type_join"]
    l_rec_work = tables["l_recording_work"]
    work = tables["work"]

    # Decorrelated aggregates --------------------------------------
    # release_group_year spans ALL releases of the group — the
    # reference's correlated subquery (src/main.py:104-109) has NO
    # status filter, unlike the spine (bootleg years count here).
    rg_year = (
        tables["release"]
        .join(
            release_country.select(
                F.col("release").alias("rel_id"), "date_year"
            ),
            tables["release"].id == F.col("rel_id"),
        )
        .groupBy(F.col("release_group").alias("rg_id"))
        .agg(F.min("date_year").alias("release_group_year"))
    )
    rec_score = (
        track.join(
            medium.select(F.col("id").alias("medium"), F.col("release").alias("rel")),
            "medium",
        )
        .join(tables["release"].select(F.col("id").alias("rel")), "rel")
        .groupBy(F.col("recording").alias("rec_id"))
        .agg(F.count("*").alias("recording_score"))
    )
    sec_types = sec_join.groupBy(F.col("release_group").alias("rg_id")).agg(
        F.sort_array(F.collect_set("secondary_type")).alias("secondary_types")
    )
    second_artist = (
        acn.filter(F.col("position") == 1)
        .groupBy(F.col("artist_credit").alias("ac_id"))
        .agg(F.min("artist").alias("second_artist_id"))
    )
    # language pick per work (main.py:121-128): any usable language
    # (iso_code_1 set, or iso_code_3 = 'zxx' = "no language"); the
    # reference's LIMIT 1 is made deterministic with MIN (A5).
    lang_pick = (
        tables["work_language"]
        .join(
            tables["language"].select(
                F.col("id").alias("language"), "iso_code_1", "iso_code_3"
            ),
            "language",
        )
        .filter(F.col("iso_code_1").isNotNull() | (F.col("iso_code_3") == "zxx"))
        .groupBy(F.col("work").alias("work_id"))
        .agg(
            F.min(F.coalesce(F.col("iso_code_1"), F.col("iso_code_3"))).alias(
                "language"
            )
        )
    )

    # The spine: recording -> track -> medium -> release(official) ->
    # release_country + release_group, credits on both branches ------
    first_credit = acn.filter(F.col("position") == 0).select(
        F.col("artist_credit").alias("rec_ac"),
        F.col("artist").alias("artist_id"),
    )
    rg_credit = acn.select(
        F.col("artist_credit").alias("rg_ac"),
        F.col("artist").alias("rg_artist"),
    )
    # THE selectivity lever (sql/3 cut, README.md:37): restrict to the
    # exported artists' recordings FIRST, before any of the fat joins
    # — at full MusicBrainz scale this turns the spine's input from
    # every recording into the Belgian-or-popular slice, exactly like
    # the reference's per-artist WHERE does.
    cut_recordings = (
        recording.select(
            F.col("id").alias("recording_id"),
            F.col("gid").alias("recording_mb_id"),
            F.col("name").alias("recording_name"),
            F.col("artist_credit").alias("rec_ac"),
        )
        .join(first_credit, "rec_ac")
        # the cut id set is the pipeline's selectivity lever — by
        # design a small slice of the artist universe (BE-or-popular,
        # ~tens of thousands of longs at the full dump). The cut's
        # filter+aggregate chain hides that from the planner, which
        # sort-merge-joined it — shuffling EVERY recording to apply
        # the very filter meant to avoid touching most of them (r16
        # plan dump, node 69). Broadcast: the recordings side then
        # never exchanges for this semi join.
        .join(
            F.broadcast(artist_ids.select(F.col("id").alias("artist_id"))),
            "artist_id",
            "left_semi",
        )
    )
    spine = (
        cut_recordings.join(
            track.select(F.col("recording").alias("recording_id"), "medium"),
            "recording_id",
        )
        .join(medium.select(F.col("id").alias("medium"), F.col("release").alias("rel_id")), "medium")
        .join(release.select(F.col("id").alias("rel_id"), F.col("release_group").alias("rg_id")), "rel_id")
        .join(release_country.select(F.col("release").alias("rel_id"), "date_year"), "rel_id")
        .join(
            release_group.select(
                F.col("id").alias("rg_id"),
                F.col("gid").alias("release_group_mb_id"),
                F.col("name").alias("release_group_name"),
                F.col("type").alias("release_type"),
                F.col("artist_credit").alias("rg_ac"),
            ),
            "rg_id",
        )
    )

    # Pool membership as ONE spine pass (round-4 plan fix): the naive
    # form — two left-semi joins UNION'd — makes Spark execute the
    # whole 5-join spine subtree TWICE (no common-subexpression
    # elimination across a union). The union's duplicates were
    # collapsed by the groupBy below anyway, so an equivalent plan is
    # one spine + two existence flags + an OR filter: the flag sides
    # are key-distinct (so the left joins cannot multiply rows) and
    # tiny relative to the spine at any scale. Halves the spine cost.
    normal_keys = (
        rg_credit.select("rg_ac", "rg_artist")
        .distinct()
        .withColumn("__in_normal", F.lit(True))
    )
    st_keys = (
        sec_join.filter(F.col("secondary_type") == SOUNDTRACK_SECONDARY)
        .select(F.col("release_group").alias("rg_id"))
        .distinct()
        .withColumn("__in_st", F.lit(True))
    )
    pooled = (
        spine.join(
            normal_keys,
            (spine.rg_ac == normal_keys.rg_ac)
            & (spine.artist_id == normal_keys.rg_artist),
            "left",
        )
        .drop(normal_keys.rg_ac)
        .drop("rg_artist")
        .join(st_keys, "rg_id", "left")
        .filter(F.col("__in_normal") | F.col("__in_st"))
        .drop("__in_normal", "__in_st")
    )

    # LEFT work edge with the join-side bound (P9, main.py:140) ------
    work_edge = (
        l_rec_work.filter(F.col("link_order") <= 1)
        .select(
            F.col("entity0").alias("recording_id"),
            F.col("entity1").alias("work_id"),
        )
        .join(
            work.select(F.col("id").alias("work_id"), F.col("gid").alias("work_mb_id")),
            "work_id",
        )
        .join(lang_pick, "work_id", "left")
    )
    with_work = pooled.join(work_edge, "recording_id", "left")

    # GROUP BY (recording, release_group, work): release_year =
    # min(date_year) within the group (main.py GROUP BY + MIN).
    # rec_ac rides along as a grouping key: it is functionally
    # dependent on recording_id (one credit per recording row), so it
    # does not change the groups — and having it here lets the
    # second-artist lookup join directly on it instead of re-deriving
    # the whole `recording` subtree a second time (round-4 plan fix:
    # one fewer scan + shuffle of the biggest input).
    grouped = with_work.groupBy(
        "artist_id",
        "recording_id",
        "rec_ac",
        "recording_mb_id",
        "recording_name",
        "rg_id",
        "release_group_mb_id",
        "release_group_name",
        "release_type",
        "work_mb_id",
        "language",
    ).agg(F.min("date_year").alias("release_year"))

    return (
        grouped.join(rg_year, "rg_id", "left")
        .join(
            rec_score.withColumnRenamed("rec_id", "recording_id"),
            "recording_id",
            "left",
        )
        .join(sec_types, "rg_id", "left")
        .join(
            second_artist.withColumnRenamed("ac_id", "rec_ac"),
            "rec_ac",
            "left",
        )
        .drop("rec_ac")
        # no dropDuplicates needed: the groupBy above already collapses
        # duplicate rows across the two pools (pool flags are computed
        # BEFORE the grouping), and every join after it is 1:1 on its key
    )


def canonical_selection(
    candidates: DataFrame, single_from: DataFrame
) -> DataFrame:
    """main.py:242 for every (artist, recording) at once: drop
    NULL-year entries (process_entry:232), mark is_single_from via the
    relations set, build the 3-part lexicographic key, take the min —
    as a min_by aggregation keyed on (artist, recording)."""
    flagged = candidates.withColumn(
        "title_key", search_key(F.col("recording_name"))
    ).join(
        single_from.select(
            F.col("artist_id"),
            "title_key",
            F.col("album_gid").alias("release_group_mb_id"),
            F.lit(True).alias("is_single_from"),
        ),
        ["artist_id", "title_key", "release_group_mb_id"],
        "left",
    ).withColumn("is_single_from", F.coalesce("is_single_from", F.lit(False)))

    non_null = flagged.filter(F.col("release_year").isNotNull())
    main_album = is_main_album(F.col("release_type"), F.col("secondary_types"))
    yv, rp, tp = canonical_sort_key(
        F.col("release_year"),
        F.col("is_single_from"),
        main_album,
        is_soundtrack(F.col("release_type"), F.col("secondary_types")),
        is_compilation(F.col("release_type"), F.col("secondary_types")),
    )
    scored = non_null.select(
        "artist_id",
        "recording_mb_id",
        "recording_name",
        "release_group_mb_id",
        "release_group_name",
        "release_type",
        "release_year",
        "release_group_year",
        "recording_score",
        "second_artist_id",
        "work_mb_id",
        "language",
        "is_single_from",
        main_album.alias("is_main_album"),
        is_soundtrack(F.col("release_type"), F.col("secondary_types")).alias(
            "is_soundtrack"
        ),
        yv,
        rp,
        tp,
        # a recording with two work edges (link_order 0 and 1) on the
        # same release group ties on every reference sort component —
        # the reference's min() then keeps arbitrary query order; we
        # break the tie deterministically on the work gid (NULL-work
        # rows first)
        F.coalesce(F.col("work_mb_id"), F.lit("")).alias("__work_key"),
    )
    best = argmin_per_group(
        scored,
        ["artist_id", "recording_mb_id"],
        [
            "year_value",
            "ref_priority",
            "type_priority",
            "release_group_mb_id",
            "__work_key",
        ],
    ).drop("__work_key")
    return best.withColumn("is_single", is_single(F.col("release_type")))


def song_aliases(
    mb_song: DataFrame,
    recording: DataFrame,
    recording_alias: DataFrame,
    l_recording_work: DataFrame,
    work: DataFrame,
    work_alias: DataFrame,
) -> DataFrame:
    """sql/5: UNION-distinct of recording name / recording aliases /
    work name / work aliases, keyed by the normalized alias."""
    rec = mb_song.select(
        F.col("id").alias("song_id"), F.col("mb_id")
    ).join(
        recording.select(
            F.col("gid").alias("mb_id"),
            F.col("id").alias("recording_id"),
            F.col("name").alias("name"),
        ),
        "mb_id",
    )
    own = rec.select("song_id", "name")
    aliased = rec.join(
        recording_alias.select(
            F.col("recording").alias("recording_id"), F.col("name").alias("aname")
        ),
        "recording_id",
    ).select("song_id", F.col("aname").alias("name"))
    works = rec.join(
        l_recording_work.select(
            F.col("entity0").alias("recording_id"), F.col("entity1").alias("work_id")
        ),
        "recording_id",
    ).join(
        work.select(F.col("id").alias("work_id"), F.col("name").alias("wname")),
        "work_id",
    )
    work_names = works.select("song_id", F.col("wname").alias("name"))
    work_aliased = works.join(
        work_alias.select(F.col("work").alias("work_id"), F.col("name").alias("waname")),
        "work_id",
    ).select("song_id", F.col("waname").alias("name"))

    unioned = (
        own.unionByName(aliased).unionByName(work_names).unionByName(work_aliased)
    )
    return (
        unioned.select(
            "song_id", search_key(F.col("name")).alias("alias")
        )
        .filter(F.col("alias") != "")
        .distinct()
    )


def canonical_pipeline(tables: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """The canonical half of the DAG: area map -> artist cut ->
    single-from relations -> candidates -> canonical argmin. Callers
    that read only ``canonical`` use this instead of run_pipeline:
    PySpark analyzes every DataFrame as it is built, and each export
    branch re-analyzes the whole canonical plan beneath it."""
    area_map = area_country_map(
        tables["area"], tables["iso_3166_1"], tables["l_area_area"]
    )
    mb_artist = artist_export(tables["artist"], tables["l_artist_url"], area_map)
    relations = single_from_relations(
        tables["artist_credit_name"],
        tables["artist_credit"],
        tables["release_group"],
        tables["l_rg_rg"],
        tables["link"],
    )
    candidates = candidate_entries(tables, mb_artist.select("id"))
    return {
        "area_country_map": area_map,
        "mb_artist": mb_artist,
        "single_from_relations": relations,
        "candidates": candidates,
        "canonical": canonical_selection(candidates, relations),
    }


def run_pipeline(tables: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """The full DAG. ``tables`` holds FIXTURES.md §B.2-shaped inputs;
    returns the §B.1-shaped exports."""
    canon = canonical_pipeline(tables)
    best = canon["canonical"]
    aliases = artist_aliases(
        canon["mb_artist"],
        tables["artist_alias"],
        tables["artist_credit_name"],
        tables["l_artist_artist"],
        tables["link"],
        tables["link_attribute"],
        tables["artist"],
    )

    # mb_album.release_year is the GROUP-wide year (all releases, no
    # status filter — src/main.py:264-272 exports release_group_year),
    # not the winning entry's official-only year. mb_album.is_single
    # is the release-group type; mb_song.is_single is the single-from
    # FLAG (the reference's VALUES tuple, src/main.py:281-292).
    mb_album = best.select(
        F.col("release_group_mb_id").alias("mb_id"),
        F.col("release_group_name").alias("title"),
        F.col("release_group_year").alias("release_year"),
        F.col("is_soundtrack"),
        (F.col("release_type") == 2).alias("is_single"),
        F.col("is_main_album"),
    ).distinct()
    mb_song = best.select(
        F.col("recording_mb_id").alias("mb_id"),
        F.col("work_mb_id"),
        F.col("recording_name").alias("title"),
        F.col("artist_id"),
        F.col("second_artist_id"),
        F.col("release_group_mb_id").alias("album_mb_id"),
        F.col("is_single_from").alias("is_single"),
        F.col("language"),
        F.col("recording_score").alias("score"),
    )

    # sql/5's mb_song_alias export — part of the reference DAG's output
    # set, keyed on the song id (the fixture world keys on mb_id).
    mb_song_alias = song_aliases(
        mb_song.withColumn("id", F.col("mb_id")),
        tables["recording"],
        tables["recording_alias"],
        tables["l_recording_work"],
        tables["work"],
        tables["work_alias"],
    )

    return {
        **canon,
        "mb_artist_alias": aliases,
        "mb_album": mb_album,
        "mb_song": mb_song,
        "mb_song_alias": mb_song_alias,
    }
