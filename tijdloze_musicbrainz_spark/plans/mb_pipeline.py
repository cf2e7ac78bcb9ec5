"""Registered golden queries for the composed MusicBrainz-shaped
pipeline: the full DAG runs over the deterministic fixture world
(fixtures.py, FIXTURES.md §B) and the oracle is the EXPECTED output
as literal VALUES — so the driver's hash compare verifies the whole
composition (area chain → artist cut → candidate pools → single-from
flagging → canonical argmin) end to end, not just isolated operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fixtures import musicbrainz_fixture_tables
from ..pipeline import build_stage
from .registry import register


@register(
    "mb_pipeline_canonical_e2e",
    survey_ids=("J1", "J2", "J5", "J6", "A2", "A3", "A4", "A8", "F7", "SET3", "P9"),
    oracle="""
SELECT * FROM (VALUES
  (11, 'r200', 'rg101', 1991, false, false, CAST(NULL AS INTEGER)),
  (11, 'r201', 'rg102', 1990, false, false, CAST(NULL AS INTEGER)),
  (11, 'r202', 'rg106', 1995, true,  false, CAST(NULL AS INTEGER)),
  (11, 'r203', 'rg107', 1997, false, true,  10)
) AS t(artist_id, recording_mb_id, release_group_mb_id, release_year,
       is_single_from, is_soundtrack, second_artist_id)
""",
    doc="The reference's full dataset-generation DAG composed "
    "(sql/1 -> sql/3 -> main.py pools -> canonical argmin) over the "
    "fixture world; the oracle is the hand-derived expected canonical "
    "mapping, so this entry golden-checks the composition: "
    "one-year-early single loses, two-years-early wins (bootleg year "
    "ignored), single-from beats plain compilation, VA soundtrack "
    "reachable only via the second pool, NULL-year entries dropped.",
)
def mb_pipeline_canonical_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    best = build_stage("canonical", musicbrainz_fixture_tables(spark))
    return best.select(
        "artist_id",
        "recording_mb_id",
        "release_group_mb_id",
        "release_year",
        "is_single_from",
        "is_soundtrack",
        "second_artist_id",
    )


@register(
    "mb_pipeline_artist_aliases_e2e",
    survey_ids=("SET1", "A12", "F1", "J6"),
    oracle="""
SELECT * FROM (VALUES
  (10, 'gorki'), (10, 'gorky'), (10, 'lucdevos'), (11, 'nirvana')
) AS t(artist_id, alias)
""",
    doc="sql/4's 4-branch alias union over the fixture world, golden-"
    "checked: own name, alias table, credited name, and the "
    "legal-name edge (link_type 103 + attribute 1094) all fold "
    "through search_key and dedupe.",
)
def mb_pipeline_artist_aliases_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    aliases = build_stage("mb_artist_alias", musicbrainz_fixture_tables(spark))
    return aliases.select(
        F.col("artist_id").cast("int").alias("artist_id"), "alias"
    )


# recording id = partkey * 10^7 + suppkey: suppkey < 10M up to sf~1000,
# so ids cannot collide across parts in any reachable sf (the 100k
# multiplier collided from sf>=100 / 1M suppliers on)
_REC_ID = "l_partkey * 10000000L + l_suppkey"

# the scale world's MusicBrainz tables, each one SQL text over the TPC-H
# tables (mb_scale_tables)
_SCALE_DERIVED = {
    "area": "SELECT n_nationkey AS id FROM {nation}",
    "iso_3166_1": """
        SELECT n_nationkey AS area, upper(substring(n_name, 1, 2)) AS code
        FROM {nation}""",
    "artist": """
        SELECT s_suppkey AS id, CAST(s_suppkey AS STRING) AS gid,
               s_name AS name, s_nationkey AS area
        FROM {supplier}""",
    "l_artist_url": """
        SELECT DISTINCT l_suppkey AS entity0, l_orderkey AS entity1
        FROM {lineitem}""",
    "artist_credit": "SELECT s_suppkey AS id FROM {supplier}",
    "artist_credit_name": """
        SELECT s_suppkey AS artist_credit, 0 AS position,
               s_suppkey AS artist, s_name AS name
        FROM {supplier}""",
    "release_group": """
        SELECT o.o_orderkey AS id, CAST(o.o_orderkey AS STRING) AS gid,
               concat('order-', o.o_orderkey) AS name,
               CASE WHEN o.o_orderpriority = '1-URGENT' THEN 2 ELSE 1 END AS type,
               c.rg_ac AS artist_credit
        FROM {orders} o
        JOIN (
          SELECT l_orderkey, min(l_suppkey) AS rg_ac FROM {lineitem}
          GROUP BY l_orderkey
        ) c ON o.o_orderkey = c.l_orderkey""",
    # one scan with a CASE instead of a union of two filtered scans
    # (the union read `orders` twice per use of this table)
    "release_group_secondary_type_join": """
        SELECT o_orderkey AS release_group,
               CASE WHEN o_orderpriority = '2-HIGH' THEN 2 ELSE 1 END
                 AS secondary_type
        FROM {orders} WHERE o_orderpriority IN ('2-HIGH', '3-MEDIUM')""",
    "release": """
        SELECT o_orderkey AS id, o_orderkey AS release_group,
               CASE WHEN o_orderstatus = 'P' THEN 2 ELSE 1 END AS status
        FROM {orders}""",
    "release_country": """
        SELECT o_orderkey AS release, year(o_orderdate) AS date_year
        FROM {orders}""",
    "medium": "SELECT o_orderkey AS id, o_orderkey AS release FROM {orders}",
    # track id derived from the data (orderkey*8 + linenumber,
    # linenumber <= 7), not monotonically_increasing_id — layout-
    # independent, deterministic across runs and repartitions
    "track": f"""
        SELECT l_orderkey * 8 + l_linenumber AS id, l_orderkey AS medium,
               {_REC_ID} AS recording
        FROM {{lineitem}}""",
    "recording": f"""
        SELECT {_REC_ID} AS id, CAST({_REC_ID} AS STRING) AS gid,
               p.p_name AS name, d.l_suppkey AS artist_credit
        FROM (SELECT DISTINCT l_partkey, l_suppkey FROM {{lineitem}}) d
        JOIN {{part}} p ON d.l_partkey = p.p_partkey""",
}

# the relation tables the scale world leaves empty, as DDL schemas
_SCALE_EMPTY = {
    "l_area_area": "link int, entity0 int, entity1 int",
    "artist_alias": "artist int, name string",
    "link": "id int, link_type int",
    "link_attribute": "link int, attribute_type int",
    "l_artist_artist": "link int, entity0 int, entity1 int",
    "l_rg_rg": "entity0 int, entity1 int, link int",
    "recording_alias": "recording int, name string",
    "l_recording_work": "entity0 bigint, entity1 int, link_order int",
    "work": "id int, gid string, name string",
    "work_alias": "work int, name string",
    "language": "id int, iso_code_1 string, iso_code_3 string",
    "work_language": "work int, language int",
}


def _empty_sql(ddl: str) -> str:
    """A provably-empty relation of schema ``ddl``: Catalyst's
    PruneFilters folds ``WHERE false`` to an empty LocalRelation and
    PropagateEmptyRelation then collapses every join/union/aggregate
    over it at optimization time. A parallelize-backed
    ``createDataFrame([], schema)`` hid that: each of the 12 empty
    relation tables kept a full exchange + join in the plan (measured
    r15: the scale pipeline's plan dropped from 61 Exchanges to a third
    of that; same results by join semantics)."""
    cols = (field.split() for field in ddl.split(","))
    return "SELECT " + ", ".join(f"CAST(NULL AS {t}) AS {n}" for n, t in cols) + " WHERE false"


def mb_scale_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame | str]:
    """Volume-bearing MusicBrainz-shaped world derived from the TPC-H
    testdata (sf-scaled), for benching the composed DAG at data scale:
    suppliers play artists, (part, supplier) pairs play recordings,
    orders play release groups / releases, lineitems play tracks.

    Every MusicBrainz table is a SQL text over the five TPC-H tables,
    the only DataFrames, so ``pipeline.build_stage`` inlines the whole
    world into the stage's one statement and binds five inputs. The
    derivation cost is part of the measured job, exactly like the
    reference's job reads raw MusicBrainz tables."""
    from .util import t as _t  # noqa: PLC0415

    return {
        **_SCALE_DERIVED,
        **{name: _empty_sql(ddl) for name, ddl in _SCALE_EMPTY.items()},
        **{n: _t(spark, sf_dir, n) for n in ("nation", "supplier", "part", "orders", "lineitem")},
    }


@register(
    "mb_pipeline_scale",
    survey_ids=(),
    # Full DuckDB twin of run_pipeline SPECIALIZED to the scale
    # world's derivation: the alias/work/language/single-from relation
    # tables are empty there (mb_scale_tables), so those branches
    # collapse to NULL/false columns and the twin reduces to the
    # derivation + artist cut + candidate spine + pool membership +
    # decorrelated aggregates + canonical argmin (row_number twin of
    # the min_by; the key is total because rg gid is a group key).
    # The GENERAL pipeline remains golden-checked by the fixture e2e
    # entries above. r4c: this was the registry's last rows-only row.
    oracle="""
WITH
url_scores AS (
  SELECT l_suppkey AS artist_id, count(*) AS score
  FROM (SELECT DISTINCT l_suppkey, l_orderkey FROM lineitem)
  GROUP BY l_suppkey
),
area_map AS (
  SELECT n_nationkey AS area_id,
         lower(upper(substr(n_name, 1, 2))) AS country_id
  FROM nation
),
mb_artist AS (
  SELECT s.s_suppkey AS id
  FROM supplier s
  LEFT JOIN url_scores u ON s.s_suppkey = u.artist_id
  LEFT JOIN area_map a ON s.s_nationkey = a.area_id
  WHERE a.country_id = 'be' OR coalesce(u.score, 0) > 8
),
recording AS (
  SELECT CAST(d.l_partkey * 10000000 + d.l_suppkey AS BIGINT) AS id,
         CAST(CAST(d.l_partkey * 10000000 + d.l_suppkey AS BIGINT) AS VARCHAR) AS gid,
         p.p_name AS name,
         d.l_suppkey AS artist_credit
  FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) d
  JOIN part p ON d.l_partkey = p.p_partkey
),
release_all AS (
  SELECT o_orderkey AS id, o_orderkey AS release_group,
         CASE WHEN o_orderstatus = 'P' THEN 2 ELSE 1 END AS status
  FROM orders
),
release_country AS (
  SELECT o_orderkey AS release, year(o_orderdate) AS date_year FROM orders
),
rg_credit AS (
  SELECT l_orderkey, min(l_suppkey) AS rg_ac FROM lineitem GROUP BY l_orderkey
),
release_group AS (
  SELECT o.o_orderkey AS id, CAST(o.o_orderkey AS VARCHAR) AS gid,
         'order-' || o.o_orderkey AS name,
         CASE WHEN o.o_orderpriority = '1-URGENT' THEN 2 ELSE 1 END AS type,
         r.rg_ac AS artist_credit
  FROM orders o JOIN rg_credit r ON o.o_orderkey = r.l_orderkey
),
track AS (
  SELECT l_orderkey AS medium,
         CAST(l_partkey * 10000000 + l_suppkey AS BIGINT) AS recording
  FROM lineitem
),
sec_join AS (
  SELECT o_orderkey AS release_group,
         CASE WHEN o_orderpriority = '2-HIGH' THEN 2 ELSE 1 END AS secondary_type
  FROM orders WHERE o_orderpriority IN ('2-HIGH', '3-MEDIUM')
),
rg_year AS (
  SELECT r.release_group AS rg_id, min(rc.date_year) AS release_group_year
  FROM release_all r JOIN release_country rc ON r.id = rc.release
  GROUP BY r.release_group
),
rec_score AS (
  SELECT t.recording AS rec_id, count(*) AS recording_score
  FROM track t
  JOIN release_all r ON t.medium = r.id
  GROUP BY t.recording
),
sec_types AS (
  SELECT release_group AS rg_id,
         list_sort(list(DISTINCT secondary_type)) AS secondary_types
  FROM sec_join GROUP BY release_group
),
cut_recordings AS (
  SELECT r.id AS recording_id, r.gid AS recording_mb_id, r.name AS recording_name,
         r.artist_credit AS rec_ac, r.artist_credit AS artist_id
  FROM recording r
  WHERE r.artist_credit IN (SELECT id FROM mb_artist)
),
spine AS (
  SELECT c.artist_id, c.recording_id, c.rec_ac, c.recording_mb_id,
         c.recording_name, rc.date_year,
         rg.id AS rg_id, rg.gid AS release_group_mb_id,
         rg.name AS release_group_name, rg.type AS release_type,
         rg.artist_credit AS rg_ac
  FROM cut_recordings c
  JOIN track t ON t.recording = c.recording_id
  JOIN release_all r ON t.medium = r.id AND r.status = 1
  JOIN release_country rc ON rc.release = r.id
  JOIN release_group rg ON rg.id = r.release_group
),
pooled AS (
  SELECT s.* FROM spine s
  WHERE s.rg_ac = s.artist_id
     OR EXISTS (SELECT 1 FROM sec_join sj
                WHERE sj.release_group = s.rg_id AND sj.secondary_type = 2)
),
grouped AS (
  SELECT artist_id, recording_id, rec_ac, recording_mb_id, recording_name,
         rg_id, release_group_mb_id, release_group_name, release_type,
         min(date_year) AS release_year
  FROM pooled
  GROUP BY artist_id, recording_id, rec_ac, recording_mb_id, recording_name,
           rg_id, release_group_mb_id, release_group_name, release_type
),
cand AS (
  SELECT g.*, ry.release_group_year, rs.recording_score, st.secondary_types
  FROM grouped g
  LEFT JOIN rg_year ry ON g.rg_id = ry.rg_id
  LEFT JOIN rec_score rs ON g.recording_id = rs.rec_id
  LEFT JOIN sec_types st ON g.rg_id = st.rg_id
),
scored AS (
  SELECT artist_id, recording_mb_id, recording_name, release_group_mb_id,
         release_group_name, release_type, release_year, release_group_year,
         recording_score,
         CAST(NULL AS BIGINT) AS second_artist_id,
         CAST(NULL AS VARCHAR) AS work_mb_id,
         CAST(NULL AS VARCHAR) AS language,
         false AS is_single_from,
         (release_type = 1 AND len(coalesce(secondary_types, [])) = 0)
           AS is_main_album,
         (release_type = 1 AND list_contains(coalesce(secondary_types, []), 2))
           AS is_soundtrack,
         CASE WHEN release_year IS NULL THEN 9999
              WHEN (release_type = 1 AND len(coalesce(secondary_types, [])) = 0)
                THEN release_year
              ELSE release_year + 1 END AS year_value,
         1 AS ref_priority,
         CASE WHEN (release_type = 1
                    AND len(coalesce(secondary_types, [])) = 0) THEN 1
              WHEN (release_type = 1
                    AND list_contains(coalesce(secondary_types, []), 2)) THEN 2
              WHEN (release_type = 1
                    AND list_contains(coalesce(secondary_types, []), 1)) THEN 3
              ELSE 4 END AS type_priority
  FROM cand
  WHERE release_year IS NOT NULL
),
ranked AS (
  SELECT *, row_number() OVER (
           PARTITION BY artist_id, recording_mb_id
           ORDER BY year_value, ref_priority, type_priority,
                    release_group_mb_id) AS rn
  FROM scored
)
SELECT artist_id, recording_mb_id, recording_name, release_group_mb_id,
       release_group_name, release_type, release_year, release_group_year,
       recording_score, second_artist_id, work_mb_id, language,
       is_single_from, is_main_album, is_soundtrack,
       year_value, ref_priority, type_priority,
       (release_type = 2) AS is_single
FROM ranked WHERE rn = 1
""",
    doc="The composed dataset-generation DAG at data scale: the "
    "canonical half of run_pipeline (canonical_pipeline) over an "
    "sf-scaled MusicBrainz-shaped derivation of "
    "the TPC-H tables (~600k tracks at sf0.1). This is the workload "
    "the reference runs in ~8 h on a t2.large via a per-artist loop; "
    "here it is one set-oriented Spark job (see bench.py). Since r4c "
    "it is hash-checked against a full DuckDB SQL twin (15,084 rows "
    "at sf0.01), closing the registry's last rows-only entry.",
)
def mb_pipeline_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_stage("canonical", mb_scale_tables(spark, sf_dir))
