"""ETL edges: the remaining SURVEY §2 rows (J6, P9, P12, F12, P10,
S5) and the verified write path (S2 CSV round-trip, S7/S8/A10 upsert
round-trip). Sink queries write to deterministic /tmp paths in
overwrite mode, read their own output back, and return it — so the
DuckDB oracle (which only sees the source tables) checks the whole
write→read cycle end-to-end.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.normalize import search_key, search_key_sql
from ..operators.upsert import write_upsert
from ..sources.readers import read_csv_golden
from .registry import register
from .util import money_sum, t

# Per-process sink root: two concurrent runs (driver + a local pytest,
# say) must not interleave overwrite-then-append batches in the same
# directory (round-2 ADVICE). Override with SPARK_GRAFT_SINK_DIR.
SINK_ROOT = os.environ.get(
    "SPARK_GRAFT_SINK_DIR", f"/tmp/spark_graft_sinks/run-{os.getpid()}"
)


@register(
    "j6_edge_traversal",
    survey_ids=("J6",),
    oracle="""
SELECT s.s_suppkey, s.s_name,
       CAST(count(DISTINCT l.l_partkey) AS BIGINT) AS n_linked_parts
FROM supplier s
JOIN lineitem l ON l.l_suppkey = s.s_suppkey AND l.l_returnflag = 'R'
JOIN part p ON p.p_partkey = l.l_partkey
GROUP BY s.s_suppkey, s.s_name
""",
    doc="Edge-traversal join with a link-type filter on the edge "
    "table (artist -[link_type=11]- url, src/main.py:84-87, "
    "sql/4:24-27): lineitem is the edge set, l_returnflag the link "
    "type; the filter sits in the JOIN so it prunes edges at the scan.",
)
def j6_edge_traversal(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = t(spark, sf_dir, "supplier")
    edges = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    part = t(spark, sf_dir, "part")
    return (
        supp.join(edges, edges.l_suppkey == supp.s_suppkey)
        .join(part, part.p_partkey == edges.l_partkey)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count_distinct("l_partkey").alias("n_linked_parts"))
    )


@register(
    "p9_nonequi_join_predicate",
    survey_ids=("P9",),
    oracle="""
SELECT o.o_orderkey, l.l_linenumber, l.l_partkey
FROM orders o
JOIN lineitem l ON l.l_orderkey = o.o_orderkey AND l.l_linenumber <= 1
WHERE o.o_orderstatus = 'F'
""",
    doc="Non-equi predicate INSIDE the join condition "
    "(link_order <= 1, src/main.py:140): Catalyst pushes the "
    "single-sided bound to the lineitem scan, keeping the join equi.",
)
def p9_nonequi_join_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = t(spark, sf_dir, "lineitem")
    return orders.join(
        li,
        (li.l_orderkey == orders.o_orderkey) & (li.l_linenumber <= 1),
    ).select("o_orderkey", "l_linenumber", "l_partkey")


@register(
    "p12_exact_key_match",
    survey_ids=("P12", "F1", "J11"),
    oracle=f"""
WITH k AS (
  SELECT p_partkey, p_name, {search_key_sql('p_name')} AS name_key FROM part
)
SELECT a.p_partkey AS part_a, b.p_partkey AS part_b, a.name_key
FROM k a JOIN k b ON a.name_key = b.name_key AND a.p_partkey < b.p_partkey
""",
    doc="Exact match on the normalized search key (src/main.py:39-40 "
    "is_exact_match): equi-join on search_key — normalization "
    "materialized once, compared cheaply, the reference's core "
    "write-time optimization (sql/4:32).",
)
def p12_exact_key_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = t(spark, sf_dir, "part").select(
        "p_partkey", search_key("p_name").alias("name_key")
    )
    a = k.alias("a")
    b = k.alias("b")
    return a.join(
        b,
        (F.col("a.name_key") == F.col("b.name_key"))
        & (F.col("a.p_partkey") < F.col("b.p_partkey")),
    ).select(
        F.col("a.p_partkey").alias("part_a"),
        F.col("b.p_partkey").alias("part_b"),
        F.col("a.name_key").alias("name_key"),
    )


@register(
    "f12_ci_startswith",
    survey_ids=("F12", "P6"),
    oracle="""
SELECT p_partkey, p_name FROM part
WHERE lower(p_name) LIKE lower('BL') || '%'
""",
    doc="Case-insensitive startswith (the driver-side golden-set "
    "filter, src/benchmark.py:239-242) as lower() LIKE — "
    "sargable-by-prefix after lowering both sides.",
)
def f12_ci_startswith(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "part")
        .filter(F.lower(F.col("p_name")).startswith("bl"))
        .select("p_partkey", "p_name")
    )


def build_filtered_orders(
    segment: str | None = None,
    min_total: float | None = None,
    status: str | None = None,
):
    """P10: the parameterized driver-filter builder (argparse filters,
    src/benchmark.py:239-242) — composes only the predicates that are
    actually set, so Catalyst sees a minimal pushed-down filter."""

    def builder(spark: SparkSession, sf_dir: str) -> DataFrame:
        cust = t(spark, sf_dir, "customer")
        orders = t(spark, sf_dir, "orders")
        if segment is not None:
            cust = cust.filter(F.col("c_mktsegment") == segment)
        if status is not None:
            orders = orders.filter(F.col("o_orderstatus") == status)
        if min_total is not None:
            orders = orders.filter(F.col("o_totalprice") >= min_total)
        return cust.join(orders, cust.c_custkey == orders.o_custkey).select(
            "o_orderkey", "c_custkey", "c_mktsegment", "o_orderstatus"
        )

    return builder


@register(
    "p10_parameterized_filters",
    survey_ids=("P10",),
    oracle="""
SELECT o.o_orderkey, c.c_custkey, c.c_mktsegment, o.o_orderstatus
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
WHERE c.c_mktsegment = 'BUILDING' AND o.o_orderstatus = 'F'
  AND o.o_totalprice >= 100000
""",
    doc="One registered instance of the parameterized builder "
    "(segment=BUILDING, status=F, min_total=1e5).",
)
def p10_parameterized_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_filtered_orders(
        segment="BUILDING", min_total=100000.0, status="F"
    )(spark, sf_dir)


# ---------------------------------------------------------------------------
# Verified write path
# ---------------------------------------------------------------------------


@register(
    "s5_append_sink_roundtrip",
    survey_ids=("S5", "S4"),
    oracle="""
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n
FROM orders WHERE o_orderstatus IN ('F', 'O')
GROUP BY o_orderstatus
""",
    doc="INSERT INTO ... SELECT semantics (sql/3:7-10): write batch 1 "
    "(status F) in overwrite mode, append batch 2 (status O), read "
    "the sink back and aggregate — proves append accumulates without "
    "clobbering.",
)
def s5_append_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = f"{SINK_ROOT}/s5_append"
    orders = t(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_orderstatus"]
    orders.filter(F.col("o_orderstatus") == "F").select(cols).write.mode(
        "overwrite"
    ).parquet(path)
    orders.filter(F.col("o_orderstatus") == "O").select(cols).write.mode(
        "append"
    ).parquet(path)
    return (
        spark.read.parquet(path)
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"))
    )


@register(
    "s7_upsert_roundtrip",
    survey_ids=("S7", "S8", "A10"),
    oracle="""
WITH both_batches AS (
  SELECT o_orderkey, o_totalprice, 1 AS batch_id
  FROM orders WHERE o_orderkey % 2 = 0
  UNION ALL
  SELECT o_orderkey, o_totalprice * 2 AS o_totalprice, 2 AS batch_id
  FROM orders WHERE o_orderkey % 4 = 0
)
SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice,
       CAST(batch_id AS BIGINT) AS batch_id
FROM both_batches
QUALIFY row_number() OVER (
  PARTITION BY o_orderkey ORDER BY batch_id DESC) = 1
""",
    doc="Upsert sink round-trip (ON CONFLICT DO UPDATE, "
    "src/main.py:298-323): batch 2 overwrites the shared keys "
    "(last-writer-wins window dedup), written to parquet and read "
    "back — the reference's idempotent re-run story, verified "
    "through the sink.",
)
def s7_upsert_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = f"{SINK_ROOT}/s7_upsert"
    orders = t(spark, sf_dir, "orders")
    b1 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice", F.lit(1).cast("long").alias("batch_id")
    )
    b2 = orders.filter(F.col("o_orderkey") % 4 == 0).select(
        "o_orderkey",
        (F.col("o_totalprice") * 2).alias("o_totalprice"),
        F.lit(2).cast("long").alias("batch_id"),
    )
    write_upsert(
        b1.unionByName(b2),
        path,
        keys=["o_orderkey"],
        priority=[F.desc("batch_id")],
    )
    out = spark.read.parquet(path)
    return out.select(
        "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"), "batch_id"
    )


@register(
    "s2_csv_golden_roundtrip",
    survey_ids=("S2",),
    oracle="""
SELECT c_custkey, c_name, c_mktsegment,
       c_name || ', ' || c_mktsegment AS quoted_field
FROM customer WHERE c_custkey < 100
""",
    doc="CSV golden-set round-trip (header + quoted fields with "
    "embedded commas, src/benchmark.py:236-238): write via the CSV "
    "sink, read back via read_csv_golden with explicit schema.",
)
def s2_csv_golden_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = f"{SINK_ROOT}/s2_csv"
    src = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 100)
        .select(
            "c_custkey",
            "c_name",
            "c_mktsegment",
            F.concat_ws(", ", F.col("c_name"), F.col("c_mktsegment")).alias(
                "quoted_field"
            ),
        )
    )
    src.write.mode("overwrite").option("header", True).option("quote", '"').option(
        "escape", '"'
    ).csv(path)
    out = read_csv_golden(
        spark,
        path,
        schema="c_custkey long, c_name string, c_mktsegment string, quoted_field string",
    )
    return out


_PORTABLE_Q6 = """
SELECT CAST(round(sum(CAST(l_extendedprice * l_discount AS DECIMAL(25,6))), 2)
            AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24
"""


@register(
    "sql_api_q6",
    survey_ids=("P2", "F15", "S1"),
    oracle=_PORTABLE_Q6,
    doc="The SQL front-end surface: the reference drives everything "
    "through SQL strings; here the IDENTICAL ANSI text runs on BOTH "
    "engines — spark.sql over registered temp views vs DuckDB — "
    "proving the engine accepts plain SQL, with the same pushed-down "
    "plan Catalyst builds for the DataFrame form.",
)
def sql_api_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import register_views  # noqa: PLC0415

    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql(_PORTABLE_Q6)


@register(
    "s3_json_lines_roundtrip",
    survey_ids=(),
    oracle="""
SELECT event_id, user_id, event_type,
       round(value, 2) AS value_r2,
       CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch
FROM events
WHERE event_type = 'click'
""",
    doc="JSON-lines source round-trip: project the click events to a "
    "flat schema (timestamp already lowered to epoch seconds — JSON "
    "has no timestamp type, so the contract is explicit integer "
    "seconds, not an engine-specific serialization), write them as "
    "newline-delimited JSON in overwrite mode, read the files back "
    "through sources.readers.read_json with an EXPLICIT schema (a "
    "values-less json() would run a schema-inference pass over every "
    "file — a full extra scan at 100 TB), and return the rows. The "
    "oracle sees only the parquet source, so the hash-match proves "
    "per-row fidelity through the serialize->parse cycle, including "
    "doubles (JSON shortest-repr round-trips a double exactly).",
)
def s3_json_lines_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T  # noqa: PLC0415

    from ..sources.readers import read_json  # noqa: PLC0415
    from .util import epoch  # noqa: PLC0415

    path = f"{SINK_ROOT}/s3_json_lines"
    ev = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.col("value"),
            epoch("ts").alias("ts_epoch"),
        )
    )
    ev.write.mode("overwrite").json(path)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("ts_epoch", T.LongType()),
        ]
    )
    back = read_json(spark, path, schema)
    return back.select(
        "event_id",
        "user_id",
        "event_type",
        F.round("value", 2).alias("value_r2"),
        "ts_epoch",
    )


@register(
    "s8_snapshot_diff_cdc",
    survey_ids=(),
    oracle="""
WITH old_snap AS (
  SELECT o_orderkey, o_orderstatus AS status
  FROM orders WHERE o_orderkey % 11 <> 0
),
new_snap AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END AS status
  FROM orders WHERE o_orderkey % 13 <> 0
)
SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
       CASE WHEN o.o_orderkey IS NULL THEN 'insert'
            WHEN n.o_orderkey IS NULL THEN 'delete'
            ELSE 'update' END AS change_type,
       n.status AS new_status
FROM old_snap o FULL OUTER JOIN new_snap n ON o.o_orderkey = n.o_orderkey
WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL OR o.status <> n.status
""",
    doc="Snapshot diff / CDC classification — the FULL OUTER join "
    "shape: compare two deterministic snapshots of orders and emit "
    "only the changed rows tagged insert/delete/update (the "
    "change-feed an incremental 100 TB pipeline consumes instead of "
    "reprocessing the world). The join is a plain key-partitioned "
    "full outer equi-join — both sides shuffle once on the key, "
    "change classification is null-pattern arithmetic on the joined "
    "row, and the 'unchanged' majority is filtered BEFORE any "
    "downstream work so the emitted feed is proportional to the "
    "change rate, not the table size. String-typed change detection "
    "only — no float equality anywhere.",
)
def s8_snapshot_diff_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    old_snap = orders.filter(F.col("o_orderkey") % 11 != 0).select(
        "o_orderkey", F.col("o_orderstatus").alias("status")
    )
    new_snap = orders.filter(F.col("o_orderkey") % 13 != 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("status"),
    )
    o = old_snap.alias("o")
    n = new_snap.alias("n")
    joined = o.join(n, F.col("o.o_orderkey") == F.col("n.o_orderkey"), "full_outer")
    change = (
        F.when(F.col("o.o_orderkey").isNull(), F.lit("insert"))
        .when(F.col("n.o_orderkey").isNull(), F.lit("delete"))
        .otherwise(F.lit("update"))
    )
    return joined.filter(
        F.col("o.o_orderkey").isNull()
        | F.col("n.o_orderkey").isNull()
        | (F.col("o.status") != F.col("n.status"))
    ).select(
        F.coalesce(F.col("o.o_orderkey"), F.col("n.o_orderkey")).alias("o_orderkey"),
        change.alias("change_type"),
        F.col("n.status").alias("new_status"),
    )


_PORTABLE_FLAGSHIP = """
WITH cand AS (
  SELECT p.p_partkey, p.p_name, o.o_orderkey,
         CAST(CAST(min(l.l_shipdate) AS DATE) AS STRING) AS first_ship_date,
         year(o.o_orderdate) AS order_year,
         (o.o_orderpriority = '1-URGENT') AS is_urgent,
         o.o_orderstatus AS status
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY p.p_partkey, p.p_name, o.o_orderkey, year(o.o_orderdate),
           o.o_orderpriority, o.o_orderstatus
), scored AS (
  SELECT p_partkey, p_name, o_orderkey, first_ship_date,
         CASE WHEN is_urgent OR status = 'F' THEN order_year
              ELSE order_year + 1 END AS year_value,
         CASE WHEN is_urgent THEN 0 ELSE 1 END AS ref_priority,
         CASE WHEN status = 'F' THEN 1 WHEN status = 'P' THEN 2
              WHEN status = 'O' THEN 3 ELSE 4 END AS type_priority
  FROM cand
), ranked AS (
  SELECT p_partkey, p_name, o_orderkey, first_ship_date,
         year_value, ref_priority, type_priority,
         row_number() OVER (
           PARTITION BY p_partkey
           ORDER BY year_value, ref_priority, type_priority, o_orderkey) AS rn
  FROM scored
)
SELECT p_partkey, p_name, o_orderkey, first_ship_date,
       year_value, ref_priority, type_priority
FROM ranked WHERE rn = 1
"""


@register(
    "sql_api_flagship",
    survey_ids=("S1", "J1", "A1", "A8", "F7", "O4"),
    oracle=_PORTABLE_FLAGSHIP,
    doc="The WHOLE flagship canonical-order query as ONE portable ANSI "
    "string executed verbatim by BOTH engines (spark.sql over "
    "registered views vs DuckDB) — a user of the reference who "
    "writes SQL, not DataFrames, can run their biggest query "
    "unchanged. The SQL form ranks with a row_number subquery "
    "(portable) where the DataFrame flagship uses the min_by "
    "aggregate; flagship_canonical_order remains the plan-of-record "
    "for the argmin (map-side combinable), this entry proves the "
    "front-end parity.",
)
def sql_api_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import register_views  # noqa: PLC0415

    register_views(spark, sf_dir, ("lineitem", "orders", "part"))
    return spark.sql(_PORTABLE_FLAGSHIP)


N_CORRUPT_LINES = 3


@register(
    "s_corrupt_json_tolerant",
    survey_ids=(),
    oracle=f"""
SELECT CAST(count(*) AS BIGINT) AS n_good,
       CAST({N_CORRUPT_LINES} AS BIGINT) AS n_corrupt,
       CAST(sum(event_id) AS BIGINT) AS good_id_sum
FROM events WHERE event_type = 'click'
""",
    doc="Corrupt-record-tolerant semi-structured ingest: the click "
    "events are serialized to JSON lines, a file of known-garbage "
    "lines is planted next to them, and the read-back uses PERMISSIVE "
    "mode with an explicit _corrupt_record column — bad rows surface "
    "as data instead of killing the job, which is the only viable "
    "contract at 100 TB where some corrupt input is a certainty, and "
    "the quarantined column is what you route to a dead-letter sink. "
    "The result proves the accounting: every good row parsed (count + "
    "id checksum vs the parquet source) and every garbage line "
    "counted. The bounded .cache() exists because Spark disallows "
    "queries that project ONLY the corrupt-record column from a raw "
    "JSON scan (SPARK-21610); it pins the parsed batch so the "
    "good/corrupt split is computed from one parse.",
)
def s_corrupt_json_tolerant(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T  # noqa: PLC0415

    from .util import epoch  # noqa: PLC0415

    path = f"{SINK_ROOT}/s_corrupt_json"
    ev = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .select("event_id", "user_id", epoch("ts").alias("ts_epoch"))
    )
    ev.write.mode("overwrite").json(path)
    with open(os.path.join(path, "part-corrupt.json"), "w") as fh:
        for i in range(N_CORRUPT_LINES):
            fh.write(f"this is not json line {i} {{{{\n")
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("ts_epoch", T.LongType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
        .cache()
    )
    agg = back.agg(
        F.count(F.when(F.col("_corrupt_record").isNull(), 1))
        .cast("long")
        .alias("n_good"),
        F.count(F.col("_corrupt_record")).cast("long").alias("n_corrupt"),
        F.sum(F.when(F.col("_corrupt_record").isNull(), F.col("event_id")))
        .cast("long")
        .alias("good_id_sum"),
    )
    # materialize the 1-row accounting while the cache is alive, then
    # release it — a builder-held cache would otherwise pin executor
    # storage for the whole session per invocation
    rows = agg.collect()
    back.unpersist()
    return spark.createDataFrame(rows, agg.schema)


@register(
    "s7_upsert_manifest_atomic",
    survey_ids=("S7", "A10"),
    oracle="""
WITH both_batches AS (
  SELECT o_orderkey, o_totalprice, 1 AS batch_id
  FROM orders WHERE o_orderkey % 2 = 0
  UNION ALL
  SELECT o_orderkey, o_totalprice * 2 AS o_totalprice, 2 AS batch_id
  FROM orders WHERE o_orderkey % 20 = 0
)
SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice,
       CAST(batch_id AS BIGINT) AS batch_id
FROM both_batches
QUALIFY row_number() OVER (
  PARTITION BY o_orderkey ORDER BY batch_id DESC) = 1
""",
    doc="TRANSACTIONAL incremental MERGE (r5; VERDICT r4 missing #2 — "
    "the reference's per-artist ON CONFLICT DO UPDATE re-run, "
    "src/main.py:298-323, without rewriting the table): a full load "
    "of the even orderkeys, then a small second batch (every 20th "
    "key, doubled price) merged through "
    "operators.manifest.merge_upsert_manifest, which reads back and "
    "rewrites ONLY the key-hash buckets the batch touches (pinned in "
    "tests/test_manifest.py). Immutable data files, a JSON manifest "
    "per commit and ONE pointer flip through sources/commit_log.py as "
    "the commit point, so ALL touched buckets change together and a "
    "reader can never observe a torn multi-bucket merge (the "
    "simplified Delta-log protocol, since the lakehouse jars are not "
    "in this image). Old manifests are retained: "
    "tests/test_manifest.py pins snapshot isolation under a simulated "
    "mid-merge crash, optimistic-concurrency conflict detection, and "
    "time travel to the pre-merge version. The read-back must equal "
    "last-writer-wins over both batches.",
)
def s7_upsert_manifest_atomic(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil  # noqa: PLC0415

    from ..operators.manifest import (  # noqa: PLC0415
        merge_upsert_manifest,
        read_table,
    )

    tag = os.path.basename(os.path.normpath(sf_dir))
    table = f"{SINK_ROOT}/s7_manifest_{tag}"
    shutil.rmtree(table, ignore_errors=True)
    orders = t(spark, sf_dir, "orders")
    full_load = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice", F.lit(1).cast("long").alias("batch_id")
    )
    merge_upsert_manifest(full_load, table, ["o_orderkey"], "batch_id")
    increment = orders.filter(F.col("o_orderkey") % 20 == 0).select(
        "o_orderkey",
        (F.col("o_totalprice") * 2).alias("o_totalprice"),
        F.lit(2).cast("long").alias("batch_id"),
    )
    merge_upsert_manifest(increment, table, ["o_orderkey"], "batch_id")
    out = read_table(spark, table)
    return out.select(
        "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"), "batch_id"
    )


@register(
    "s7_cdc_merge_deletes",
    survey_ids=("S7", "A10"),
    oracle="""
WITH changes AS (
  SELECT o_orderkey, o_totalprice, 1 AS seq, 'I' AS op
  FROM orders WHERE o_orderkey % 2 = 0
  UNION ALL
  SELECT o_orderkey, CAST(0 AS DOUBLE), 2 AS seq, 'D' AS op
  FROM orders WHERE o_orderkey % 40 = 0
  UNION ALL
  SELECT o_orderkey, o_totalprice * 2, 2 AS seq, 'U' AS op
  FROM orders WHERE o_orderkey % 20 = 0 AND o_orderkey % 40 <> 0
),
winners AS (
  SELECT o_orderkey, o_totalprice, CAST(seq AS BIGINT) AS seq, op
  FROM changes
  QUALIFY row_number() OVER (
    PARTITION BY o_orderkey ORDER BY seq DESC) = 1
)
SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice, seq
FROM winners WHERE op <> 'D'
""",
    doc="CDC MERGE with delete tombstones (r5): a change stream of "
    "I/U/D rows applied to the manifest table — every 40th key is "
    "DELETED (its tombstone outranks the base insert on priority), "
    "every other 20th key updated, the rest upserted; tombstone "
    "winners vanish from the committed snapshot. Priority, not "
    "arrival order, decides D-vs-late-U races (retry-safe; pinned in "
    "tests/test_manifest.py). The read-back equals the SQL winners "
    "minus tombstones — the Postgres DELETE+upsert semantics the "
    "parquet tier previously couldn't express.",
)
def s7_cdc_merge_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil  # noqa: PLC0415

    from ..operators.manifest import (  # noqa: PLC0415
        merge_cdc_manifest,
        read_table,
    )

    tag = os.path.basename(os.path.normpath(sf_dir))
    table = f"{SINK_ROOT}/s7_cdc_{tag}"
    shutil.rmtree(table, ignore_errors=True)
    orders = t(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        "o_totalprice",
        F.lit(1).cast("long").alias("seq"),
        F.lit("I").alias("op"),
    )
    merge_cdc_manifest(base, table, ["o_orderkey"], "seq")
    deletes = orders.filter(F.col("o_orderkey") % 40 == 0).select(
        "o_orderkey",
        F.lit(0.0).alias("o_totalprice"),
        F.lit(2).cast("long").alias("seq"),
        F.lit("D").alias("op"),
    )
    updates = orders.filter(
        (F.col("o_orderkey") % 20 == 0) & (F.col("o_orderkey") % 40 != 0)
    ).select(
        "o_orderkey",
        (F.col("o_totalprice") * 2).alias("o_totalprice"),
        F.lit(2).cast("long").alias("seq"),
        F.lit("U").alias("op"),
    )
    merge_cdc_manifest(
        deletes.unionByName(updates), table, ["o_orderkey"], "seq"
    )
    out = read_table(spark, table)
    return out.select(
        "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"), "seq"
    )


_LOG_PATH = "/tmp/spark_graft_fixtures/access.log"
_LOG_N = 5000
_LOG_RE = r'^(\S+) \S+ \S+ \[([^\]]+)\] "(\w+) ([^ ]+) [^"]*" (\d+) (\d+)$'


def write_access_log(path: str = _LOG_PATH) -> str:
    """Deterministic Apache-combined-style access log (atomic,
    idempotent): ip/method/path/status/bytes all closed-form in the
    line number, including hostile-ish paths with query strings."""
    import os  # noqa: PLC0415

    if os.path.exists(path):
        return path
    os.makedirs(os.path.dirname(path), exist_ok=True)
    methods = ("GET", "POST", "PUT", "DELETE")
    statuses = (200, 200, 200, 301, 404, 500)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        for i in range(_LOG_N):
            ip = f"10.{i % 256}.{(i * 7) % 256}.{(i * 13) % 256}"
            m = methods[i % 4]
            p = f"/api/v{i % 3}/item/{i % 97}" + (
                f"?q={i % 11}&page={i % 5}" if i % 3 == 0 else ""
            )
            st = statuses[i % 6]
            nb = (i * 37) % 5000
            f.write(
                f'{ip} - - [01/Jan/2024:00:{i % 60:02d}:{i % 60:02d} +0000] '
                f'"{m} {p} HTTP/1.1" {st} {nb}\n'
            )
    import os as _os  # noqa: PLC0415

    _os.replace(tmp, path)
    return path


@register(
    "s_textlog_parse",
    survey_ids=("S2", "P2", "A1"),
    oracle=f"""
WITH raw AS (
  SELECT line FROM read_csv('{_LOG_PATH}', columns={{'line': 'VARCHAR'}},
                            delim='\x01', header=false, quote='')
),
parsed AS (
  SELECT regexp_extract(line, '{_LOG_RE}', 3) AS method,
         regexp_extract(line, '{_LOG_RE}', 5) AS status,
         CAST(regexp_extract(line, '{_LOG_RE}', 6) AS BIGINT) AS n_bytes
  FROM raw
)
SELECT method, CAST(status AS BIGINT) AS status,
       CAST(count(*) AS BIGINT) AS n_requests,
       CAST(sum(n_bytes) AS BIGINT) AS total_bytes
FROM parsed
WHERE method <> ''
GROUP BY method, status
""",
    doc="Raw text-log ingestion — the third unstructured source tier "
    "beside CSV and JSON lines: spark.read.text over an Apache-"
    "combined-style access log, structured by one regexp_extract per "
    "field (pure JVM narrow map, no UDF), rolled up per "
    "(method, status). The oracle re-reads the SAME file with "
    "DuckDB's reader (delimiter-free single-column CSV, quoting "
    "disabled) and its own RE2 regexp_extract — two independent "
    "parsers over identical bytes, exactly the golden-CSV playbook. "
    "Unparseable lines drop on both sides (empty extract). At 100 TB "
    "this is the classic logs->lake bronze pass: line-splittable "
    "input, narrow parse, partitioned aggregate.",
)
def s_textlog_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = write_access_log()
    raw = spark.read.text(path)
    parsed = raw.select(
        F.regexp_extract("value", _LOG_RE, 3).alias("method"),
        F.regexp_extract("value", _LOG_RE, 5).alias("status"),
        F.regexp_extract("value", _LOG_RE, 6).alias("nb"),
    ).filter(F.col("method") != "")
    return parsed.groupBy(
        "method", F.col("status").cast("long").alias("status")
    ).agg(
        F.count("*").alias("n_requests"),
        F.sum(F.col("nb").cast("long")).alias("total_bytes"),
    )


# -- SCD Type-2 dimension build (r6) -----------------------------------------


@register(
    "etl_scd2_dimension_build",
    survey_ids=("A10", "O3"),
    oracle="""
WITH feed AS (
  SELECT o_custkey, o_orderdate, o_orderkey, o_orderpriority AS attr
  FROM orders
),
changes AS (
  SELECT * FROM (
    SELECT o_custkey, o_orderdate, o_orderkey, attr,
           lag(attr) OVER (
             PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey) AS prev_attr
    FROM feed
  ) WHERE prev_attr IS NULL OR prev_attr <> attr
)
SELECT o_custkey,
       CAST(row_number() OVER w AS BIGINT) AS version,
       attr,
       o_orderdate AS valid_from,
       lead(o_orderdate) OVER w AS valid_to,
       (lead(o_orderdate) OVER w IS NULL) AS is_current
FROM changes
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
    doc="Slowly-changing-dimension TYPE 2 history build — the "
    "warehouse operator that turns a change feed into validity "
    "ranges: per key, order the feed by (event date, sequence), "
    "COLLAPSE consecutive repeats of the same attribute (SCD2 records "
    "CHANGES, not observations — the lag-filter), then assign "
    "version numbers and [valid_from, valid_to) ranges via lead(), "
    "with the open-ended current row flagged. Orders plays the "
    "change feed (customer's order priority as the tracked "
    "attribute). Spark plan: one per-key window pass for the "
    "change-collapse, one for versioning — both partitioned by the "
    "high-cardinality key, so no constant-key window; at 100 TB this "
    "is one shuffle on the dimension key, and the result joins "
    "point-in-time facts via the events_asof_join pattern.",
)
def etl_scd2_dimension_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window  # noqa: PLC0415

    feed = t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderkey",
        F.col("o_orderpriority").alias("attr"),
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    changes = (
        feed.withColumn("prev_attr", F.lag("attr").over(w))
        .filter(F.col("prev_attr").isNull() | (F.col("prev_attr") != F.col("attr")))
        .drop("prev_attr")
    )
    w2 = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return changes.select(
        "o_custkey",
        F.row_number().over(w2).cast("long").alias("version"),
        "attr",
        F.col("o_orderdate").alias("valid_from"),
        F.lead("o_orderdate").over(w2).alias("valid_to"),
        F.lead("o_orderdate").over(w2).isNull().alias("is_current"),
    )


@register(
    "s7_snapshot_diff_cdf",
    survey_ids=("S7", "A10"),
    oracle="""
WITH deletes AS (
  SELECT o_orderkey, CAST(NULL AS DOUBLE) AS o_totalprice,
         CAST(NULL AS BIGINT) AS seq, 'delete' AS change_type
  FROM orders WHERE o_orderkey % 8 = 0
),
updates AS (
  SELECT o_orderkey, round(o_totalprice * 2, 2) AS o_totalprice,
         CAST(2 AS BIGINT) AS seq, 'update' AS change_type
  FROM orders WHERE o_orderkey % 4 = 0 AND o_orderkey % 8 <> 0
),
inserts AS (
  SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice,
         CAST(2 AS BIGINT) AS seq, 'insert' AS change_type
  FROM orders WHERE o_orderkey % 2 = 1 AND o_orderkey % 5 = 0
)
SELECT * FROM deletes
UNION ALL SELECT * FROM updates
UNION ALL SELECT * FROM inserts
""",
    doc="CHANGE DATA FEED between committed snapshots (r8): version 0 "
    "inserts the even orderkeys, version 1 applies a CDC batch "
    "(delete every 8th key, double every other 4th key's price, "
    "insert the odd multiples of 5), and operators.manifest."
    "snapshot_diff reads the per-key change set between the two "
    "retained versions — insert/update/delete classification with "
    "the row as of v_to (NULLs for deletes), unchanged keys absent. "
    "The oracle derives the expected change set directly from the "
    "change-generation rules, so the diff reader is checked against "
    "first principles, not against itself. This is the Delta "
    "table_changes / CDF surface on the manifest tier: downstream "
    "incremental consumers read only what changed, never rescan the "
    "snapshot.",
)
def s7_snapshot_diff_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil  # noqa: PLC0415

    from ..operators.manifest import (  # noqa: PLC0415
        merge_cdc_manifest,
        snapshot_diff,
    )

    tag = os.path.basename(os.path.normpath(sf_dir))
    table = f"{SINK_ROOT}/s7_cdf_{tag}"
    shutil.rmtree(table, ignore_errors=True)
    orders = t(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        "o_totalprice",
        F.lit(1).cast("long").alias("seq"),
        F.lit("I").alias("op"),
    )
    merge_cdc_manifest(base, table, ["o_orderkey"], "seq")  # v0
    changes = (
        orders.filter(F.col("o_orderkey") % 8 == 0)
        .select(
            "o_orderkey",
            F.lit(0.0).alias("o_totalprice"),
            F.lit(2).cast("long").alias("seq"),
            F.lit("D").alias("op"),
        )
        .unionByName(
            orders.filter(
                (F.col("o_orderkey") % 4 == 0) & (F.col("o_orderkey") % 8 != 0)
            ).select(
                "o_orderkey",
                (F.col("o_totalprice") * 2).alias("o_totalprice"),
                F.lit(2).cast("long").alias("seq"),
                F.lit("U").alias("op"),
            )
        )
        .unionByName(
            orders.filter(
                (F.col("o_orderkey") % 2 == 1) & (F.col("o_orderkey") % 5 == 0)
            ).select(
                "o_orderkey",
                "o_totalprice",
                F.lit(2).cast("long").alias("seq"),
                F.lit("I").alias("op"),
            )
        )
    )
    merge_cdc_manifest(changes, table, ["o_orderkey"], "seq")  # v1
    diff = snapshot_diff(spark, table, 0, 1, ["o_orderkey"])
    return diff.select(
        "o_orderkey",
        F.round("o_totalprice", 2).alias("o_totalprice"),
        "seq",
        "change_type",
    )


@register(
    "etl_incremental_agg_maintenance",
    survey_ids=("A1", "S7"),
    oracle="""
WITH maintained AS (
  SELECT * FROM orders
  WHERE o_orderdate < DATE '1996-01-01'
    AND NOT (o_orderkey % 10 = 0)          -- deletes applied
  UNION ALL
  SELECT * FROM orders
  WHERE o_orderdate >= DATE '1996-01-01'   -- inserts applied
)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(25,6))), 2) AS DOUBLE)
         AS total_price
FROM maintained
GROUP BY o_orderpriority
""",
    doc="INCREMENTAL VIEW MAINTENANCE of a grouped aggregate: the "
    "materialized view (count + exact-DECIMAL sum per priority over "
    "pre-1996 orders) absorbs a CDC delta — 1996+ inserts AND "
    "deletes of every 10th historical key — by aggregating ONLY the "
    "delta with +1/-1 signs and merging it into the view state with "
    "a full-outer coalesce-add; the base fact table is NEVER "
    "rescanned. This is the self-maintainability algebra (count and "
    "sum are groups under addition, so insert/delete deltas maintain "
    "them exactly; min/max are NOT under deletes — they would need "
    "the auxiliary per-group multiset, which is why this view "
    "carries none). Groups whose maintained count reaches zero drop "
    "out of the view, exactly as a recompute would drop them. The "
    "oracle recomputes from scratch over (base - deletes) + inserts, "
    "so any drift between the algebraic merge and the true aggregate "
    "breaks the hash. At 100 TB: the delta-side work is "
    "O(|delta| + |groups|), the view merge is a join of two "
    "group-sized tables — the base scan (the expensive thing) "
    "happens once at view creation, never per refresh.",
)
def etl_incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    vdec = F.col("o_totalprice").cast("decimal(25,6)")
    base = orders.filter(F.col("o_orderdate") < F.lit("1996-01-01").cast("date"))
    # the materialized view state: per-group count + exact sum
    view = base.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"), F.sum(vdec).alias("s")
    )
    # CDC delta: inserts (sign +1) and deletes of historical rows
    # (sign -1) — aggregated ALONE, never touching the base again
    inserts = orders.filter(
        F.col("o_orderdate") >= F.lit("1996-01-01").cast("date")
    ).select("o_orderpriority", vdec.alias("v"), F.lit(1).alias("sign"))
    deletes = base.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderpriority", vdec.alias("v"), F.lit(-1).alias("sign")
    )
    delta = (
        inserts.unionByName(deletes)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("sign").alias("dn"),
            F.sum(F.col("v") * F.col("sign")).alias("ds"),
        )
    )
    merged = (
        view.join(delta, "o_orderpriority", "full")
        .select(
            "o_orderpriority",
            (F.coalesce("n", F.lit(0)) + F.coalesce("dn", F.lit(0))).alias(
                "n_new"
            ),
            (
                F.coalesce(F.col("s"), F.lit(0).cast("decimal(25,6)"))
                + F.coalesce(F.col("ds"), F.lit(0).cast("decimal(25,6)"))
            ).alias("s_new"),
        )
        .filter(F.col("n_new") > 0)
    )
    return merged.select(
        "o_orderpriority",
        F.col("n_new").cast("long").alias("n_orders"),
        F.round("s_new", 2).cast("double").alias("total_price"),
    )


# Anti-entropy constants: digest prime + bucket count. Digests are
# < P ~ 1e9, so an int64 bucket sum is exact up to ~9e9 rows/bucket.
MERKLE_P = 1_000_000_007
MERKLE_BUCKETS = 64


@register(
    "s7_replica_merkle_diff",
    survey_ids=("A1", "J1"),
    oracle=f"""
WITH a AS (
  SELECT o_orderkey AS k,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
b AS (  -- replica with injected divergence in buckets 7 (update) and
        -- 13 (partial delete)
  SELECT k,
         CASE WHEN k % {MERKLE_BUCKETS} = 7 AND k % 10 = 1
              THEN cents + 1 ELSE cents END AS cents
  FROM a
  WHERE NOT (k % {MERKLE_BUCKETS} = 13 AND k % 10 = 3)
),
ha AS (
  SELECT k % {MERKLE_BUCKETS} AS bucket,
         CAST(count(*) AS BIGINT) AS n_a,
         CAST(sum((k * 1000003 + cents) % {MERKLE_P})
              % {MERKLE_P} AS BIGINT) AS hash_a
  FROM a GROUP BY 1
),
hb AS (
  SELECT k % {MERKLE_BUCKETS} AS bucket,
         CAST(count(*) AS BIGINT) AS n_b,
         CAST(sum((k * 1000003 + cents) % {MERKLE_P})
              % {MERKLE_P} AS BIGINT) AS hash_b
  FROM b GROUP BY 1
)
SELECT coalesce(ha.bucket, hb.bucket) AS bucket, n_a, n_b, hash_a, hash_b
FROM ha FULL JOIN hb ON ha.bucket = hb.bucket
WHERE n_a IS DISTINCT FROM n_b OR hash_a IS DISTINCT FROM hash_b
""",
    doc="MERKLE-STYLE ANTI-ENTROPY between two table replicas (the "
    "Dynamo/Cassandra repair primitive): each replica reduces to "
    "per-bucket (row count, order-free digest sum mod P) — one "
    "aggregate per side, output 64 rows each — and the full-outer "
    "bucket compare names exactly the diverging buckets, here the "
    "two with injected divergence (bucket 7: cents drift on every "
    "10th key; bucket 13: partial delete). Row-level repair then "
    "reads ONLY those buckets — at 100 TB the compare moves "
    "2 x 64 rows between replicas instead of shuffling either "
    "table, which is the entire point of hash-tree repair. The "
    "digest is engine-neutral integer arithmetic (k*1000003 + "
    "cents mod P, summed mod P; digests < P keep an int64 bucket "
    "sum exact to ~9e9 rows) — the same xxhash64-avoidance rule as "
    "text_fingerprint. A digest that ignored values (count-only) "
    "would miss bucket 7; one that ignored counts could miss "
    "compensating edits — both sides are checked.",
)
def s7_replica_merkle_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    a = orders.select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100)
        .cast("long")
        .alias("cents"),
    )
    b = a.filter(
        ~((F.col("k") % MERKLE_BUCKETS == 13) & (F.col("k") % 10 == 3))
    ).select(
        "k",
        F.when(
            (F.col("k") % MERKLE_BUCKETS == 7) & (F.col("k") % 10 == 1),
            F.col("cents") + 1,
        )
        .otherwise(F.col("cents"))
        .alias("cents"),
    )

    def bucket_hashes(df: DataFrame, n: str, h: str) -> DataFrame:
        digest = (F.col("k") * 1000003 + F.col("cents")) % MERKLE_P
        return (
            df.select((F.col("k") % MERKLE_BUCKETS).alias("bucket"), digest.alias("d"))
            .groupBy("bucket")
            .agg(
                F.count("*").cast("long").alias(n),
                (F.sum("d") % MERKLE_P).cast("long").alias(h),
            )
        )

    ha = bucket_hashes(a, "n_a", "hash_a")
    hb = bucket_hashes(b, "n_b", "hash_b")
    j = ha.alias("ha").join(
        hb.alias("hb"), F.col("ha.bucket") == F.col("hb.bucket"), "full"
    )
    return j.select(
        F.coalesce(F.col("ha.bucket"), F.col("hb.bucket")).alias("bucket"),
        "n_a",
        "n_b",
        "hash_a",
        "hash_b",
    ).filter(
        ~F.col("n_a").eqNullSafe(F.col("n_b"))
        | ~F.col("hash_a").eqNullSafe(F.col("hash_b"))
    )


@register(
    "etl_scd2_point_in_time_join",
    survey_ids=("J1", "A1"),
    oracle="""
WITH feed AS (
  SELECT o_custkey, o_orderdate, o_orderkey, o_orderpriority AS attr
  FROM orders
),
changes AS (
  SELECT * FROM (
    SELECT o_custkey, o_orderdate, o_orderkey, attr,
           lag(attr) OVER (
             PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey) AS prev_attr
    FROM feed
  ) WHERE prev_attr IS NULL OR prev_attr <> attr
),
dim AS (
  SELECT o_custkey, attr,
         o_orderdate AS valid_from,
         lead(o_orderdate) OVER (
           PARTITION BY o_custkey
           ORDER BY o_orderdate, o_orderkey) AS valid_to
  FROM changes
),
facts AS (
  SELECT o.o_custkey, l.l_shipdate, l.l_extendedprice
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT d.attr,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(round(sum(CAST(f.l_extendedprice AS DECIMAL(25,6))), 2)
            AS DOUBLE) AS revenue
FROM facts f
JOIN dim d
  ON f.o_custkey = d.o_custkey
 AND f.l_shipdate >= d.valid_from
 AND (d.valid_to IS NULL OR f.l_shipdate < d.valid_to)
GROUP BY d.attr
""",
    doc="POINT-IN-TIME fact lookup against the SCD2 dimension — the "
    "consumption side of etl_scd2_dimension_build (whose builder is "
    "reused verbatim for the dimension): each lineitem is attributed "
    "to the customer-priority VERSION valid at its ship date "
    "(valid_from <= d < valid_to, open current row), then revenue "
    "rolls up by the as-of attribute. Plan shape: EQUI-join on the "
    "dimension key + residual range filter — the right SCD2 lookup "
    "at any scale because per-key fan-out before the filter is the "
    "key's VERSION COUNT (bounded by its change history, typically "
    "single digits), after which exactly one version survives: the "
    "validity ranges partition the timeline, so this join is "
    "one-to-at-most-one by construction. No banded range join "
    "needed — that machinery (events_range_join_banded) is for "
    "range predicates WITHOUT an equi key. Ship dates before a "
    "customer's first version drop on both engines (inner join).",
)
def etl_scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    dim = etl_scd2_dimension_build(spark, sf_dir).select(
        "o_custkey", "attr", "valid_from", "valid_to"
    )
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    facts = (
        t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_shipdate", "l_extendedprice")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select("o_custkey", "l_shipdate", "l_extendedprice")
    )
    joined = facts.join(
        dim.withColumnRenamed("o_custkey", "d_custkey"),
        (F.col("o_custkey") == F.col("d_custkey"))
        & (F.col("l_shipdate") >= F.col("valid_from"))
        & (
            F.col("valid_to").isNull()
            | (F.col("l_shipdate") < F.col("valid_to"))
        ),
    )
    return joined.groupBy("attr").agg(
        F.count("*").cast("long").alias("n_items"),
        money_sum(F.col("l_extendedprice")).alias("revenue"),
    )


@register(
    "s_python_datasource_scan",
    survey_ids=("S1", "A1"),
    oracle="""
WITH rows_gen AS (
  SELECT r.range AS doc_id,
         CAST(r.range // 100 AS INT) AS part,
         CAST(1 + (r.range % 5) AS INT) AS n_tokens
  FROM range(0, 400) r
),
toks AS (
  SELECT doc_id, part, n_tokens,
         ['alpha','beta','gamma','delta','epsilon','zeta','eta']
           [1 + (doc_id % 7)] AS first_token
  FROM rows_gen
)
SELECT first_token,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(count(DISTINCT part) AS BIGINT) AS n_parts_seen
FROM toks
GROUP BY first_token
""",
    doc="CUSTOM PYTHON DATASOURCE scan (the Spark 4 connector API, "
    "sources/pyds.py): a DataSource subclass registered by name, "
    "read via spark.read.format('synthetic_docs') — 4 "
    "InputPartitions of 100 rows each, generated ON EXECUTORS "
    "through the Arrow-batched Python reader, then aggregated like "
    "any other relation. The oracle recomputes the source's "
    "closed-form generation rule (first token = tokens[i %% 7], "
    "n_tokens = 1 + i %% 5, part = i // 100) from range(), so a "
    "partition-boundary bug, a dropped partition (n_parts_seen "
    "breaks), or a payload drift all hash-mismatch. This is the "
    "engine's answer to bespoke non-JVM sources — the reference's "
    "psycopg2 cursor loop shape — with partitions as the "
    "parallelism contract.",
)
def s_python_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:  # noqa: ARG001
    from ..sources.pyds import register_synthetic_docs  # noqa: PLC0415

    register_synthetic_docs(spark)
    df = (
        spark.read.format("synthetic_docs")
        .option("n_partitions", 4)
        .option("rows_per_part", 100)
        .load()
    )
    first_token = F.element_at(F.split(F.col("text"), " "), 1)
    return df.groupBy(first_token.alias("first_token")).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.countDistinct("part").cast("long").alias("n_parts_seen"),
    )
