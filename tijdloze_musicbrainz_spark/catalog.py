"""Schema registry + loaders for the test star schema.

The driver testdata is a TPC-H-ish star schema plus ``events`` (a
timestamped JSON-props stream table), ``documents`` (text corpus) and
``embeddings`` (float vectors). ``SCHEMAS`` declares each table's
schema explicitly — the reference declares its export schemas the same
way (``sql/2_export_tables.sql:1-55``). The loader does
NOT read with it: ``_load_table_uncached`` infers the schema from the
parquet footers (one Spark job per table, 9 per session for the
benchmark's nine tables, against 0 with ``.schema(SCHEMAS[name])``) and
checks the inferred field names against ``SCHEMAS`` — a superset
check, so a file that re-types a column is not caught here.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# serializes the scoped nanosAsLong conf set/restore in load_table
_NANOS_CONF_LOCK = threading.Lock()

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

# Dimension tables small enough to broadcast at ANY scale factor —
# TPC-H fixes region=5 and nation=25 rows; customer/supplier/part grow
# with SF so they are NOT on this list.
BROADCAST_DIMS = frozenset({"region", "nation"})


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table. Parquet carries its own schema; we read as-is so
    Catalyst's parquet pushdown/pruning applies, but validate the field
    names against the registry to fail fast on drift.

    The resolved DataFrame (a lazy PLAN — no rows are materialized,
    every action still computes from the parquet files) is cached on
    the session object: footer schema-inference + analysis +
    name-validation cost ~107 ms per call (measured r15, warm), and
    builders call this several times per bench trial. The cache dies
    with the session; source tables are immutable inputs."""
    cache = getattr(spark, "_tmb_table_plan_cache", None)
    if cache is None:
        cache = {}
        spark._tmb_table_plan_cache = cache
    key = (sf_dir, name)
    if key in cache:
        return cache[key]
    df = _load_table_uncached(spark, sf_dir, name)
    cache[key] = df
    return df


def _load_table_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The real read (see load_table's docstring).

    Timestamp normalization: the driver has shipped ``events.ts`` both
    as parquet TIMESTAMP(NANOS) (rounds 1-3) and as naive
    TIMESTAMP(MICROS) (round 4). Handle both: nanos are read as long
    via the scoped legacy conf and truncated to microseconds — the
    exact truncation DuckDB applies on the same file; naive micros
    read as TIMESTAMP_NTZ and are cast to the session-tz TimestampType
    declared in SCHEMAS (the session tz is pinned UTC in session.py,
    so the wall-clock values are unchanged and both engines see
    identical instants)."""
    if name == "events":
        # Scope the nanos-as-long override to this read: leaving it set
        # globally would make any LATER nanos-timestamp parquet read in
        # the session silently yield bigint instead of failing fast.
        # The set/restore window mutates session-global conf, so it is
        # serialized under a module lock (round-3 ADVICE): concurrent
        # load_table calls from multiple threads could otherwise race
        # the restore and leak the override. Conversion is pinned at
        # analysis time (the forced df.schema below);
        # tests/test_catalog_nanos.py regression-tests that an action
        # AFTER the restore still yields timestamps.
        key = "spark.sql.legacy.parquet.nanosAsLong"
        with _NANOS_CONF_LOCK:
            prev = spark.conf.get(key, None)
            spark.conf.set(key, "true")
            try:
                df = spark.read.parquet(table_path(sf_dir, name))
                if dict(df.dtypes).get("ts") == "bigint":
                    df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
                # force analysis while the conf is still set; the scan
                # itself re-reads the conf at job time, so pin it via
                # the DataFrame
                df.schema  # noqa: B018
            finally:
                if prev is None:
                    spark.conf.unset(key)
                else:
                    spark.conf.set(key, prev)
    else:
        df = spark.read.parquet(table_path(sf_dir, name))
    # Naive parquet micros surface as TIMESTAMP_NTZ; align them to the
    # registry's TimestampType (no-op on values under the UTC session
    # tz) so downstream window/interval arithmetic and the DuckDB
    # comparison see one consistent type across testdata vintages.
    dtypes = dict(df.dtypes)
    for field in SCHEMAS[name].fields:
        if isinstance(field.dataType, T.TimestampType) and dtypes.get(field.name) == "timestamp_ntz":
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    expected = {f.name for f in SCHEMAS[name].fields}
    got = set(df.columns)
    if not expected <= got:
        missing = sorted(expected - got)
        raise ValueError(f"table {name} at {sf_dir} missing columns: {missing}")
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register each table as a temp view so SQL-form plans can run."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
