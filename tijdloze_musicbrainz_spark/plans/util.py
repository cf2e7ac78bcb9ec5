"""Shared helpers for query builders and their DuckDB oracles.

Money sums use exact DECIMAL accumulation (``money_sum``) so the
result is independent of partial-aggregation order on both engines.

Cross-engine hash-stability rules (see plans.registry docstring):
floats rounded, timestamps as epoch BIGINT, arrays sorted+joined.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..sources.bucketing import split_count


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def epoch(col: Column | str) -> Column:
    """Timestamp → epoch seconds (BIGINT), truncating — matches the
    DuckDB twin ``epoch_sql``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_timestamp(c).cast("long")


def epoch_sql(expr: str) -> str:
    return f"CAST(floor(epoch({expr})) AS BIGINT)"


def round2(col: Column) -> Column:
    return F.round(col, 2)


# Money aggregates: double summation is order-dependent, and with 32
# shuffle partitions the partial-agg order differs from DuckDB's —
# round(x, 2) can then straddle a cent boundary (seen at sf0.001:
# 289145.57 vs .58). Casting each term to exact DECIMAL before SUM
# makes the aggregate associative-exact on both engines; the final
# cent-rounding then happens on identical values. Result is cast back
# to DOUBLE so the schema stays engine-neutral.


def money_sum(col: Column) -> Column:
    return F.round(F.sum(col.cast("decimal(25,6)")), 2).cast("double")


def money_sum_sql(expr: str) -> str:
    return f"CAST(round(sum(CAST(({expr}) AS DECIMAL(25,6))), 2) AS DOUBLE)"


def money_avg(col: Column, digits: int = 2) -> Column:
    """avg as exact-sum / count: both engines divide the same exact
    decimal-sum (as double) by the same integer count."""
    c = col
    return F.round(
        F.sum(c.cast("decimal(25,6)")).cast("double") / F.count(c), digits
    )


def money_avg_sql(expr: str, digits: int = 2) -> str:
    return (
        f"round(CAST(sum(CAST(({expr}) AS DECIMAL(25,6))) AS DOUBLE)"
        f" / count({expr}), {digits})"
    )


def values_df(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """Small literal rows as a SQL VALUES relation — a JVM-native
    LocalRelation. ``createDataFrame(rows, schema)`` parallelizes the
    pickled rows across defaultParallelism partitions and evaluates
    them through Python workers: a 32-task Python round-trip per
    consumer of a 5-row table, ~8 s of blocked task time per cold
    stage (r15 measurement on the fixture e2e, 10.7 s -> 3.3 s solo).
    A VALUES relation needs no tasks to evaluate, broadcasts
    naturally, and constant-folds. Supports int/bool/str/None cells —
    the driver-side literal tables this repo builds."""
    cols = [c.strip().rsplit(" ", 1) for c in schema.split(",")]

    def lit(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, int):
            return str(v)
        return "'" + str(v).replace("'", "''") + "'"

    values = ", ".join(
        "(" + ", ".join(lit(v) for v in row) + ")" for row in rows
    )
    select = ", ".join(
        f"CAST(c{i} AS {typ}) AS {name}"
        for i, (name, typ) in enumerate(cols)
    )
    cnames = ", ".join(f"c{i}" for i in range(len(cols)))
    return spark.sql(
        f"SELECT {select} FROM (VALUES {values}) AS t({cnames})"
    )


# The one budget of the broadcast gate below, sized to a production
# executor's broadcast share.
BCAST_MAX_BYTES = 256 << 20


def fits_broadcast(
    measured_bytes: float | None, n_rows: int | None, row_bytes: int
) -> bool:
    """The broadcast-size gate for build sides AQE cannot size (a
    checkpoint is a LogicalRDD without stats): True when the side fits
    :data:`BCAST_MAX_BYTES` by ``measured_bytes`` (e.g. an observed
    checkpoint's block bytes), else by ``n_rows * row_bytes``, the
    caller's per-row estimate; with neither figure it refuses. Above
    the budget the caller keeps its sort-merge plan."""
    if measured_bytes is not None:
        return measured_bytes <= BCAST_MAX_BYTES
    if n_rows is not None:
        return n_rows * row_bytes <= BCAST_MAX_BYTES
    return False


def fan_out(df: DataFrame) -> DataFrame:
    """Raise map-side parallelism of a CPU-heavy narrow pipeline when
    the upstream scan has FEWER partitions than the cluster has slots.
    The driver testdata ships each table as one single-row-group
    parquet file, so every scan-rooted stage runs as ONE task while
    the other cores idle — minhash signing, simhash voting, BPE
    tokenization all serialize. The repartition is gated on the actual
    partition count, so at production scale (inputs >> slots) it is a
    provable no-op and no corpus-sized shuffle is ever injected; the
    shuffled bytes locally are the projected columns only (call this
    AFTER projecting, guide: shuffle fewer bytes). Deterministic:
    round-robin repartition sorts locally first (SPARK-23207), and
    every consumer here is an aggregate/join whose result is
    row-order independent. The input must be SCAN-ROOTED: on a plan
    ending in an exchange, AQE runs the stages as a job to answer
    ``getNumPartitions()`` and returns the coalesced count (a
    ``groupBy`` frame: one job, 1 partition)."""
    sc = df.sparkSession.sparkContext
    n = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)


# Target real checkpoint bytes per downstream task (the measured sizing
# is in checkpointed_payload's docstring).
CKPT_PART_BYTES = 1 << 20


def checkpointed_payload(
    df: DataFrame,
    aggs: list[Column] | None = None,
    part_bytes: int | None = None,
) -> tuple[DataFrame, dict]:
    """The package's one checkpoint, for a frame consumed by several
    sibling sub-trees (self-joins, multi-action lifecycles, iterative
    rounds): without it every consumer re-evaluates the full upstream
    lineage. This helper:

    1. attaches an ``observe`` so the row count — and any caller
       aggregates, e.g. a broadcast gate's base-subset count — ride
       the CHECKPOINT job instead of costing separate count actions,
    2. checkpoints EAGERLY (a lazy checkpoint recomputes the plan on
       first use). With a RELIABLE checkpoint dir configured
       (``sc.setCheckpointDir``) the blocks go to shared storage —
       loss-proof at the cost of one distributed write; otherwise
       ``localCheckpoint`` keeps them on executor-local storage,
       where an executor loss triggers recompute, never failure
       (SCALE.md),
    3. coalesces the materialized blocks so one downstream task
       carries ~``CKPT_PART_BYTES`` of REAL checkpoint
       bytes (read from the block manager's storage info — measured,
       not estimated). Narrow and cheap: the blocks are already
       materialized; at production volume ``bytes/target >=
       partitions`` and nothing is coalesced (the helper only ever
       REDUCES partition count).

    It does not fan out: a CPU-heavy scan-rooted payload is passed as
    ``fan_out(x)``; a loop round's exchange-rooted frame never is.

    The default target (1 MB) sizes for the downstream consumers
    these payloads feed — shingle-set Jaccard verification runs
    ~0.5-1 s of CPU per MB of payload, so a 1 MB slice keeps a task's
    work 1-2 orders above its scheduling cost while still letting a
    small corpus parallelize. Measured on dedup_cluster_incremental
    at sf0.1 (7.7 MB payload, solo best-of-3): 1 partition (32 MB
    target) 14.1 s, 4 parts (2 MB) 9.2 s, 8 parts (1 MB) 8.3 s, 16
    parts (512 KB) 10.0 s, 32 parts (the un-sized checkpoint)
    13.1 s. ``part_bytes`` overrides the target per call: a payload
    whose consumers burn MORE CPU per byte (the 64-permutation
    minhash sign over raw token arrays) wants smaller slices.

    Returns ``(payload_df, metrics)`` where metrics carries
    ``n_rows``, ``bytes`` (None under a RELIABLE checkpoint dir,
    whose blocks are not in the block manager), and every caller
    aggregate by its alias."""
    sc = df.sparkSession.sparkContext
    obs = Observation()
    df = df.observe(obs, F.count(F.lit(1)).alias("__n_rows"), *(aggs or []))
    before = {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}
    nbytes = None
    if sc.getCheckpointDir() is not None:
        ck = df.checkpoint(eager=True)
    else:
        ck = df.localCheckpoint(eager=True)
        storage = sc._jsc.sc().getRDDStorageInfo()
        new = [i for i in storage if i.id() not in before]
        if new:
            info = max(new, key=lambda i: i.id())
            nbytes = int(info.memSize() + info.diskSize())
    metrics = dict(obs.get)
    metrics["n_rows"] = int(metrics.pop("__n_rows") or 0)
    metrics["bytes"] = nbytes
    if nbytes is not None:
        ideal = split_count(nbytes, part_bytes or CKPT_PART_BYTES)
        if ideal < ck.rdd.getNumPartitions():
            ck = ck.coalesce(ideal)
    return ck, metrics
