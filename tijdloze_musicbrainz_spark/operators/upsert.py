"""Idempotent sinks (SURVEY §2.1 S7/S8, §2.4 A10).

The reference re-runs per artist and relies on Postgres upserts:
``ON CONFLICT (id) DO UPDATE`` overwrites all non-key columns
(``/root/reference/src/main.py:298-304,314-323``) and
``ON CONFLICT DO NOTHING`` keeps the first writer
(``sql/1:20``, ``sql/4:34``, ``sql/5:36``). Parquet has no upsert, so
the Spark-native equivalents are set-oriented dedup-before-write:

- last-writer-wins  → window top-1 over an explicit priority order,
  then a full (or partition-wise) atomic overwrite;
- first-writer-wins → ``dropDuplicates`` after a deterministic order
  (or the same window with the order flipped).

On a real lakehouse table (Delta/Iceberg) the incremental equivalent
is ``MERGE INTO``; those jars are not in this image, so the full-table
sink below overwrites, and the one incremental MERGE is
``operators.manifest.merge_upsert_manifest`` (touched buckets only,
one atomic commit through ``sources/commit_log.py``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .canonical import top1_per_group


def dedup_last_wins(
    df: DataFrame, keys: Sequence[str], priority: Sequence[Column]
) -> DataFrame:
    """One row per key; highest write-priority wins (S7 semantics).

    ``priority`` orders rows within a key, FIRST row wins — pass e.g.
    ``[F.desc("updated_at"), F.desc("batch_id")]`` for last-writer.
    """
    return top1_per_group(df, list(keys), list(priority))


def dedup_first_wins(
    df: DataFrame, keys: Sequence[str], order: Sequence[Column]
) -> DataFrame:
    """One row per key; first writer under ``order`` wins (S8)."""
    return top1_per_group(df, list(keys), list(order))


def write_upsert(
    df: DataFrame,
    path: str,
    keys: Sequence[str],
    priority: Sequence[Column],
    partition_by: Sequence[str] = (),
) -> None:
    """Dedup-then-atomic-overwrite parquet sink (full rewrite — for
    when the batch IS the whole table). For incremental merges into an
    existing large target use ``operators.manifest.merge_upsert_manifest``,
    which rewrites only the key-hash buckets the batch hits and commits
    them atomically."""
    deduped = dedup_last_wins(df, keys, priority)
    writer = deduped.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by).option(
            "partitionOverwriteMode", "dynamic"
        )
    writer.parquet(path)


def accuracy_report(
    df: DataFrame, expected: Column, actual: Column
) -> DataFrame:
    """The benchmark accuracy fold (src/benchmark.py:245-274):
    total / missing (no match) / wrong (mismatched id) / correct,
    with percentages — as one aggregation, not a driver loop."""
    flags = df.select(
        F.when(actual.isNull(), 1).otherwise(0).alias("__missing"),
        F.when(actual.isNotNull() & (actual != expected), 1).otherwise(0).alias("__wrong"),
        F.when(actual.isNotNull() & (actual == expected), 1).otherwise(0).alias("__correct"),
    )
    agg = flags.agg(
        F.count("*").alias("total"),
        F.sum("__missing").alias("missing"),
        F.sum("__wrong").alias("wrong"),
        F.sum("__correct").alias("correct"),
    )
    return agg.select(
        "total",
        "missing",
        "wrong",
        "correct",
        F.round(F.col("missing") * 100.0 / F.col("total"), 2).alias("missing_pct"),
        F.round(F.col("wrong") * 100.0 / F.col("total"), 2).alias("wrong_pct"),
        F.round(F.col("correct") * 100.0 / F.col("total"), 2).alias("correct_pct"),
    )
