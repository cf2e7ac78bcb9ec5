"""Pinned tests for the r12 ADVICE items + verdict item 6 (the
sidecar hardening and the meta-blocking sentinel
accounting row).

- NULL staged keys must be dropped, not crash the ingest sort
  (ADVICE: lifecycle.write_delta_key_manifest).
- An over-cap delta must not pay the exact distinct SHUFFLE just to
  discard the key set (verdict item 6: approx_count_distinct guard) —
  pinned by counting the Spark jobs the sidecar write launches: the
  approximate count is observed on the staged write and passed in, so
  the over-cap path launches none.
- The meta-blocked Jaccard drop counters must reach the hashed result
  even when NO pair clears the threshold — via the always-present
  sentinel row, differentially checked against the oracle on a
  constructed corpus whose mega-block drops every candidate
  (ADVICE: plans/dedup.py).
"""

from __future__ import annotations

import json
import os

import duckdb
from pyspark.sql import functions as F

from tijdloze_musicbrainz_spark.plans.lifecycle import (
    _DELTA_KEYS_SIDECAR,
    PROBE_PUSHDOWN_MAX_KEYS,
    write_delta_key_manifest,
)


def _read_sidecar(staged_dir: str) -> dict:
    with open(os.path.join(staged_dir, _DELTA_KEYS_SIDECAR)) as f:
        return json.load(f)


def test_sidecar_drops_null_keys_instead_of_crashing(spark, tmp_path):
    staged = spark.createDataFrame(
        [(1, 10), (2, None), (3, 10), (4, 20), (5, None)],
        "doc_id bigint, band_key bigint",
    )
    d = str(tmp_path)
    # pre-fix this raised TypeError from sorted([None, 10, 20])
    write_delta_key_manifest(staged, "band_key", d, 2)
    m = _read_sidecar(d)
    assert m["complete"] is True
    # NULL keys can never equi-join a probe — dropping them is exact
    assert m["keys"] == [10, 20]


def test_sidecar_overcap_delta_skips_exact_distinct_shuffle(
    spark, tmp_path, monkeypatch, jobs_of
):
    from tijdloze_musicbrainz_spark.plans import lifecycle

    cap = PROBE_PUSHDOWN_MAX_KEYS

    # structural pin: the exact distinct pass must never run for a
    # clearly-over-cap delta (r12 verdict item 6 — pre-guard it paid
    # a full distinct shuffle just to discard the key set)
    def _boom(*a, **k):
        raise AssertionError("exact distinct pass ran on an over-cap delta")

    monkeypatch.setattr(lifecycle, "_exact_key_set", _boom)
    over = spark.range(20 * cap).select(
        F.col("id").alias("doc_id"), F.col("id").alias("band_key")
    )
    d_over = str(tmp_path / "over")
    os.makedirs(d_over)
    _, n_over = jobs_of(
        lambda: write_delta_key_manifest(over, "band_key", d_over, 20 * cap)
    )
    m = _read_sidecar(d_over)
    assert m["complete"] is False and m["keys"] == []
    monkeypatch.undo()

    under = spark.range(17).select(
        F.col("id").alias("doc_id"), F.col("id").alias("band_key")
    )
    d_under = str(tmp_path / "under")
    os.makedirs(d_under)
    _, n_under = jobs_of(
        lambda: write_delta_key_manifest(under, "band_key", d_under, 17)
    )
    m = _read_sidecar(d_under)
    assert m["complete"] is True and m["keys"] == list(range(17))
    # the over-cap decision uses only the count passed in: no job at
    # all, while the under-cap path pays the exact distinct pass
    assert n_over == 0, n_over
    assert n_under > 0, n_under


def test_meta_blocked_sentinel_survives_empty_pair_set(spark, tmp_path):
    """Corpus engineered so the ONLY near-dup pair lands in a dropped
    sub-block: 17 docs share block key 'tpl' (> META_BLOCK_CAP=16),
    re-block by first-2-tokens puts 9 of them (> META_SUBBLOCK_CAP=8)
    — including the planted identical pair — in one dropped sub-block.
    Result: zero qualifying pairs, but the sentinel row still carries
    (n_blocks_reblocked=1, n_subblocks_dropped=1, n_docs_dropped=9),
    identically in both engines (r12 ADVICE: pre-sentinel, an empty
    pair set silently hid the dropped mass)."""
    from tijdloze_musicbrainz_spark.plans import REGISTRY

    docs = []
    # 9 docs in sub-block 'tpl x' — two of them identical (a real
    # >=0.9 pair that the cap drops), the rest mutually dissimilar
    docs.append((0, "tpl x same words exactly here now today friend one"))
    docs.append((1, "tpl x same words exactly here now today friend one"))
    for i in range(2, 9):
        docs.append((i, f"tpl x u{i}a u{i}b u{i}c u{i}d u{i}e u{i}f u{i}g"))
    # 8 docs in sub-block 'tpl y' (kept: <= META_SUBBLOCK_CAP), all
    # mutually dissimilar -> no qualifying pair
    for i in range(9, 17):
        docs.append((i, f"tpl y v{i}a v{i}b v{i}c v{i}d v{i}e v{i}f v{i}g"))
    df = spark.createDataFrame(
        [(i, t, "en", "srcA", len(t)) for i, t in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = tmp_path / "corpus"
    df.coalesce(1).write.parquet(str(d / "documents.parquet"))

    spec = REGISTRY["dedup_ngram_jaccard_meta_blocked"]
    got = spec.builder(spark, str(d)).collect()
    assert len(got) == 1, got
    row = got[0]
    assert (row["doc_a"], row["doc_b"], row["jaccard"]) == (-1, -1, None)
    assert row["n_blocks_reblocked"] == 1
    assert row["n_subblocks_dropped"] == 1
    assert row["n_docs_dropped"] == 9

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet/*.parquet'"
    )
    oracle = con.execute(spec.oracle).fetchall()
    assert sorted(map(tuple, oracle)) == sorted(tuple(r) for r in got)


def test_checksum_compare_agrees_with_row_compare(spark, sf_dir, duck):
    """r12 verdict item 2: the engine-side (count, two md5 lanes)
    checksum that replaces the 11M-row ship-and-sort for the three
    answer-bound sweep queries must agree with the row-level compare —
    equal results produce equal checksums across engines, and a
    one-row perturbation breaks the checksum (sensitivity), so the
    faster compare is not a weaker one."""
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from full_sweep import CHECKSUM_QUERIES, duck_checksum, spark_checksum

    from tijdloze_musicbrainz_spark.plans import REGISTRY

    assert CHECKSUM_QUERIES == {
        "dedup_containment_join",
        "dedup_jaccard_prefix_filter",
        "p12_exact_key_match",
    }
    for name in sorted(CHECKSUM_QUERIES):
        spec = REGISTRY[name]
        sdf = spec.builder(spark, sf_dir)
        scols, ssum = spark_checksum(sdf)
        dcols, dsum = duck_checksum(duck, spec.oracle)
        # row-level ground truth on the same results
        assert scols == dcols, name
        assert ssum == dsum, (name, ssum, dsum)
        assert ssum[0] > 0, f"{name}: empty result makes the pin vacuous"
        # sensitivity: dropping one row must change (count, checksums)
        perturbed = spark_checksum(sdf.limit(ssum[0] - 1))[1]
        assert perturbed != ssum, name
        # and a value-only perturbation (same count) must change a lane
        first_col = sdf.columns[0]
        mutated = spark_checksum(
            sdf.withColumn(
                first_col,
                F.when(
                    F.monotonically_increasing_id() == 0,
                    F.lit(-987654321).cast(dict(sdf.dtypes)[first_col]),
                ).otherwise(F.col(first_col)),
            )
        )[1]
        assert mutated != ssum, name
