"""Concurrent-reader visibility for index-compaction swaps (r11
verdict item 3): compaction writes a FRESH store and then publishes it
with one atomic pointer flip (sources/commit_log.py publish_store /
current_store). These are REAL two-thread races, the index tiers'
sibling of tests/test_manifest.py's two-writer proof: a reader loops
resolve-pointer -> full probe while the compactor rewrites and
publishes. Every observed result must equal a legal snapshot — the
old complete store or the new complete store; a torn read (a reader
inside a half-written store) would surface as a missing-footer error
or a wrong result set, and both fail the assertion.
"""

from __future__ import annotations

import threading

from pyspark.sql import functions as F


def test_concurrent_probe_during_band_index_compaction(spark, tmp_path):
    from tijdloze_musicbrainz_spark.plans import dedup_index as di
    from tijdloze_musicbrainz_spark.plans.lifecycle import compact_bucketed
    from tijdloze_musicbrainz_spark.sources.commit_log import (
        current_store,
        publish_store,
    )
    from tijdloze_musicbrainz_spark.sources.bucketing import write_bucketed

    # an explicit multi-bucket store: the swap races a real compaction
    nb = 16
    store = spark.range(200_000).select(
        F.xxhash64("id").alias("band_key"), F.col("id").alias("doc_id")
    )
    root = str(tmp_path / "bands")
    write_bucketed(
        store,
        "swap_bands",
        bucket_cols=["band_key"],
        num_buckets=nb,
        sort_cols=["band_key"],
        location=root,
    )
    rows5 = spark.table("swap_bands").limit(5).collect()
    delta_dir = str(tmp_path / "delta")
    spark.createDataFrame(
        [(10_000_000 + i, r["band_key"]) for i, r in enumerate(rows5)],
        "doc_id bigint, band_key bigint",
    ).coalesce(1).write.parquet(delta_dir)
    sh_dir = str(tmp_path / "sh")
    spark.createDataFrame(
        [
            (i, ["a b c"])
            for i in [r["doc_id"] for r in rows5]
            + [10_000_000 + j for j in range(5)]
        ],
        "doc_id bigint, sgs array<string>",
    ).write.parquet(sh_dir)

    def probe(table: str) -> frozenset:
        return frozenset(
            tuple(r)
            for r in di._probe_index(
                spark, table, sh_dir, delta_dir, 1
            ).collect()
        )

    expected = probe("swap_bands")
    assert expected, "probe found no pairs — fixture broke"

    compactor_done = threading.Event()
    errors: list[BaseException] = []
    observed_stores: set[str] = set()

    def compactor() -> None:
        try:
            compact_bucketed(
                spark,
                "swap_bands",
                "swap_bands_c",
                bucket_col="band_key",
                num_buckets=nb,
                location=str(tmp_path / "bands_c"),
            )
            publish_store(root, "swap_bands_c")
        except BaseException as exc:  # noqa: BLE001
            errors.append(exc)
        finally:
            compactor_done.set()

    def reader() -> None:
        try:
            # keep racing while the compactor works, then two more
            # resolutions so the POST-publish store is provably read
            last_two = 2
            while last_two:
                if compactor_done.is_set():
                    last_two -= 1
                table = current_store(root, "swap_bands")
                observed_stores.add(table)
                assert probe(table) == expected, f"torn read via {table}"
        except BaseException as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [
        threading.Thread(target=compactor),
        threading.Thread(target=reader),
    ]
    for t_ in threads:
        t_.start()
    for t_ in threads:
        t_.join(timeout=300)
    assert not errors, errors
    # the race genuinely crossed the swap: the reader saw the new
    # store after publish (and typically the old one while compacting)
    assert "swap_bands_c" in observed_stores, observed_stores
    assert current_store(root, "swap_bands") == "swap_bands_c"
    for t in ("swap_bands", "swap_bands_c"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_concurrent_label_read_during_label_compaction(spark, tmp_path):
    """The cluster tier's swap: readers resolve labels through the
    remap-generation journal until the compactor publishes the flat
    folded store. Same legal-snapshot contract — both views resolve to
    the SAME (doc_id, cluster_id) set, so any torn read of a
    half-written flat store fails the equality."""
    from tijdloze_musicbrainz_spark.plans import cc_index as cc
    from tijdloze_musicbrainz_spark.sources.commit_log import (
        current_store,
        publish_store,
    )

    paths = {
        "labels": str(tmp_path / "labels"),
        "remaps": str(tmp_path / "remaps"),
    }
    n = 20_000
    spark.range(n).select(
        F.col("id").alias("doc_id"), (F.col("id") % 1000).alias("cluster_id")
    ).write.parquet(paths["labels"])
    # one remap generation: fold odd labels into their even neighbor
    spark.range(500).select(
        (F.col("id") * 2 + 1).alias("old_label"),
        (F.col("id") * 2).alias("new_label"),
    ).write.parquet(f"{paths['remaps']}/gen=1")

    def resolve() -> frozenset:
        flat = current_store(paths["labels"], "")
        if flat:
            df = spark.read.schema("doc_id bigint, cluster_id bigint").parquet(
                flat
            )
        else:
            df = cc._resolve_labels(spark, paths, [1])
        return frozenset((r["doc_id"], r["cluster_id"]) for r in df.collect())

    expected = resolve()
    assert len(expected) == n

    compactor_done = threading.Event()
    errors: list[BaseException] = []
    saw_flat: list[bool] = []

    def compactor() -> None:
        try:
            compacted = str(tmp_path / "labels_compacted")
            cc._resolve_labels(spark, paths, [1]).write.parquet(compacted)
            publish_store(paths["labels"], compacted)
        except BaseException as exc:  # noqa: BLE001
            errors.append(exc)
        finally:
            compactor_done.set()

    def reader() -> None:
        try:
            last_two = 2
            while last_two:
                if compactor_done.is_set():
                    last_two -= 1
                saw_flat.append(bool(current_store(paths["labels"], "")))
                assert resolve() == expected, "torn label read"
        except BaseException as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [
        threading.Thread(target=compactor),
        threading.Thread(target=reader),
    ]
    for t_ in threads:
        t_.start()
    for t_ in threads:
        t_.join(timeout=300)
    assert not errors, errors
    assert saw_flat[-1] is True  # post-publish read went to the flat store
