"""Incremental MinHash index (plans/dedup_index.py): the probe must
read the stored band index bucket-aligned (no index shuffle), and the
incremental answer must equal the batch operator's answer restricted
to arriving-endpoint pairs — the lifecycle adds ingest mechanics, not
different semantics.
"""

from __future__ import annotations

import contextlib
import io

from tijdloze_musicbrainz_spark.plans import REGISTRY
from tijdloze_musicbrainz_spark.plans.dedup_index import DEDUP_DELTA_MOD


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_probe_reads_stored_index_bucketed(spark, sf_dir):
    df = REGISTRY["dedup_minhash_incremental"].builder(spark, sf_dir)
    plan = _plan(df)
    # the stored band table arrives bucket-aligned: its scan is marked
    # bucketed and the probe join is the sort-merge the hint pins (a
    # toy-scale broadcast would hide the property under test)
    assert "Bucketed: true" in plan
    assert "SortMergeJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_incremental_equals_batch_restricted_to_arrivals(spark, sf_dir):
    inc = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in REGISTRY["dedup_minhash_incremental"]
        .builder(spark, sf_dir)
        .collect()
    }
    batch = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in REGISTRY["dedup_minhash_lsh"].builder(spark, sf_dir).collect()
    }
    expected = {
        (a, b, j)
        for (a, b, j) in batch
        if a % DEDUP_DELTA_MOD == 0 or b % DEDUP_DELTA_MOD == 0
    }
    assert inc == expected
    assert inc, "restriction produced no pairs — split constant broke the test"


def test_compaction_collapses_files_preserving_results(spark, sf_dir):
    import os
    import re
    from collections import Counter

    from tijdloze_musicbrainz_spark.plans.etl import SINK_ROOT
    from tijdloze_musicbrainz_spark.sources.commit_log import current_snapshot

    inc = {
        tuple(r)
        for r in REGISTRY["dedup_minhash_incremental"]
        .builder(spark, sf_dir)
        .collect()
    }
    comp = {
        tuple(r)
        for r in REGISTRY["dedup_minhash_index_compact"]
        .builder(spark, sf_dir)
        .collect()
    }
    # the layout changes, the results must not
    assert comp == inc

    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    root = f"{SINK_ROOT}/mh_compact_{tag}"

    def layout(path):
        fs = [f for f in os.listdir(path) if f.endswith(".parquet")]
        per_bucket = Counter()
        for f in fs:
            # anchored to Spark's bucketed-file naming
            # (part-<task>-<uuid>_<bucket:05d>.c<n>....parquet) so a
            # uuid segment can never match; assert before grouping so a
            # naming-scheme change fails loudly, not with AttributeError
            m = re.search(r"_(\d{5})\.c\d+\.", f)
            assert m is not None, f"unrecognized bucketed file name: {f}"
            per_bucket[m.group(1)] += 1
        return len(fs), max(per_bucket.values())

    # pre-compaction: TWO runs (base + ingested generation), each with
    # one-plus file per touched bucket; the compactor folds the run
    # set into one table with exactly one file per bucket
    num_buckets = current_snapshot(root)["num_buckets"]
    n_before = layout(f"{root}/bands_g0")[0] + layout(f"{root}/bands_g1")[0]
    n_after, max_per_bucket = layout(f"{root}/bands_c")
    assert n_before > num_buckets
    assert n_after <= num_buckets
    assert max_per_bucket == 1


def test_probe_is_lazy_and_scans_index_once(spark, sf_dir, jobs_of):
    """r10 verdict item 1: the probe path must not launch ANY
    full-index aggregation — in fact no job at all (the old code ran
    an eager distinct().count() over the whole band table per probe
    batch), and the final plan must scan the stored band table exactly
    once (probe side reads the staged delta-signature files, not the
    index)."""
    from tijdloze_musicbrainz_spark.plans import dedup_index as di

    args = di._build_and_ingest(spark, sf_dir, "mh_lazy")
    df, n_jobs = jobs_of(lambda: di._probe_index(spark, *args))
    assert n_jobs == 0, f"probe launched {n_jobs} jobs"

    import re

    plan = _plan(df)
    # exactly one scan NODE per stored band RUN (base + one ingested
    # generation): formatted explain prints each node once as a
    # numbered detail header "(n) Scan ..."
    band_runs = args[0]
    assert isinstance(band_runs, list) and len(band_runs) == 2, band_runs
    for run in band_runs:
        scan_nodes = re.findall(
            rf"\(\d+\) Scan parquet \S*\.{re.escape(run)}\b", plan
        )
        assert len(scan_nodes) == 1, (run, plan)
    # probe side reads the staged delta-signature files, not the index
    assert "stage/delta_bands" in plan
    # and no aggregate feeds the n_indexed column — it is a literal
    assert df.schema["n_indexed"].dataType.typeName() == "long"


def test_delta_signed_once(spark, sf_dir):
    """r10 ADVICE: the arriving batch is MinHash-signed exactly once —
    the staged delta-band files are what both the append and the probe
    consume, so the probe plan contains NO minhash aggregation (the
    signature pipeline's groupBy over exploded shingles)."""
    from tijdloze_musicbrainz_spark.plans import dedup_index as di

    args = di._build_and_ingest(spark, sf_dir, "mh_once")
    plan = _plan(di._probe_index(spark, *args))
    # the signing pipeline explodes shingles then min-aggregates; a
    # probe that re-signs would show those operators in its plan
    assert "explode" not in plan.lower()
    assert "min(" not in plan.lower()


def test_concurrent_append_is_rejected(tmp_path):
    """r10 verdict item 7: the index append path must never interleave
    two writers silently. While one writer holds the append lock, a
    second appender gets an explicit ConcurrentAppendError."""
    import pytest

    from tijdloze_musicbrainz_spark.sources.bucketing import (
        ConcurrentAppendError,
        exclusive_append,
    )

    loc = str(tmp_path / "index")
    with exclusive_append(loc, owner="writer-1"):
        with pytest.raises(ConcurrentAppendError, match="another writer"):
            with exclusive_append(loc, owner="writer-2"):
                raise AssertionError("second writer must not enter")
    # released on exit: a later append proceeds
    with exclusive_append(loc, owner="writer-3"):
        pass
    import os

    assert not os.path.exists(os.path.join(loc, "_APPEND_LOCK"))


def test_real_two_thread_append_race_no_silent_interleave(tmp_path):
    """An ACTUAL two-thread race on the same index location (the
    manifest race test's sibling for the bucketed-index lock): both
    threads line up on a barrier then attempt the append transaction.
    Every accepted writer's marker lands exactly once, every rejected
    writer raised ConcurrentAppendError and left NO data — there is no
    third outcome (the silent interleave the lock exists to prevent)."""
    import os
    import threading
    import time

    from tijdloze_musicbrainz_spark.sources.bucketing import (
        ConcurrentAppendError,
        exclusive_append,
    )

    loc = str(tmp_path / "index")
    os.makedirs(loc)
    barrier = threading.Barrier(2, timeout=10)
    accepted: list[int] = []
    rejected: list[int] = []
    errors: list[BaseException] = []

    def writer(i: int) -> None:
        try:
            barrier.wait()
            with exclusive_append(loc, owner=f"w{i}"):
                time.sleep(0.3)  # hold across the other's attempt
                with open(os.path.join(loc, f"data_{i}"), "w") as f:
                    f.write(str(i))
                accepted.append(i)
        except ConcurrentAppendError:
            rejected.append(i)
        except BaseException as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [threading.Thread(target=writer, args=(i,)) for i in (1, 2)]
    for t_ in threads:
        t_.start()
    for t_ in threads:
        t_.join()
    assert not errors, errors
    assert len(accepted) + len(rejected) == 2
    assert len(accepted) >= 1
    # accepted writers' data landed exactly once; rejected left nothing
    data = sorted(f for f in os.listdir(loc) if f.startswith("data_"))
    assert data == sorted(f"data_{i}" for i in accepted)


def test_n_indexed_counts_every_nonnull_doc(spark, sf_dir):
    import pyspark.sql.functions as F

    from tijdloze_musicbrainz_spark.plans.util import t

    rows = (
        REGISTRY["dedup_minhash_incremental"]
        .builder(spark, sf_dir)
        .select("n_indexed")
        .distinct()
        .collect()
    )
    assert len(rows) == 1
    n_docs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .count()
    )
    # base indexed at build + delta appended = every non-null doc: the
    # accounting column proves the append landed in the queried store
    assert rows[0]["n_indexed"] == n_docs


def test_small_delta_probe_skips_row_groups(spark, tmp_path):
    """r11 verdict item 1: a probe whose delta touches a handful of
    band keys must not read the whole stored index. The ingest-time
    key sidecar becomes a pushed In(band_key, ...) predicate on the
    bucket-sorted store, and the evidence is three-fold: (a) the
    executed plan shows the filter in PushedFilters, (b) Spark prunes
    non-matching BUCKET files (SelectedBucketsCount < total — whole
    files never opened), and (c) a parquet-stats audit shows the
    row groups whose [min,max] can contain any delta key — the only
    ones the pushed predicate lets the reader decode — hold a small
    fraction of the store's rows. The sidecar-less control run over
    the SAME store and delta shows none of (a)/(b)."""
    import re

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from tijdloze_musicbrainz_spark.plans import dedup_index as di
    from tijdloze_musicbrainz_spark.plans.lifecycle import (
        write_delta_key_manifest,
    )
    from tijdloze_musicbrainz_spark.sources.bucketing import write_bucketed

    n_store = 500_000
    # an explicit multi-bucket store, so bucket pruning has files to skip
    nb = 16
    store = spark.range(n_store).select(
        F.xxhash64("id").alias("band_key"), F.col("id").alias("doc_id")
    )
    loc = str(tmp_path / "bands")
    # a COMPACTED layout (one sorted file per bucket, several row
    # groups each — forced by a small parquet block size) so row-group
    # ranges are narrow; 512 single-row-group shard files would make
    # every range span the full hash domain and prove nothing
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    old_bs = hconf.get("parquet.block.size")
    hconf.set("parquet.block.size", str(64 * 1024))
    try:
        write_bucketed(
            store.repartition(nb, F.pmod(F.hash("band_key"), F.lit(nb))),
            "probe_skip_bands",
            bucket_cols=["band_key"],
            num_buckets=nb,
            sort_cols=["band_key"],
            location=loc,
        )
    finally:
        if old_bs is None:
            hconf.unset("parquet.block.size")
        else:
            hconf.set("parquet.block.size", old_bs)
    rows5 = spark.table("probe_skip_bands").limit(5).collect()
    hit_keys = [r["band_key"] for r in rows5]
    delta_dir = str(tmp_path / "delta")
    spark.createDataFrame(
        [(10_000_000 + i, k) for i, k in enumerate(hit_keys)],
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

    def probe_plan():
        df = di._probe_index(
            spark, "probe_skip_bands", sh_dir, delta_dir, 1
        )
        df.collect()
        return df._jdf.queryExecution().executedPlan().toString()

    # control: no sidecar -> no pushed key filter, no bucket pruning
    control = probe_plan()
    ctl_scans = [l for l in control.splitlines() if "probe_skip_bands" in l]
    assert ctl_scans and all("In(band_key" not in l for l in ctl_scans)
    ctl_sbc = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", control)
    assert ctl_sbc is None or ctl_sbc.group(1) == ctl_sbc.group(2)

    # with the sidecar: (a) pushed filter, (b) bucket files pruned
    write_delta_key_manifest(
        spark.read.schema("doc_id bigint, band_key bigint").parquet(
            delta_dir
        ),
        "band_key",
        delta_dir,
        len(hit_keys),
    )
    pushed = probe_plan()
    scans = [l for l in pushed.splitlines() if "probe_skip_bands" in l]
    assert scans and all("In(band_key" in l for l in scans), scans
    sbc = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", pushed)
    assert sbc is not None, pushed[:4000]
    n_sel, n_tot = int(sbc.group(1)), int(sbc.group(2))
    assert n_tot == nb
    assert n_sel < n_tot, (n_sel, n_tot)

    # (c) row-group stats audit: rows in row groups whose [min,max]
    # can contain at least one delta key — all the pushed predicate
    # lets the parquet reader decode (the store is bucket-SORTED on
    # band_key, so row-group ranges are narrow)
    eligible = total = 0
    for f in (tmp_path / "bands").glob("*.parquet"):
        md = pq.ParquetFile(str(f)).metadata
        ci = {md.schema.column(i).name: i for i in range(md.num_columns)}
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            st = rg.column(ci["band_key"]).statistics
            total += rg.num_rows
            if any(st.min <= k <= st.max for k in hit_keys):
                eligible += rg.num_rows
    assert total == n_store
    assert eligible < n_store // 4, (eligible, total)

    spark.sql("DROP TABLE IF EXISTS probe_skip_bands")


def test_split_count_sizes_to_target(spark):
    """The bucket-count rule: ceil(bytes / target), at least one; the
    target is the session's scan-split size, read back from Spark's
    byte-string conf."""
    from tijdloze_musicbrainz_spark.sources.bucketing import (
        split_bytes,
        split_count,
    )

    target = 128 << 20
    assert split_count(0, target) == 1
    assert split_count(target, target) == 1
    assert split_count(target + 1, target) == 2
    assert split_count(1000 * target, target) == 1000

    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    try:
        assert split_bytes(spark) == target  # session.py pins 128 MB
        spark.conf.set(key, "64m")
        assert split_bytes(spark) == 64 << 20
        spark.conf.set(key, "134217728b")
        assert split_bytes(spark) == target
    finally:
        spark.conf.set(key, old)


def test_vacuum_job_budget_and_data_sized_buckets(spark, bench_sf01, jobs_of):
    """Job budget of the index lifecycle (build, append, compaction,
    vacuum, probe) at sf0.01, counted with statusTracker job groups.
    The base run is ~115 KB, so the data-sized band index is ONE
    bucket, and the key sidecar's over-cap pre-check rides the staged
    write instead of launching a job."""
    from tijdloze_musicbrainz_spark.plans.lifecycle import index_root
    from tijdloze_musicbrainz_spark.sources.commit_log import current_snapshot

    sf = bench_sf01
    df, n_build = jobs_of(
        lambda: REGISTRY["dedup_minhash_vacuum"].builder(spark, sf)
    )
    _, n_exec = jobs_of(
        lambda: df.write.format("noop").mode("overwrite").save()
    )
    assert n_build <= 13, n_build
    assert n_exec <= 4, n_exec
    snap = current_snapshot(index_root(sf, "mh_vacuum", fresh=False))
    assert snap["num_buckets"] == 1
