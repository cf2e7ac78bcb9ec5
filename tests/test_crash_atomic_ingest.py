"""Crash-atomic batch index ingest (r12 verdict item 1, mirroring
tests/test_manifest.py's crash-before-pointer-swap proof for the
bucketed index tiers): a multi-store ingest transaction (band/block
run + shingle payload + labels + remap journal + accounting + key
stats) becomes visible in ONE snapshot commit, so a writer dying
between ANY two store writes leaves readers on the old complete
snapshot; recovery takes over the dead writer's stale lock, replays
the generation (every write is a deterministic-path overwrite), and
converges to the uncrashed result.
"""

from __future__ import annotations

import json
import os
import subprocess

import pytest
from pyspark.sql import functions as F

from tijdloze_musicbrainz_spark.plans import REGISTRY
from tijdloze_musicbrainz_spark.plans.lifecycle import index_root, sf_tag
from tijdloze_musicbrainz_spark.sources.bucketing import (
    ConcurrentAppendError,
    exclusive_append,
)
from tijdloze_musicbrainz_spark.sources.commit_log import (
    commit_snapshot,
    current_snapshot,
    current_snapshot_version,
)


def _dead_pid() -> int:
    proc = subprocess.Popen(["true"])
    proc.wait()
    return proc.pid


def test_stale_lock_from_dead_pid_is_taken_over(tmp_path):
    loc = str(tmp_path)
    lock = os.path.join(loc, "_APPEND_LOCK")
    with open(lock, "w") as f:
        f.write(f"pid={_dead_pid()} owner=crashed_writer\n")
    # pre-fix this raised ConcurrentAppendError with no recovery path
    with exclusive_append(loc, owner="recoverer"):
        with open(lock) as f:
            held = f.read()
        assert f"pid={os.getpid()}" in held and "recoverer" in held
    assert not os.path.exists(lock)


def test_live_or_unattributable_lock_is_never_stolen(tmp_path):
    loc = str(tmp_path)
    lock = os.path.join(loc, "_APPEND_LOCK")
    # live holder: our own pid
    with open(lock, "w") as f:
        f.write(f"pid={os.getpid()} owner=live_writer\n")
    with pytest.raises(ConcurrentAppendError):
        with exclusive_append(loc, owner="thief"):
            pass
    # unparseable payload: cannot attribute -> treated as alive
    with open(lock, "w") as f:
        f.write("garbage with no pid token\n")
    with pytest.raises(ConcurrentAppendError):
        with exclusive_append(loc, owner="thief"):
            pass
    # lock untouched by the rejected attempts
    with open(lock) as f:
        assert f.read() == "garbage with no pid token\n"


def test_orphan_snapshot_manifest_is_reclaimed_on_recovery(tmp_path):
    """Crash BETWEEN manifest write and pointer flip: the orphan
    version file beyond _CURRENT is a dead predecessor's debris (the
    exclusive lock guarantees no live second writer) and is reclaimed
    by the recovery commit instead of blocking it forever. The
    recovery MUST hold the tier lease (r14 ADVICE): only the lease
    proves there is no live competitor mid-publish."""
    root = str(tmp_path / "idx")
    assert commit_snapshot(root, {"state": "base"}) == 0
    # crashed writer wrote v1.json but never flipped the pointer
    os.makedirs(f"{root}/_snapshots", exist_ok=True)
    with open(f"{root}/_snapshots/v1.json", "x") as f:
        f.write(json.dumps({"state": "orphan-debris"}))
    assert current_snapshot_version(root) == 0
    assert current_snapshot(root) == {"state": "base"}
    # recovery replays the ingest and commits under the lease: the
    # orphan is overwritten
    with exclusive_append(root, owner="recovery") as lease:
        assert commit_snapshot(root, {"state": "recovered"}, lease=lease) == 1
    assert current_snapshot(root) == {"state": "recovered"}


def test_mh_kill_mid_ingest_leaves_old_snapshot_then_recovery_converges(
    spark, sf_dir, monkeypatch
):
    """MinHash band index: the injected crash fires AFTER the
    generation's band run is written but BEFORE the shingle payload —
    historically the nastiest point (a visible band append without its
    verify payload silently drops every candidate pair). Readers must
    see the complete BASE snapshot; a recovery re-ingest (taking over
    the hard-killed writer's stale lock) must converge to the
    uncrashed operator's exact result."""
    from tijdloze_musicbrainz_spark.plans import dedup_index as di

    name = "mh_crash"
    real = di.write_payload
    calls = {"n": 0}

    def flaky(sh, path):
        calls["n"] += 1
        if calls["n"] == 2:  # call 1 = base build; call 2 = the ingest
            raise RuntimeError("injected crash between store writes")
        real(sh, path)

    monkeypatch.setattr(di, "write_payload", flaky)
    with pytest.raises(RuntimeError, match="injected crash"):
        di._build_and_ingest(spark, sf_dir, name)
    monkeypatch.undo()

    from tijdloze_musicbrainz_spark.plans.util import t

    root = index_root(sf_dir, name, fresh=False)
    tag = sf_tag(sf_dir)
    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", di.words_col().alias("ws"))
    )
    n_base = docs.filter(F.col("doc_id") % di.DEDUP_DELTA_MOD != 0).count()

    # reader view: the committed snapshot is the complete base index —
    # one band run, one payload dir, base-only accounting — even
    # though the dead writer's partial band run exists on disk
    snap = current_snapshot(root)
    assert snap["bands"] == [f"{name}_bands_{tag}"]
    assert snap["shingle_dirs"] == [f"{root}/shingles/gen=0"]
    assert snap["n_indexed"] == n_base
    assert os.path.exists(f"{root}/bands_g1"), "crash fired too early"
    # every store the snapshot names is complete and readable
    assert spark.table(snap["bands"][0]).count() > 0
    assert spark.read.parquet(*snap["shingle_dirs"]).count() == n_base

    # hard-kill simulation: the dead writer's lock is still in place
    lock = os.path.join(root, "_APPEND_LOCK")
    with open(lock, "w") as f:
        f.write(f"pid={_dead_pid()} owner={name}\n")

    # recovery: replay the generation — stale lock taken over, every
    # write overwrites its deterministic path, one commit publishes
    delta = docs.filter(F.col("doc_id") % di.DEDUP_DELTA_MOD == 0)
    di._ingest_generation(spark, root, name, tag, delta)
    assert not os.path.exists(lock)

    snap2 = current_snapshot(root)
    assert snap2["bands"] == [f"{name}_bands_{tag}", f"{name}_bands_{tag}_g1"]
    assert len(snap2["shingle_dirs"]) == 2
    recovered = {
        tuple(r)
        for r in di._probe_index(
            spark,
            snap2["bands"],
            snap2["shingle_dirs"],
            f"{root}/stage/delta_bands",
            snap2["n_indexed"],
        ).collect()
    }
    expected = {
        tuple(r)
        for r in REGISTRY["dedup_minhash_incremental"]
        .builder(spark, sf_dir)
        .collect()
    }
    assert recovered == expected and recovered


def test_cc_kill_mid_merge_leaves_old_snapshot_then_recovery_converges(
    spark, sf_dir, monkeypatch
):
    """Cluster tier: the injected crash fires AFTER the generation's
    labels are written but BEFORE the remap journal — the exact
    labels-without-journal inconsistency the append-in-place layout
    could expose. Readers resolve only the committed snapshot (base
    labels, no partial generation); recovery replays the generation
    under the taken-over lock and converges to the uncrashed labels."""
    from tijdloze_musicbrainz_spark.plans import cc_index as cc

    name = "cc_crash"
    t_blocks, paths, docs_all, pay, n_base = cc._build_base(
        spark, sf_dir, name
    )

    def boom(merged, batch_ids):
        raise RuntimeError("injected crash before remap journal")

    monkeypatch.setattr(cc, "_journal_moves", boom)
    pred = F.col("doc_id") % cc.CC_DELTA_MOD == 0
    with pytest.raises(RuntimeError, match="injected crash"):
        cc._ingest_and_merge_generation(
            spark, t_blocks, paths, docs_all, pay, pred, gen=1
        )
    monkeypatch.undo()

    root = paths["root"]
    snap = current_snapshot(root)
    assert snap["gens"] == [] and snap["n_indexed"] == n_base
    # the committed view resolves cleanly to base-only labels even
    # though the dead writer's labels/gen=1 exists on disk
    assert os.path.exists(f"{paths['labels']}/gen=1"), "crash fired too early"
    base_view = {
        (r["doc_id"], r["cluster_id"])
        for r in cc._resolve_labels(spark, paths, snap["gens"]).collect()
    }
    assert len(base_view) == n_base

    lock = os.path.join(root, "_APPEND_LOCK")
    with open(lock, "w") as f:
        f.write(f"pid={_dead_pid()} owner={name}\n")

    cc._ingest_and_merge_generation(
        spark, t_blocks, paths, docs_all, pay, pred, gen=1
    )
    assert not os.path.exists(lock)
    snap2 = current_snapshot(root)
    assert snap2["gens"] == [1]
    recovered = {
        (r["doc_id"], r["cluster_id"])
        for r in cc._resolve_labels(spark, paths, snap2["gens"]).collect()
    }
    expected = {
        (r["doc_id"], r["cluster_id"])
        for r in REGISTRY["dedup_cluster_incremental"]
        .builder(spark, sf_dir)
        .collect()
    }
    assert recovered == expected and recovered


def test_ann_kill_mid_ingest_leaves_old_snapshot_then_recovery_converges(
    spark, sf_dir, monkeypatch
):
    """ANN tier (r13 symmetry): the injected crash fires AFTER the
    generation's code-list run is written but BEFORE the snapshot
    commit — under the old in-place partitioned append this window
    exposed a half-applied batch (some centroid partitions with the
    delta's files, readers mid-listing seeing a torn subset). Readers
    must resolve the base-only snapshot; recovery replays the
    generation under the taken-over lock and converges to the
    uncrashed append operator's exact top-k."""
    from tijdloze_musicbrainz_spark.plans.similarity import (
        pq_lifecycle as pq,
    )

    base = pq._pq_vecs(spark, sf_dir)
    subs = pq._pq_subs(base)
    root = index_root(sf_dir, "ivfpq_crash")
    pq._pq_write_index(base, subs, pq._pq_seed_codebook(base, subs), root)
    delta = pq._pq_delta(base)
    cb = spark.read.parquet(f"{root}/codebook")
    cents = spark.read.parquet(f"{root}/cents")

    real_commit = pq.commit_snapshot

    def boom(*a, **k):
        raise RuntimeError("injected crash before snapshot commit")

    monkeypatch.setattr(pq, "commit_snapshot", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        pq._pq_ingest_batch(delta, cb, cents, root)
    monkeypatch.setattr(pq, "commit_snapshot", real_commit)

    # reader view: base-only snapshot, the dead writer's run invisible
    snap = current_snapshot(root)
    assert snap["lists"] == [pq._pq_run(root, "lists")]
    assert os.path.exists(f"{root}/lists_g1"), "crash fired too early"

    # hard-kill debris + recovery replay
    lock = os.path.join(root, "_APPEND_LOCK")
    with open(lock, "w") as f:
        f.write(f"pid={_dead_pid()} owner=pq_crashed\n")
    pq._pq_ingest_batch(delta, cb, cents, root)
    assert not os.path.exists(lock)
    assert current_snapshot(root)["lists"] == [
        pq._pq_run(root, "lists"), pq._pq_run(root, "lists_g1"),
    ]

    corpus = base.select("vec_id", "v").unionByName(delta.select("vec_id", "v"))
    topk, _, _, _ = pq._pq_query_stored(spark, base, subs, root, corpus)
    recovered = {
        (r["query_id"], r["match_id"], r["pq_adc"], r["cosine"])
        for r in topk.collect()
    }
    expected = {
        (r["query_id"], r["match_id"], r["pq_adc"], r["cosine"])
        for r in REGISTRY["sim_ann_ivf_pq_append"].builder(spark, sf_dir).collect()
    }
    assert recovered == expected and recovered
