"""Composed chaos for the CLUSTER and ANN tiers, plus the concurrent
multi-tier ingest (r13 verdict items 6 and 8).

tests/test_chaos_composed.py proved the composed scenario — concurrent
reader during the whole ingest transaction, losing live writer,
kill + recovery, three consecutive generations — for the MINHASH tier;
the r13 snapshot-layout conversion gave the cluster and ANN tiers the
same commit discipline, so they get the same composed pass here. The
tiers genuinely differ in payload and merge semantics, so each gets
its own test driving its own helpers (a forced common adapter would
abstract without shared behavior); the reader-race harness is shared.

The final-state oracle for both new tests is BATCH-COUNT INDEPENDENCE:
after three generations + a crash + a recovery, the index must answer
exactly like the registered single-generation operator over the same
corpus (labels are closure-determined; ANN top-k is content-determined
— layout differs, answers must not).

The multi-tier test runs all three tiers' ingest generations
CONCURRENTLY against the same corpus delta (the real nightly-pipeline
shape): snapshot isolation is per tier root, so all three commits must
land with no cross-tier lock interference and every probe stays green.
"""

from __future__ import annotations

import os
import subprocess
import threading

import pytest
from pyspark.sql import functions as F

from tijdloze_musicbrainz_spark.plans import REGISTRY
from tijdloze_musicbrainz_spark.plans import cc_index as cc
from tijdloze_musicbrainz_spark.plans import dedup_index as di
from tijdloze_musicbrainz_spark.plans.lifecycle import index_root, sf_tag
from tijdloze_musicbrainz_spark.plans.similarity import pq_lifecycle as pq
from tijdloze_musicbrainz_spark.plans.util import t
from tijdloze_musicbrainz_spark.sources.bucketing import (
    ConcurrentAppendError,
    exclusive_append,
    lock_payload,
)
from tijdloze_musicbrainz_spark.sources.commit_log import (
    current_snapshot,
    current_snapshot_version,
)
from tijdloze_musicbrainz_spark.sources.store_io import get_store_io


def _dead_writer_lock(root: str, owner: str) -> str:
    proc = subprocess.Popen(["true"])
    proc.wait()
    lock = os.path.join(root, "_APPEND_LOCK")
    get_store_io().put_atomic(
        lock, lock_payload(proc.pid, owner, fence=1, expires_at=0.0)
    )
    return lock


def _race_reader(check_invariant, run_writer):
    """The shared reader-race harness: hammer the reader invariant
    through the WHOLE writer transaction plus two post-commit laps;
    returns the set of snapshot versions the reader observed."""
    errors: list[BaseException] = []
    seen: set[int] = set()
    done = threading.Event()

    def reader() -> None:
        try:
            last_two = 2
            while last_two:
                if done.is_set():
                    last_two -= 1
                seen.add(check_invariant())
        except BaseException as exc:  # noqa: BLE001
            errors.append(exc)

    th = threading.Thread(target=reader)
    th.start()
    try:
        run_writer()
    finally:
        done.set()
        th.join(timeout=300)
    assert not errors, errors
    return seen


def test_chaos_cc_three_generations_reader_loser_kill(
    spark, sf_dir, monkeypatch
):
    """Cluster tier composed pass: the invariant a reader checks at
    every resolution is that the committed snapshot's label store
    (resolved through the remap chain of exactly the committed
    generations) covers exactly n_indexed documents and every block
    run is readable — a torn view breaks the count or errors."""
    name = "cc_chaos"
    t_blocks, paths, docs_all, pay, n_base = cc._build_base(
        spark, sf_dir, name
    )
    root = paths["root"]
    preds = [F.col("doc_id") % 30 == rem for rem in (0, 10, 20)]

    def check_invariant() -> int:
        snap = current_snapshot(root)
        n_labels = cc._resolve_labels(spark, paths, snap["gens"]).count()
        assert n_labels == snap["n_indexed"], (
            f"torn snapshot: labels {n_labels} != "
            f"accounting {snap['n_indexed']}"
        )
        for run in snap["blocks"]:
            spark.table(run).count()
        return current_snapshot_version(root)

    # gen 1: reader races the whole merge transaction
    seen = _race_reader(
        check_invariant,
        lambda: cc._ingest_and_merge_generation(
            spark, t_blocks, paths, docs_all, pay, preds[0], gen=1
        ),
    )
    assert 1 in seen, "reader never observed the post-commit view"

    # gen 2: live writer loses explicitly, then lands cleanly
    with exclusive_append(root, owner="other_live_writer"):
        with pytest.raises(ConcurrentAppendError):
            cc._ingest_and_merge_generation(
                spark, t_blocks, paths, docs_all, pay, preds[1], gen=2
            )
    assert check_invariant() == 1  # reject left no trace
    cc._ingest_and_merge_generation(
        spark, t_blocks, paths, docs_all, pay, preds[1], gen=2
    )
    assert check_invariant() == 2

    # gen 3: crash mid-merge (after labels, before journal), verify
    # the old snapshot, then hard-kill debris + recovery
    real = cc._journal_moves

    def crash_once(merged, batch_ids):
        monkeypatch.setattr(cc, "_journal_moves", real)
        raise RuntimeError("injected cc gen-3 crash")

    monkeypatch.setattr(cc, "_journal_moves", crash_once)
    with pytest.raises(RuntimeError, match="injected cc gen-3 crash"):
        cc._ingest_and_merge_generation(
            spark, t_blocks, paths, docs_all, pay, preds[2], gen=3
        )
    assert check_invariant() == 2
    lock = _dead_writer_lock(root, f"{name}_crashed")
    cc._ingest_and_merge_generation(
        spark, t_blocks, paths, docs_all, pay, preds[2], gen=3
    )
    assert not os.path.exists(lock)
    assert check_invariant() == 3

    # batch-count independence: three generations + a crash must
    # resolve to EXACTLY the registered single-generation operator's
    # labels (the closure is batching-invariant)
    snap = current_snapshot(root)
    assert snap["gens"] == [1, 2, 3]
    assert snap["n_indexed"] == n_base + docs_all.filter(
        F.col("doc_id") % cc.CC_DELTA_MOD == 0
    ).count()
    got = {
        (r["doc_id"], r["cluster_id"])
        for r in cc._resolve_labels(spark, paths, snap["gens"]).collect()
    }
    want = {
        (r["doc_id"], r["cluster_id"])
        for r in REGISTRY["dedup_cluster_incremental"]
        .builder(spark, sf_dir)
        .collect()
    }
    assert got == want and got


def test_chaos_ann_three_generations_reader_loser_kill(
    spark, sf_dir, monkeypatch
):
    """ANN tier composed pass: the reader invariant is that every code
    list the committed snapshot names is completely readable (complete
    footers); the final top-k must equal the registered single-batch
    append operator's — index content is ingest-batching-invariant."""
    base = pq._pq_vecs(spark, sf_dir)
    subs = pq._pq_subs(base)
    root = index_root(sf_dir, "ivfpq_chaos")
    pq._pq_write_index(base, subs, pq._pq_seed_codebook(base, subs), root)
    delta = pq._pq_delta(base)
    cb = spark.read.parquet(f"{root}/codebook")
    cents = spark.read.parquet(f"{root}/cents")
    slices = [delta.filter(F.col("vec_id") % 3 == r) for r in (0, 1, 2)]

    def check_invariant() -> int:
        snap = current_snapshot(root)
        for run in snap["lists"]:
            spark.table(run).count()
        return current_snapshot_version(root)

    # gen 1: reader races the ingest
    seen = _race_reader(
        check_invariant,
        lambda: pq._pq_ingest_batch(slices[0], cb, cents, root, gen="g1"),
    )
    assert 1 in seen, "reader never observed the post-commit view"

    # gen 2: live writer loses, then lands
    with exclusive_append(root, owner="other_live_writer"):
        with pytest.raises(ConcurrentAppendError):
            pq._pq_ingest_batch(slices[1], cb, cents, root, gen="g2")
    assert check_invariant() == 1
    pq._pq_ingest_batch(slices[1], cb, cents, root, gen="g2")
    assert check_invariant() == 2

    # gen 3: crash before the snapshot commit, then debris + recovery
    real_commit = pq.commit_snapshot

    def boom(*a, **k):
        raise RuntimeError("injected ann gen-3 crash")

    monkeypatch.setattr(pq, "commit_snapshot", boom)
    with pytest.raises(RuntimeError, match="injected ann gen-3 crash"):
        pq._pq_ingest_batch(slices[2], cb, cents, root, gen="g3")
    monkeypatch.setattr(pq, "commit_snapshot", real_commit)
    assert check_invariant() == 2
    lock = _dead_writer_lock(root, "ann_crashed")
    pq._pq_ingest_batch(slices[2], cb, cents, root, gen="g3")
    assert not os.path.exists(lock)
    assert check_invariant() == 3
    assert current_snapshot(root)["lists"] == [
        pq._pq_run(root, sub)
        for sub in ("lists", "lists_g1", "lists_g2", "lists_g3")
    ]

    corpus = base.select("vec_id", "v").unionByName(
        delta.select("vec_id", "v")
    )
    topk, _, _, _ = pq._pq_query_stored(spark, base, subs, root, corpus)
    got = {
        (r["query_id"], r["match_id"], r["pq_adc"], r["cosine"])
        for r in topk.collect()
    }
    want = {
        (r["query_id"], r["match_id"], r["pq_adc"], r["cosine"])
        for r in REGISTRY["sim_ann_ivf_pq_append"]
        .builder(spark, sf_dir)
        .collect()
    }
    assert got == want and got


def test_concurrent_multi_tier_ingest_snapshot_isolation(spark, sf_dir):
    """r13 verdict item 8 (the nightly-pipeline shape): the MinHash,
    cluster, and ANN tiers ingest the SAME corpus delta concurrently —
    three writer threads, three index roots, one Spark session. Each
    tier's lease is scoped to ITS root, so there must be zero
    cross-tier lock interference: all three commits land, every lock
    is released, and each tier's post-ingest probe matches the
    registered operator that ingests the same delta sequentially."""
    tag = sf_tag(sf_dir)

    # sequential base builds (the nightly pipeline builds once,
    # ingests nightly); distinct names keep roots/tables disjoint
    mh_name = "mh_conc"
    mh_root, mh_tag, _mh_base, mh_delta = di._build_base_index(
        spark, sf_dir, mh_name
    )

    cc_name = "cc_conc"
    t_blocks, paths, docs_all, pay, _nb = cc._build_base(
        spark, sf_dir, cc_name
    )

    base = pq._pq_vecs(spark, sf_dir)
    subs = pq._pq_subs(base)
    pq_root = index_root(sf_dir, "ivfpq_conc")
    pq._pq_write_index(base, subs, pq._pq_seed_codebook(base, subs), pq_root)
    pq_delta = pq._pq_delta(base)
    cb = spark.read.parquet(f"{pq_root}/codebook")
    cents = spark.read.parquet(f"{pq_root}/cents")

    jobs = {
        "minhash": lambda: di._ingest_generation(
            spark, mh_root, mh_name, mh_tag, mh_delta
        ),
        "cluster": lambda: cc._ingest_and_merge_generation(
            spark, t_blocks, paths, docs_all, pay,
            F.col("doc_id") % cc.CC_DELTA_MOD == 0, gen=1,
        ),
        "ann": lambda: pq._pq_ingest_batch(pq_delta, cb, cents, pq_root),
    }
    errors: dict[str, BaseException] = {}

    def run(tier: str) -> None:
        try:
            jobs[tier]()
        except BaseException as exc:  # noqa: BLE001
            errors[tier] = exc

    threads = [threading.Thread(target=run, args=(k,)) for k in jobs]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=600)
    assert not errors, errors

    # all three commits landed; all three locks released
    for root in (mh_root, paths["root"], pq_root):
        assert current_snapshot_version(root) >= 1, root
        assert not os.path.exists(os.path.join(root, "_APPEND_LOCK")), root

    # each tier's probe equals its sequential registered twin
    mh_snap = current_snapshot(mh_root)
    got_mh = {
        tuple(r)
        for r in di._probe_index(
            spark,
            mh_snap["bands"],
            mh_snap["shingle_dirs"],
            f"{mh_root}/stage/delta_bands",
            mh_snap["n_indexed"],
        ).collect()
    }
    want_mh = {
        tuple(r)
        for r in REGISTRY["dedup_minhash_incremental"]
        .builder(spark, sf_dir)
        .collect()
    }
    assert got_mh == want_mh and got_mh

    cc_snap = current_snapshot(paths["root"])
    got_cc = {
        (r["doc_id"], r["cluster_id"])
        for r in cc._resolve_labels(spark, paths, cc_snap["gens"]).collect()
    }
    want_cc = {
        (r["doc_id"], r["cluster_id"])
        for r in REGISTRY["dedup_cluster_incremental"]
        .builder(spark, sf_dir)
        .collect()
    }
    assert got_cc == want_cc and got_cc

    corpus = base.select("vec_id", "v").unionByName(
        pq_delta.select("vec_id", "v")
    )
    topk, _, _, _ = pq._pq_query_stored(spark, base, subs, pq_root, corpus)
    got_pq = {
        (r["query_id"], r["match_id"], r["pq_adc"], r["cosine"])
        for r in topk.collect()
    }
    want_pq = {
        (r["query_id"], r["match_id"], r["pq_adc"], r["cosine"])
        for r in REGISTRY["sim_ann_ivf_pq_append"]
        .builder(spark, sf_dir)
        .collect()
    }
    assert got_pq == want_pq and got_pq
