"""Incremental cluster lifecycle (plans/cc_index.py): the probe must
read the stored block index bucket-aligned (no index shuffle), the
merge must run on the contracted graph through the CURRENT labels,
and the incremental labels must be bit-identical to a from-scratch
batch clustering — including the relabel cascade when an arriving
document bridges two existing components, and the chained cascade
when a LATER generation bridges through a component an earlier
generation already merged.
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from tijdloze_musicbrainz_spark.plans import REGISTRY
from tijdloze_musicbrainz_spark.plans.cc_index import (
    CC_DELTA_MOD,
    CC_PAY_BCAST_ROW_BYTES,
    _base_pairs,
    _block_runs,
    _build_base,
    _ingest_batch,
    _probe_pairs,
)
from tijdloze_musicbrainz_spark.plans.util import BCAST_MAX_BYTES
from tijdloze_musicbrainz_spark.sources.commit_log import current_snapshot


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_probe_reads_stored_blocks_bucketed(spark, sf_dir):
    t_blocks, paths, docs_all, pay, _ = _build_base(
        spark, sf_dir, "cc_plan_probe"
    )
    _ingest_batch(
        spark,
        t_blocks,
        paths,
        docs_all,
        pay,
        F.col("doc_id") % CC_DELTA_MOD == 0,
        gen=1,
        num_buckets=current_snapshot(paths["root"])["num_buckets"],
    )
    plan = _plan(_probe_pairs(spark, _block_runs(t_blocks, [1]), paths, gen=1))
    assert "Bucketed: true" in plan
    assert "SortMergeJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # r11 verdict item 1: the ingest-time key sidecar is pushed into
    # the stored block scan as a literal In(blk, ...) predicate, so a
    # small batch reads only matching row groups / bucket files
    # (the full mechanics are pinned in tests/test_dedup_index.py::
    # test_small_delta_probe_skips_row_groups; here we pin the cc tier
    # wires the same sidecar through its probe)
    assert "In(blk" in plan, plan[:4000]


def test_incremental_labels_equal_batch_clustering(spark, sf_dir):
    inc = {
        r["doc_id"]: r["cluster_id"]
        for r in REGISTRY["dedup_cluster_incremental"]
        .builder(spark, sf_dir)
        .collect()
    }
    batch = {
        r["doc_id"]: r["cluster_id"]
        for r in REGISTRY["dedup_cluster_components"]
        .builder(spark, sf_dir)
        .collect()
    }
    assert inc == batch
    assert any(k != v for k, v in inc.items()), (
        "corpus produced no non-trivial clusters — test is vacuous"
    )


def test_two_batch_compacted_equals_single_batch(spark, sf_dir):
    """Batch-count independence + compaction contract: two-generation
    ingest, resolved through the remap chain and folded flat, must
    produce exactly the single-batch (and hence from-scratch) labels."""
    two = {
        r["doc_id"]: r["cluster_id"]
        for r in REGISTRY["dedup_cluster_label_compact"]
        .builder(spark, sf_dir)
        .collect()
    }
    one = {
        r["doc_id"]: r["cluster_id"]
        for r in REGISTRY["dedup_cluster_incremental"]
        .builder(spark, sf_dir)
        .collect()
    }
    assert two == one


def _write_docs(path, rows) -> None:
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE d (doc_id BIGINT, text VARCHAR, lang VARCHAR, "
        "source VARCHAR, n_chars BIGINT)"
    )
    con.executemany(
        "INSERT INTO d VALUES (?, ?, 'en', 's0', ?)",
        [(i, txt, len(txt)) for i, txt in rows],
    )
    con.execute(f"COPY d TO '{path}/documents.parquet' (FORMAT parquet)")


_TOKS = [f"t{i}" for i in range(1, 63)]  # 62 tokens, 60 shingles


def _variant(*changes: tuple[int, str]) -> str:
    ws = list(_TOKS)
    for pos, w in changes:
        ws[pos - 1] = w
    return " ".join(ws)


def test_relabel_cascade_when_delta_bridges_two_components(spark, tmp_path):
    """Crafted corpus: base components {1,2} (label 1) and {3,4}
    (label 3) are NOT near-dups of each other (J ~ 0.82 < 0.9), but
    the arriving doc 10 is >= 0.9-near one member of EACH — the merge
    must cascade the relabel so all five documents land in cluster 1,
    even though doc 3/4 were never compared against doc 1/2."""
    rows = [
        # comp A: 2 = T<30>, 1 = T<30, last>  (J(1,2) = 59/61 ~ 0.97)
        (1, _variant((30, "qa"), (62, "qz1"))),
        (2, _variant((30, "qa"))),
        # comp B: 3 = T<40>, 4 = T<40, last>
        (3, _variant((40, "qb"))),
        (4, _variant((40, "qb"), (62, "qz4"))),
        # bridge: 10 = T exactly; J(10,2) = J(10,3) = 57/63 ~ 0.905,
        # J(2,3) = 54/66 ~ 0.82 (never pairs directly)
        (10, _variant()),
    ]
    _write_docs(tmp_path, rows)
    assert all(i % CC_DELTA_MOD != 0 for i, _ in rows[:4])
    assert rows[4][0] % CC_DELTA_MOD == 0

    out = {
        r["doc_id"]: (r["cluster_id"], r["n_indexed"])
        for r in REGISTRY["dedup_cluster_incremental"]
        .builder(spark, str(tmp_path))
        .collect()
    }
    assert out == {i: (1, 5) for i in (1, 2, 3, 4, 10)}


def test_chained_merge_contracts_through_earlier_generation(spark, tmp_path):
    """Generation 2 must contract through generation 1's remap:
    gen 1's doc 10 merges {1,2} and {3,4} into cluster 1 (remap
    3 -> 1); gen 2's doc 20 pairs with doc 10 (now labeled 1) and
    with comp C {5,6} (label 5). If gen 2 contracted against STALE
    labels it would still work here via doc 10's stored label, so the
    sharper assertion is the remap CHAIN: 5 -> 1 must land in gen 2's
    journal and resolve through the fold, giving one global cluster 1
    for all eight documents."""
    rows = [
        (1, _variant((30, "qa"), (62, "qz1"))),
        (2, _variant((30, "qa"))),
        (3, _variant((40, "qb"))),
        (4, _variant((40, "qb"), (62, "qz4"))),
        # comp C: TWO interior changes so J(10, 5) = 54/66 < 0.9 (gen 1
        # must NOT absorb it) but J(20, 5) = 57/63 >= 0.9 (gen 2 does)
        (5, _variant((50, "qc"), (52, "qc2"))),
        (6, _variant((50, "qc"), (52, "qc2"), (62, "qz6"))),
        # gen 1 bridge (10 % 20 == 10): T itself
        (10, _variant()),
        # gen 2 bridge (20 % 20 == 0): near 10 (one change) and near 5
        (20, _variant((50, "qc"))),
    ]
    _write_docs(tmp_path, rows)

    out = {
        r["doc_id"]: (r["cluster_id"], r["n_indexed"])
        for r in REGISTRY["dedup_cluster_label_compact"]
        .builder(spark, str(tmp_path))
        .collect()
    }
    assert out == {i: (1, 8) for i in (1, 2, 3, 4, 5, 6, 10, 20)}


def test_streaming_restart_labels_equal_batch_clustering(spark, sf_dir):
    """The cluster tier's restart-under-failure proof: the builder
    injects a torn commit after micro-batch 1's merge generation and
    restarts from the checkpoint (raising if the failure does not
    fire); the final resolved labels must equal the from-scratch batch
    clustering — the crash and replay changed nothing."""
    restart = {
        r["doc_id"]: r["cluster_id"]
        for r in REGISTRY["streaming_cluster_ingest_restart"]
        .builder(spark, sf_dir)
        .collect()
    }
    batch = {
        r["doc_id"]: r["cluster_id"]
        for r in REGISTRY["dedup_cluster_components"]
        .builder(spark, sf_dir)
        .collect()
    }
    assert restart == batch
    assert any(k != v for k, v in restart.items()), (
        "corpus produced no non-trivial clusters — test is vacuous"
    )


def test_streaming_restart_commits_through_the_log(spark, sf_dir):
    """The cluster restart proof runs the tier's committed generation
    transaction: after the torn commit and the replay, the snapshot
    names generations 1..n_files (the replayed batch once) and its
    n_indexed accounting covers the whole corpus."""
    import os

    from tijdloze_musicbrainz_spark.plans.lifecycle import index_root

    REGISTRY["streaming_cluster_ingest_restart"].builder(spark, sf_dir)
    root = index_root(sf_dir, "cc_stream", fresh=False)
    n_files = len(
        [f for f in os.listdir(f"{root}/arrivals") if f.endswith(".parquet")]
    )
    assert n_files >= 2, n_files
    snap = current_snapshot(root)
    assert snap["gens"] == list(range(1, n_files + 1))
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert snap["n_indexed"] == n_docs


def test_streaming_restart_rejects_too_small_corpus(spark, tmp_path):
    """The restart proof needs >= 2 staged micro-batch files (the torn
    commit fires after batch 1); a tiny corpus stages fewer (Spark
    writes no file for an empty repartition slice) and must fail with
    the loud staging error, not a vacuous 'failure did not fire' deep
    in the harness or a missing remaps/gen path at resolve."""
    import pytest

    rows = [(1, _variant((30, "qa"))), (10, _variant())]
    _write_docs(tmp_path, rows)
    with pytest.raises(ValueError, match="staged arrival file"):
        REGISTRY["streaming_cluster_ingest_restart"].builder(
            spark, str(tmp_path)
        ).collect()


def test_base_pairs_gate_falls_back_to_row_count_without_bytes(spark):
    """Under a reliable checkpoint dir the observed checkpoint reports no
    block bytes. The base self-join must then size itself by the exact
    base row count: a small base is broadcast, one past the budget is
    not."""
    pay = spark.createDataFrame(
        [(1, "a b", ["x"]), (2, "a b", ["x"]), (3, "c d", ["y"])],
        "doc_id long, blk string, sgs array<string>",
    )

    def hinted(pay_metrics: dict) -> bool:
        plan = _base_pairs(pay, pay_metrics)._jdf.queryExecution().optimizedPlan()
        return "strategy=broadcast" in plan.toString()

    assert hinted({"bytes": None, "n_rows": 3, "n_base_pay": 3})
    too_many = BCAST_MAX_BYTES // CC_PAY_BCAST_ROW_BYTES + 1
    assert not hinted({"bytes": None, "n_rows": too_many, "n_base_pay": too_many})


def test_cc_job_budget_and_data_sized_buckets(spark, bench_sf01, jobs_of):
    """Job budget of the cluster lifecycle (base build, ingest, merge,
    commit, label read) at sf0.01, counted with statusTracker job
    groups, and the block index's bucket spec: the base run is ~450
    rows x 64 B, so the data-sized block index is ONE bucket, committed
    in the snapshot and carried by every block run."""
    from tijdloze_musicbrainz_spark.plans.lifecycle import index_root

    sf = bench_sf01
    df, n_build = jobs_of(
        lambda: REGISTRY["dedup_cluster_incremental"].builder(spark, sf)
    )
    _, n_exec = jobs_of(
        lambda: df.write.format("noop").mode("overwrite").save()
    )
    assert n_build <= 68, n_build
    assert n_exec <= 2, n_exec
    snap = current_snapshot(index_root(sf, "cc_index", fresh=False))
    assert snap["num_buckets"] == 1
    assert len(snap["blocks"]) == 2
    for run in snap["blocks"]:
        spec = {
            r["col_name"]: r["data_type"]
            for r in spark.sql(f"DESCRIBE TABLE EXTENDED {run}").collect()
        }
        assert spec["Num Buckets"] == str(snap["num_buckets"]), (run, spec)
