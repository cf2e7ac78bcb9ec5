"""Composed chaos pass (r12 verdict item 8): the three failure proofs
that existed separately — concurrent reader during a swap, losing
concurrent writer, kill + recovery — run against ONE index across
three consecutive ingest generations, so the interaction surface
(reader racing a mid-transaction writer; a rejected writer retrying
after the hold; recovery replaying into a store that later generations
build on) is covered in a single lifecycle.

The live invariant a reader checks at every resolution: whatever
snapshot version it sees, the payload store the manifest names holds
EXACTLY n_indexed documents and every named band run is readable. Any
torn view — a band run committed without its payload, a half-written
manifest, a store deleted under a pointer — breaks the equality or
errors the read; both fail the test.
"""

from __future__ import annotations

import os
import subprocess
import threading

import pytest
from pyspark.sql import functions as F

from tijdloze_musicbrainz_spark.plans import dedup_index as di
from tijdloze_musicbrainz_spark.plans.lifecycle import index_root, sf_tag
from tijdloze_musicbrainz_spark.plans.util import t
from tijdloze_musicbrainz_spark.sources.bucketing import (
    ConcurrentAppendError,
    exclusive_append,
)
from tijdloze_musicbrainz_spark.sources.commit_log import (
    commit_snapshot,
    current_snapshot,
    current_snapshot_version,
)


def test_chaos_three_generations_reader_loser_kill(
    spark, sf_dir, monkeypatch
):
    name = "mh_chaos"
    tag = sf_tag(sf_dir)
    root = index_root(sf_dir, name)

    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", di.words_col().alias("ws"))
    )
    base = docs.filter(F.col("doc_id") % 10 != 0)
    arrivals = docs.filter(F.col("doc_id") % 10 == 0)
    batches = [
        arrivals.filter(F.col("doc_id") % 30 == rem) for rem in (0, 10, 20)
    ]

    # -- base build, snapshot v0 (same shape as _build_and_ingest) -----
    t_bands = f"{name}_bands_{tag}"
    # explicit, and not the data-sized 1: every generation must take
    # its bucket spec from the manifest
    num_buckets = 4
    di.write_run(
        di.band_rows(base), t_bands, f"{root}/bands_g0", "band_key",
        num_buckets,
    )
    di.write_payload(di._shingle_sets(base), f"{root}/shingles/gen=0")
    n_base = base.count()
    commit_snapshot(
        root,
        {
            "bands": [t_bands],
            "shingle_dirs": [f"{root}/shingles/gen=0"],
            "n_indexed": n_base,
            "num_buckets": num_buckets,
            "key_stats": None,
        },
    )

    def check_invariant() -> int:
        """One reader resolution: the committed snapshot must be
        internally consistent no matter when it is taken."""
        snap = current_snapshot(root)
        n_payload = (
            spark.read.schema("doc_id bigint, sgs array<string>")
            .parquet(*snap["shingle_dirs"])
            .count()
        )
        assert n_payload == snap["n_indexed"], (
            f"torn snapshot: payload {n_payload} != "
            f"accounting {snap['n_indexed']}"
        )
        for run in snap["bands"]:
            spark.table(run).count()  # readable, complete footers
        return current_snapshot_version(root)

    # -- gen 1: a reader races the whole ingest transaction ------------
    reader_errors: list[BaseException] = []
    seen_versions: set[int] = set()
    writer_done = threading.Event()

    def reader() -> None:
        try:
            last_two = 2
            while last_two:
                if writer_done.is_set():
                    last_two -= 1
                seen_versions.add(check_invariant())
        except BaseException as exc:  # noqa: BLE001
            reader_errors.append(exc)

    th = threading.Thread(target=reader)
    th.start()
    try:
        di._ingest_generation(spark, root, name, tag, batches[0], gen=1)
    finally:
        writer_done.set()
        th.join(timeout=300)
    assert not reader_errors, reader_errors
    assert 1 in seen_versions, "reader never observed the post-commit view"

    # -- gen 2: a live concurrent writer must LOSE explicitly, then the
    # generation lands cleanly once the holder releases ---------------
    with exclusive_append(root, owner="other_live_writer"):
        with pytest.raises(ConcurrentAppendError):
            di._ingest_generation(spark, root, name, tag, batches[1], gen=2)
    assert current_snapshot_version(root) == 1  # reject left no trace
    check_invariant()
    di._ingest_generation(spark, root, name, tag, batches[1], gen=2)
    assert current_snapshot_version(root) == 2

    # -- gen 3: kill mid-transaction, verify old snapshot, recover -----
    real = di.write_payload

    def crash_once(sh, path):
        monkeypatch.setattr(di, "write_payload", real)
        raise RuntimeError("injected gen-3 crash")

    monkeypatch.setattr(di, "write_payload", crash_once)
    with pytest.raises(RuntimeError, match="injected gen-3 crash"):
        di._ingest_generation(spark, root, name, tag, batches[2], gen=3)
    assert check_invariant() == 2  # readers still on the gen-2 snapshot

    # hard-kill debris: the dead writer's lock
    proc = subprocess.Popen(["true"])
    proc.wait()
    lock = os.path.join(root, "_APPEND_LOCK")
    with open(lock, "w") as f:
        f.write(f"pid={proc.pid} owner={name}\n")
    di._ingest_generation(spark, root, name, tag, batches[2], gen=3)
    assert not os.path.exists(lock)

    # -- end state: every batch landed exactly once --------------------
    final = current_snapshot(root)
    assert check_invariant() == 3
    assert final["n_indexed"] == n_base + arrivals.count()
    assert final["bands"] == [
        t_bands,
        f"{t_bands}_g1",
        f"{t_bands}_g2",
        f"{t_bands}_g3",
    ]
    assert final["num_buckets"] == num_buckets
    for run in final["bands"]:
        spec = {
            r["col_name"]: r["data_type"]
            for r in spark.sql(f"DESCRIBE TABLE EXTENDED {run}").collect()
        }
        assert spec["Num Buckets"] == str(num_buckets), (run, spec)
    # the survived index answers probes: batch-3 arrivals find their
    # planted near-dup partners across ALL generations
    pairs = di._probe_index(
        spark,
        final["bands"],
        final["shingle_dirs"],
        f"{root}/stage/delta_bands_g3",
        final["n_indexed"],
    ).collect()
    assert pairs, "post-chaos probe found nothing — index unusable"
