"""One arm of the two-process writer race (r14 verdict item 1).

Every prior proof of the lease/fence story ran threads or fake clocks
inside ONE driver process; this script is a REAL driver — its own
Python process, its own SparkSession/JVM, its own pid — so the race
exercises the actual StoreIO (flock-guarded CAS on a shared local
root; conditional PUT/DELETE at object-store scale) across genuine
process boundaries. tests/test_two_process_race.py orchestrates two
of these (plus cleanup); file-based barriers keep the interleaving
deterministic.

Roles:

- ``victim``: builds the base band index (snapshot v0) at the SHARED
  root (``SPARK_GRAFT_SINK_DIR`` is shared across both drivers), then
  runs the REAL generation-1 ingest transaction
  (plans/dedup_index._ingest_generation) with one injection: the
  shingle-payload phase first drops an ``in_critical`` marker and
  blocks until a ``go`` file appears. The orchestrator SIGSTOPs (the
  GC-paused zombie) or SIGKILLs (the dead writer) this process while
  it holds the lease mid-transaction. A resumed zombie finishes its
  deterministic overwrite and attempts the snapshot commit, which
  must raise FencedOut through the real store — exit code 3 +
  ``FENCED_OUT`` on stdout is the proof; committing successfully is
  the split-brain failure (exit 4).
- ``recoverer``: waits for the victim to be mid-transaction, then
  retries the SAME ingest until the takeover succeeds (lease expiry
  for the stopped zombie, dead-pid for the killed writer — both real
  policy paths, no fakes). The base run's catalog entry does not
  exist in this process, so it ATTACHES the committed store with
  register_bucketed (catalog-per-session, storage shared — the
  multi-host contract), probes the committed snapshot, and writes the
  sorted probe rows to ``probe.json`` for the orchestrator's
  sequential-twin comparison.

Lease seconds come from ``RACE_LEASE_S`` (victim only — the
recoverer acquires with the default; what matters is the VICTIM's
expiry)."""

from __future__ import annotations

import functools
import json
import os
import sys
import time


def _wait_for(path: str, timeout_s: float = 180.0) -> None:
    deadline = time.time() + timeout_s
    while not os.path.exists(path):
        if time.time() > deadline:
            print(f"BARRIER_TIMEOUT {path}", flush=True)
            sys.exit(5)
        time.sleep(0.1)


def main() -> None:
    role, shared, sf_dir = sys.argv[1], sys.argv[2], sys.argv[3]
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

    from pyspark.sql import functions as F

    from tijdloze_musicbrainz_spark.plans import dedup_index as di
    from tijdloze_musicbrainz_spark.plans.dedup import words_col
    from tijdloze_musicbrainz_spark.plans.lifecycle import sf_tag
    from tijdloze_musicbrainz_spark.plans.util import t
    from tijdloze_musicbrainz_spark.session import get_spark
    from tijdloze_musicbrainz_spark.sources import bucketing as bk
    from tijdloze_musicbrainz_spark.sources.commit_log import current_snapshot

    name = "mh_race2p"
    spark = get_spark(f"race_{role}", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")

    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", words_col().alias("ws"))
    )
    delta = docs.filter(F.col("doc_id") % di.DEDUP_DELTA_MOD == 0)

    if role == "victim":
        lease_s = float(os.environ.get("RACE_LEASE_S", "4"))
        di.exclusive_append = functools.partial(
            bk.exclusive_append, lease_s=lease_s
        )
        root, tag, _base, delta = di._build_base_index(spark, sf_dir, name)
        with open(os.path.join(shared, "base_built"), "w") as f:
            f.write(root)

        # inject the stall only AFTER the base build (the build also
        # writes a shingle payload; the race targets the leased gen-1
        # transaction)
        real_write = di.write_payload

        def stall_then_write(sh, path):
            with open(os.path.join(shared, "in_critical"), "w") as f:
                f.write(str(os.getpid()))
            _wait_for(os.path.join(shared, "go"))
            real_write(sh, path)

        di.write_payload = stall_then_write
        try:
            di._ingest_generation(spark, root, name, tag, delta)
        except bk.FencedOut:
            # the successor's committed state, read through the REAL
            # store, must be intact after our fenced commit attempt
            snap = current_snapshot(root)
            print(f"FENCED_OUT n_indexed={snap['n_indexed']}", flush=True)
            sys.exit(3)
        print("VICTIM_COMMITTED_SPLIT_BRAIN", flush=True)
        sys.exit(4)

    if role == "recoverer":
        _wait_for(os.path.join(shared, "base_built"))
        _wait_for(os.path.join(shared, "in_critical"))
        with open(os.path.join(shared, "base_built")) as f:
            root = f.read().strip()
        tag = sf_tag(sf_dir)
        # catalog-per-session: attach the committed base run from the
        # shared store before replaying the generation, with the bucket
        # spec the committed snapshot records
        bk.register_bucketed(
            spark,
            f"{name}_bands_{tag}",
            "doc_id BIGINT, band_key BIGINT",
            ["band_key"],
            current_snapshot(root)["num_buckets"],
            ["band_key"],
            f"{root}/bands_g0",
        )
        deadline = time.time() + 120.0
        while True:
            try:
                di._ingest_generation(spark, root, name, tag, delta)
                break
            except bk.ConcurrentAppendError:
                if time.time() > deadline:
                    print("TAKEOVER_TIMEOUT", flush=True)
                    sys.exit(5)
                time.sleep(0.5)
        snap = current_snapshot(root)
        rows = di._probe_index(
            spark,
            snap["bands"],
            snap["shingle_dirs"],
            f"{root}/stage/delta_bands",
            snap["n_indexed"],
        ).collect()
        out = sorted(
            [r["doc_a"], r["doc_b"], round(r["jaccard"], 9), r["n_indexed"]]
            for r in rows
        )
        with open(os.path.join(shared, "probe.json"), "w") as f:
            json.dump(out, f)
        print("RECOVERED_COMMITTED", flush=True)
        sys.exit(0)

    print(f"UNKNOWN_ROLE {role}", flush=True)
    sys.exit(2)


if __name__ == "__main__":
    main()
