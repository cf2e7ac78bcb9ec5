"""Measure the probe-pushdown break-even curve (r14 verdict item 5).

PROBE_PUSHDOWN_MAX_IN (plans/lifecycle.py) bounds how many delta keys
the index probe pushes as a literal ``In`` into the stored bucketed
scan. The break-even between the In-list's evaluation cost (linear in
k: optimizer + per-row-group stats checks + codegen'd set tests) and
its pruning benefit (saturating: once the key set covers most row
groups, nothing more is skipped) depends on the STORE SHAPE, so the
cap is a conf (``SPARK_GRAFT_PROBE_MAX_IN``) and this tool commits
the decision curve next to it.

Method — fixed-work A/B, identical scan target per point: build the
band index's base run (plans/dedup_index._build_base_index — the
bucketed band-key store the probe reads, with the bucket count sized
to the data and read back from its snapshot) from the real documents
corpus at TWO shapes (the sf0.1 corpus, and the same corpus
replicated 4x with the scale harness's salting so the store has 4x
the rows/row-groups), then time
``store.filter(band_key IN (k sampled stored keys)).count()`` for a
ladder of k against the unfiltered ``count()``. Keys are sampled FROM
the store so every list hits real row groups the way a real delta
does. Best-of-N wall times; one shape per process run is fine (the
two shapes share the session).

Writes PROBE_CAP_AB.json:
  {"shapes": {"m1": {"rows": ..., "num_buckets": ...,
                     "unfiltered_sec": ...,
                     "in_k_sec": {"128": ..., ...}},
              "m4": {...}},
   "default_cap": <the shipped conf>}

tests/test_probe_cap_ab.py pins that the committed curve supports the
shipped default at both shapes.
"""

from __future__ import annotations

import json
import os
import sys
import time


def _measure_shape(spark, sf_dir: str, label: str, trials: int) -> dict:
    from pyspark.sql import functions as F

    from tijdloze_musicbrainz_spark.plans.dedup_index import (
        _build_base_index,
    )
    from tijdloze_musicbrainz_spark.sources.commit_log import current_snapshot

    # the band index's own base build: the store, and its data-sized
    # bucket count, are exactly what the probe reads at this shape
    root, _tag, _base, _delta = _build_base_index(
        spark, sf_dir, f"probe_cap_ab_{label}"
    )
    snap = current_snapshot(root)
    store = spark.table(snap["bands"][0])
    rows = store.count()
    # deterministic stored-key sample, largest ladder first
    ladder = [128, 256, 512, 1024, 2048, 3968]
    keys = [
        r["band_key"]
        for r in store.select("band_key").distinct().limit(max(ladder)).collect()
    ]

    def best_of(df) -> float:
        best = float("inf")
        for _ in range(trials):
            t0 = time.monotonic()
            df.count()
            best = min(best, time.monotonic() - t0)
        return round(best, 4)

    out = {
        "rows": rows,
        "num_buckets": snap["num_buckets"],
        "unfiltered_sec": best_of(store),
        "in_k_sec": {},
    }
    for k in ladder:
        if k > len(keys):
            continue
        out["in_k_sec"][str(k)] = best_of(
            store.filter(F.col("band_key").isin(keys[:k]))
        )
    print(f"[probe_cap_ab] {label}: {out}", file=sys.stderr)
    return out


def main() -> None:
    base = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    trials = int(os.environ.get("PROBE_CAP_TRIALS", "3"))
    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    from tijdloze_musicbrainz_spark.plans.lifecycle import (
        PROBE_PUSHDOWN_MAX_IN,
    )
    from tijdloze_musicbrainz_spark.session import get_spark

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from scale_curve import derive

    spark = get_spark("probe_cap_ab")
    spark.sparkContext.setLogLevel("ERROR")

    shapes = {
        "m1": _measure_shape(spark, base, "m1", trials),
        "m4": _measure_shape(spark, derive(spark, base, 4), "m4", trials),
    }
    out = {"shapes": shapes, "default_cap": PROBE_PUSHDOWN_MAX_IN}
    with open("PROBE_CAP_AB.json", "w") as f:
        f.write(json.dumps(out) + "\n")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
