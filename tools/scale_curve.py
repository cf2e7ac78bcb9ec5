"""Empirical scale-curve harness (r5, VERDICT #2).

An sf0.1 bench cannot see superlinear behavior — a quadratic candidate
explosion looks fine at one scale. This harness derives 2x/4x/8x
corpora from the sf0.1 ``documents``/``embeddings`` tables by
DETERMINISTIC row multiplication and times the five dedup/similarity
headliners at each multiplier, fitting the wall-time growth exponent
(log-log least squares). Near-linear fits (<= ~1.2) certify the
banded/bucketed candidate generation really is linear in corpus size.

Replica perturbation matters: naive copies would make every clone a
near-duplicate of its siblings, growing the TRUE answer (and any
correct algorithm's output) quadratically — the harness would then
measure the problem, not the engine. Instead each replica k > 0 is
pushed outside every similarity threshold while preserving
WITHIN-replica structure exactly:

- documents: every 5th token gets a replica suffix (``w~r<k>``) —
  kills 3 of every 5 shingles cross-replica (Jaccard ~0.25 << 0.9,
  MinHash bands miss, SimHash far) and every cross-replica 8-gram,
  while replica-internal duplicate pairs replicate one-to-one.
  Verified leak-free: 0 cross-replica pairs, answers exactly m-linear;
- embeddings: a replica-specific SIGNED PERMUTATION of dimensions (a
  seeded orthogonal map) — norms and within-replica cosines preserved
  exactly; cross-replica cosines behave like random directions
  (std 1/sqrt(64) ~ 0.125). HONEST CAVEAT: at d=64 the random-
  direction tail P(cos >= 0.45) ~ 2e-4 is irreducible by ANY
  orthogonal transform, so the true cross-replica answer leaks a few
  thousand pairs at m=8 (measured ~9.6k vs 1.2k within-replica) —
  immaterial for WALL TIME, which is dominated by the linear scan +
  band-bucket join (buckets stay sparse at these n); the harness
  certifies the TIME exponent.

Usage:
    python tools/scale_curve.py [base_sf_dir] [--mult 1,2,4,8] [--out SCALE_CURVE.json]

Prints one BENCH-style JSON line and writes it to --out. Derived data
lands under /tmp/spark_graft_scale/ (rebuilt only if missing).

RUN SOLO: never time with anything else on the box — a concurrent
sweep once inflated the 8x mb_pipeline_scale point 3x (44 s vs 15 s
clean), which reads as a fake superlinearity (r6 measurement).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

# (name, max_multiplier or None, expected_linear, note)
QUERIES = (
    ("dedup_minhash_lsh", None, True, None),
    ("dedup_simhash", None, True, None),
    ("dedup_exact_substring_spans", None, True, None),
    ("text_contamination_overlap", None, True, None),
    (
        "sim_near_dup_lsh_tight",
        None,
        True,
        "tight-threshold (0.92) LSH: rho=0.20, 12-bit bands — the "
        "regime where sign-LSH scales; answer empty on the synthetic "
        "corpus but the explode/bucket-join/verify work is real",
    ),
    (
        "sim_embedding_near_dup",
        None,
        False,
        "quadratic-FLOPs BLAS baseline (size-guarded at 200k vectors), "
        "included to show constants: one blocked matmul pass beats the "
        "0.45-threshold LSH by ~100x at m=8 — at low thresholds "
        "blocked-BLAS IS the right plan until the guard trips",
    ),
    # r6 (VERDICT #6): the two composed jobs whose shapes were asserted
    # linear but never measured — the canonical-selection shuffle and
    # the per-qid window. Derived TPC-H replicas use disjoint key
    # spaces (per-table strides) and distance->=2 supplier-name
    # suffixes, so artist resolution stays replica-local and answers
    # grow exactly m-linearly (see derive_tpch).
    (
        "fuzzy_two_phase_search",
        None,
        True,
        "deletion-variant resolve + broadcast probe + per-qid window: "
        "workload (queries) and catalog both grow m-fold; replica-"
        "local artist keys keep candidates m-linear",
    ),
    (
        "mb_pipeline_scale",
        None,
        True,
        "the composed dataset-generation DAG: spine build + dims "
        "broadcast + min_by canonical selection; replica key strides "
        "keep recording ids collision-free (suppkey < 10M invariant)",
    ),
    # r8 (VERDICT r7 #5): the two shapes whose exponents were asserted
    # in prose but never measured.
    (
        "dedup_exact_substring_bpe_trained",
        None,
        True,
        "BPE train (fixed R merge rounds, each a pair-count shuffle "
        "linear in token volume) + trained-token ExactSubstr (gram-"
        "index equi-join): replica-salted tokens keep cross-replica "
        "grams distinct, so index fan-out stays m-linear",
    ),
    (
        "graph_triangle_count",
        None,
        True,
        "degree-oriented wedge join over the co-purchase projection: "
        "replica key strides keep the m-times graph m disjoint copies "
        "(edges, wedges, triangles all exactly m-linear); per-order "
        "fan-out bounded at <=21 pairs regardless of m",
    ),
    # r8b: the four new shapes.
    (
        "graph_bfs_hops",
        None,
        True,
        "frontier BFS over the co-purchase projection: replica key "
        "strides make the m-times graph m disjoint copies, but the "
        "SEED set is absolutely capped (mod + id cap), so only the "
        "first replica's component is traversed — per-hop frontier "
        "work stays CONSTANT in m and the measured exponent reflects "
        "the edge-build scan (m-linear) plus a flat traversal",
    ),
    (
        "graph_kcore_peel",
        None,
        True,
        "3 peel rounds over m disjoint graph copies: degrees, alive "
        "sets and edge re-filters all m-linear",
    ),
    (
        "sim_ann_ivf_pq",
        None,
        True,
        "PQ encode is the m-linear term (corpus x 64-entry codebook "
        "argmin); codebook + query set are id-capped constants, "
        "probed-list sizes stay ~constant as centroid count grows "
        "with the corpus",
    ),
    # r9 (VERDICT r8 #5): the partition-pruned IVF read and the two
    # file-skipping roundtrips — proving the write is the only
    # m-linear term and the pruned READ stays bound to the probed/
    # selected slice as the corpus grows.
    (
        "sim_ann_ivf_partitioned_lists",
        None,
        True,
        "write of the partitioned inverted lists is the m-linear term "
        "(one pass over the corpus); the probe read is partition-"
        "pruned to <= |Q|*N_PROBE centroid directories, and query/"
        "probe counts are id-capped constants — so the exponent "
        "reflects assignment + write, with the pruned read flat in m",
    ),
    (
        "s_zorder_write_prune",
        None,
        True,
        "z-order write is m-linear (interleave + repartition + "
        "parquet); the box read prunes to the fixed z-range file set, "
        "whose row count grows m-linearly but whose FILE fraction "
        "stays the box/universe ratio — write dominates wall time",
    ),
    (
        "s_stats_skipping_prune",
        None,
        True,
        "manifest-stats write (per-file min/max) is m-linear; the "
        "skip-read opens only files whose stats overlap the predicate "
        "— the skipped fraction is corpus-layout-bound, not m-bound",
    ),
    (
        "sim_ann_ivf_pq_persisted",
        None,
        True,
        "index build (encode + assignment + partitioned code-list "
        "write) is the m-linear pass; the query path reads only the "
        "id-capped probed partitions and the tiny codebook, so its "
        "cost is flat in m — the build-once/query-many storage story",
    ),
    (
        "sim_ann_ivf_pq_retrain",
        None,
        True,
        "retrain = one extra Lloyd pass (corpus x codebook argmin + "
        "(m, j, dim) sums, both map-side-combinable) on top of the "
        "persisted build — the scheduled-maintenance cost model: "
        "m-linear with a ~2x constant over the plain build",
    ),
    # r10 (VERDICT r9 #5): the remaining lifecycle shapes.
    (
        "streaming_ann_index_ingest",
        None,
        True,
        "build (m-linear write) + 3 foreachBatch micro-batches, each "
        "encoding an m-linear slice of the delta against the BROADCAST "
        "stored codebook/centroids — per-batch cost linear in batch "
        "rows, flat in batch COUNT; the pruned query path stays flat "
        "in m (id-capped probes)",
    ),
    (
        "graph_label_propagation",
        None,
        True,
        "3 synchronous supersteps, each one join of labels x edges + "
        "a min-agg — per-round cost linear in |E|; replica key strides "
        "keep the m-times co-purchase graph m disjoint copies, and the "
        "round count is FIXED, so total work is m-linear (checkpoints "
        "per round keep lineage flat)",
    ),
    (
        "dedup_minhash_incremental",
        None,
        True,
        "persisted-band-index lifecycle: build (m-linear sign+write "
        "over the base 90%), file-level append (m-linear over the "
        "arriving 10%), bucket-aligned probe (m-linear delta bands vs "
        "the bucketed store) and by-id verify (replica-salted shingles "
        "keep candidates m-linear, same argument as dedup_minhash_lsh)",
    ),
    (
        "dedup_minhash_index_compact",
        None,
        True,
        "incremental lifecycle + the compaction rewrite: one extra "
        "m-linear pass over the band table (2 longs + key per row) "
        "clustered to one file per bucket; probe unchanged",
    ),
    # r14: the GC'd lifecycle — compaction plus snapshot vacuum.
    (
        "dedup_minhash_vacuum",
        None,
        True,
        "compaction lifecycle + snapshot-tier GC: build/ingest/"
        "leased-compact are dedup_minhash_index_compact's m-linear "
        "stages; vacuum itself is driver-side metadata only "
        "(retained-manifest walk, unreferenced-entry deletes, "
        "manifest trim — O(#root entries + #deleted files), zero "
        "Spark jobs), so the curve must track the compaction "
        "query's; a data-scan regression in GC would surface as a "
        "new m-linear term here",
    ),
    # r11 (VERDICT r10 #5): the uncurved expensive headliners.
    (
        "benchmark_golden_real_e2e",
        None,
        True,
        "FIXED 2,954-row golden workload against an m-growing catalog: "
        "the m-linear terms are the catalog build (export joins + "
        "alias union) and the broadcast-probe scans; the per-query "
        "resolve work is replica-local (distance->=2 supplier-name "
        "suffixes keep fuzzy candidates from multiplying), so the "
        "exponent reflects catalog-scan growth with a fixed workload "
        "— typically sublinear, the read-path story at scale",
    ),
    (
        "dedup_cluster_components",
        None,
        True,
        "blocked n-gram Jaccard pairs + large-star/small-star "
        "connected components: replica-salted shingles keep pairs "
        "replica-local (components replicate m-fold, never merge "
        "across replicas), and the star rounds are diameter-"
        "independent — per-round cost linear in |pairs| + |docs|",
    ),
    (
        "dedup_exact_substring_cut",
        None,
        True,
        "K-gram inverted-index shuffle (3 longs per corpus token) + "
        "per-doc interval-union fold: the replica salt kills every "
        "cross-replica 8-gram, so index fan-out and span output stay "
        "m-linear",
    ),
    (
        "corpus_training_dataset_e2e",
        None,
        True,
        "composed quality->md5-exact-dedup->block-join near-dup->"
        "split->shard manifest: every stage keyed on replica-local "
        "values (md5 of salted text, 5-token blk prefix containing a "
        "salted position), so each shuffle and the answer grow "
        "m-linearly",
    ),
    (
        "streaming_minhash_index",
        None,
        True,
        "foreachBatch index maintenance: per-batch signing is linear "
        "in batch rows, the band self-join is linear in index size "
        "(replica-salted shingles keep buckets replica-local); state "
        "is RESET before every timed trial (see RESETS) so each run "
        "times the full sign+merge+query, not a warm checkpoint no-op",
    ),
    # r11: the cluster tier's lifecycle.
    (
        "dedup_cluster_incremental",
        None,
        True,
        "persisted-label-store lifecycle: base clustering (m-linear "
        "blocked pairs + star-contraction over m disjoint replica "
        "copies), bucketed block append, O(delta) probe join, and a "
        "contracted-graph merge whose node count tracks delta-touched "
        "components — replica-salted tokens keep blocks and pairs "
        "replica-local (same argument as dedup_cluster_components), "
        "so every stage and the answer grow m-linearly",
    ),
    (
        "dedup_cluster_label_compact",
        None,
        True,
        "two-generation ingest + label-store compaction: each "
        "generation's probe and contracted merge are delta-linear, "
        "the remap-chain resolve is one broadcast join per "
        "generation over the m-linear label store, and the "
        "compaction fold is one m-linear rewrite of (doc_id, "
        "cluster_id) rows — generation count is FIXED, so total work "
        "is m-linear",
    ),
    (
        "corpus_incremental_refresh_e2e",
        None,
        True,
        "the composed daily-increment job: quality gate is map-side "
        "over the delta, exact dedup is one hash agg on 32-byte md5 "
        "keys (m-linear), and the near-dup leg is the band-index "
        "build (m-linear) + O(delta) probe — replica-salted shingles "
        "keep candidates m-linear (dedup_minhash_incremental's "
        "argument); the answer (one row per arriving doc) grows "
        "exactly m-linearly",
    ),
    # r12 (VERDICT r11 #6): the one >2s headliner without a curve.
    (
        "sim_ann_ivf_bucketed",
        None,
        False,
        "IVF with centroids drawn as vec_id % 50 == 0: the harness's replication grows the CENTROID set m-fold alongside the corpus, so the flat nearest-centroid assignment carries an n*k = m^2 FLOP term. Measured 0.73 over 1-8x — the m^2 term is still dominated by fixed job overheads and the pruned probe reads at these sizes; at larger m it would surface, which is why the production shape for growing corpora is the trained variants (sim_ann_ivf_pq_* hold k fixed by training; their curves are sublinear).",
    ),
    # r12 (VERDICT r11 #7): the capped meta-blocking operator — the
    # cap bounds per-key pairing fan-out, so work tracks the block
    # AGGREGATES (m-linear), and replica-identical first tokens push
    # ever more mass into capped drops rather than quadratic pairing
    # (the drop counts in the output grow with m — the cap working).
    ("dedup_ngram_jaccard_meta_blocked", None, True, None),
    # streaming_cluster_ingest_restart is NOT curved for the same
    # reason it is not a bench headliner: its runtime is two stream
    # startups + an injected failure around the same merge work the
    # batch lifecycle queries already measure.
    # dedup_minhash_ingest_recovery (r13) is NOT curved either: it is
    # dedup_minhash_incremental's ingest plus constant-size crash
    # debris (one orphan manifest, one lock file) and one extra
    # signing pass — its scaling IS the incremental query's curve.
    # dedup_jaccard_prefix_filter is deliberately NOT curved: the
    # exact all-pairs join is OUTPUT-BOUND — any correct algorithm
    # pays Omega(answer), and the template-heavy synthetic corpus
    # makes the true answer itself quadratic in duplicate-cluster
    # size, so a wall-time exponent would measure the data, not the
    # engine (an m=4 attempt ran past the 1h harness budget producing
    # tens of millions of genuinely-qualifying pairs). Same reasoning
    # as the 0.45-threshold LSH scope-out in SCALE.md.
    (
        "sim_near_dup_lsh_bucketed",
        4,
        False,
        "measured superlinear AND EXPECTED: at threshold 0.45 "
        "(angle 63°) the LSH exponent rho = ln 0.65/ln 0.5 = 0.62 "
        "bounds ANY fixed-recall parameterization at ~n^1.6, and the "
        "fixed 4-bit bands degrade to n^2 (random collisions). Kept "
        "as the empirical motivation for sim_near_dup_lsh_tight; "
        "capped at 4x to bound harness runtime. See SCALE.md "
        "'Near-dup at scale: the threshold decides the physics'.",
    ),
    # r13 (VERDICT r12 #5): the three previously-uncurved heavy paths.
    (
        "graph_bfs_fixpoint",
        None,
        True,
        "run-to-completion BFS over the co-purchase projection: like "
        "graph_bfs_hops, replica key strides make the m-times graph "
        "m disjoint copies while the absolutely-capped seed set "
        "(mod + id cap) confines traversal to the first replica — "
        "iterations track that component's diameter (constant in m), "
        "so the measured growth is the m-linear edge-build scan under "
        "a constant number of fixpoint rounds",
    ),
    (
        "streaming_interval_join",
        None,
        True,
        "stream-stream interval join over the m-times events table "
        "(replica-local user_id strides -> joins and answers exactly "
        "m-linear): timestamps are untouched, so watermark horizons "
        "and per-key state RETENTION are constant in m — total state "
        "grows m-linearly with the keys, the property that makes the "
        "join operable at scale; micro-batch count fixed (availableNow "
        "over one staged file set)",
    ),
    (
        "dedup_containment_join",
        4,
        True,
        "engine side of the one-sided containment join (PPJoin prefix "
        "+ positional filter): replica-salted tokens kill every "
        "cross-replica candidate, so candidates AND answers grow "
        "exactly m-linearly — but the answer is OUTPUT-BOUND like its "
        "sibling dedup_jaccard_prefix_filter (~11M genuinely-"
        "qualifying pairs per replica on the template-heavy corpus; "
        "any correct algorithm pays Omega(answer)), so the curve is "
        "capped at 4x to bound harness runtime and the expectation is "
        "linear-in-m output production, not sublinear index magic",
    ),
)

DERIVED_ROOT = "/tmp/spark_graft_scale"
ID_STRIDE = 10_000_000


def derive(spark, base_dir: str, m: int) -> str:
    """Materialize the m-times corpus (documents + embeddings) under
    DERIVED_ROOT/m{m}; idempotent via a _DONE marker."""
    from pyspark.sql import functions as F

    out_dir = f"{DERIVED_ROOT}/m{m}"
    marker = f"{out_dir}/_DONE"
    if os.path.exists(marker):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)

    docs = spark.read.parquet(f"{base_dir}/documents.parquet")
    vecs = spark.read.parquet(f"{base_dir}/embeddings.parquet")

    doc_parts = []
    vec_parts = []
    for k in range(m):
        if k == 0:
            doc_parts.append(docs)
            vec_parts.append(vecs)
            continue
        salted_text = F.concat_ws(
            " ",
            F.expr(
                f"transform(split(text, ' '), (w, i) -> "
                f"IF(i % 5 = 4 AND w <> '', concat(w, '~r{k}'), w))"
            ),
        )
        doc_parts.append(
            docs.select(
                (F.col("doc_id") + k * ID_STRIDE).alias("doc_id"),
                salted_text.alias("text"),
                "lang",
                "source",
                F.length(salted_text).alias("n_chars"),
            )
        )
        import random  # noqa: PLC0415

        r = random.Random(1000 + k)
        perm = list(range(64))
        r.shuffle(perm)
        signs = [r.choice((-1.0, 1.0)) for _ in range(64)]
        rotated = F.array(
            *[
                (F.col("embedding")[perm[i]] * signs[i]).cast("float")
                for i in range(64)
            ]
        )
        vec_parts.append(
            vecs.select(
                (F.col("vec_id") + k * ID_STRIDE).alias("vec_id"),
                rotated.alias("embedding"),
                "label",
            )
        )

    d = doc_parts[0]
    for p in doc_parts[1:]:
        d = d.unionByName(p)
    v = vec_parts[0]
    for p in vec_parts[1:]:
        v = v.unionByName(p)
    # one parquet dir per table, name-compatible with plans.util.t
    d.repartition(max(4, 4 * m)).write.mode("overwrite").parquet(
        f"{out_dir}/documents.parquet"
    )
    v.repartition(max(4, 2 * m)).write.mode("overwrite").parquet(
        f"{out_dir}/embeddings.parquet"
    )
    with open(marker, "w") as f:
        f.write("ok")
    return out_dir


def derive_tpch(spark, base_dir: str, m: int) -> None:
    """Add m-times TPC-H tables (lineitem/orders/part/supplier + a
    copied nation dim) to the derived dir, for the composed-job curves.

    Replica k shifts every key by k * its table stride — per-table
    strides keep the derived universes DISJOINT (joins stay within
    replica, answers m-linear) while preserving the workload's modular
    classes (all strides divisible by 2520*40, so s_suppkey % 10/20/40
    and partkey % 3/7 classes replicate exactly) and the
    mb_pipeline_scale invariant suppkey < 10M (rec_id = partkey*1e7 +
    suppkey stays collision-free). Supplier names get pairwise-
    distance->=2 suffixes (' q<k><k>') so the fuzzy artist resolve
    cannot match across replicas (a shared or distance-1 name would
    multiply candidates m-fold per query -> m^2 growth of the measured
    work: the harness would measure the leak, not the engine). Part
    names are NOT perturbed: title matching is gated behind the
    replica-local artist equi-join. nation (fixed dim) is copied
    unchanged — dims do not grow with the corpus."""
    from pyspark.sql import functions as F

    out_dir = f"{DERIVED_ROOT}/m{m}"
    marker = f"{out_dir}/_DONE_TPCH"
    if os.path.exists(marker):
        return
    # all divisible by 100800 = lcm(1..10)*40; 8*1,008,000 + max_suppkey
    # stays under the 10M rec_id invariant
    supp_stride, part_stride, order_stride = 1_008_000, 2_520_000, 25_200_000

    def shifted(name, key_shifts: dict, extra=None):
        df = spark.read.parquet(f"{base_dir}/{name}.parquet")
        parts = []
        for k in range(m):
            p = df
            for col, stride in key_shifts.items():
                p = p.withColumn(col, F.col(col) + F.lit(k * stride))
            if extra is not None:
                p = extra(p, k)
            parts.append(p)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.repartition(max(4, 2 * m)).write.mode("overwrite").parquet(
            f"{out_dir}/{name}.parquet"
        )

    shifted(
        "lineitem",
        {
            "l_orderkey": order_stride,
            "l_partkey": part_stride,
            "l_suppkey": supp_stride,
        },
    )
    shifted("orders", {"o_orderkey": order_stride})
    shifted("part", {"p_partkey": part_stride})
    shifted(
        "supplier",
        {"s_suppkey": supp_stride},
        extra=lambda p, k: p
        if k == 0
        else p.withColumn(
            "s_name", F.concat(F.col("s_name"), F.lit(f" q{k}{k}"))
        ),
    )
    spark.read.parquet(f"{base_dir}/nation.parquet").write.mode(
        "overwrite"
    ).parquet(f"{out_dir}/nation.parquet")
    with open(marker, "w") as f:
        f.write("ok")


def derive_events(base_dir: str, m: int) -> None:
    """m-times events table for the streaming curves, replica-local:
    event_id/user_id strides make cross-replica joins impossible (the
    interval join is per-user), so answers and per-key stream state
    grow exactly m-linearly while timestamps — hence watermarks and
    state-retention horizons — are untouched.

    Written with DuckDB as ONE FILE literally named ``events.parquet``:
    the streaming readers select the table with
    ``pathGlobFilter=events.parquet``, a LEAF-file filter that a
    directory-shaped derived table would silently fail to match
    (the documents.parquet directory lesson, r12)."""
    import duckdb  # noqa: PLC0415

    out = f"{DERIVED_ROOT}/m{m}/events.parquet"
    marker = f"{DERIVED_ROOT}/m{m}/_EVENTS_DONE"
    if os.path.exists(marker):
        return
    os.makedirs(f"{DERIVED_ROOT}/m{m}", exist_ok=True)
    con = duckdb.connect()
    con.execute(
        f"""
COPY (
  SELECT e.event_id + r.k * {ID_STRIDE} AS event_id, e.ts,
         e.user_id + r.k * 1000000 AS user_id,
         e.event_type, e.value, e.props
  FROM read_parquet('{base_dir}/events.parquet') e
  CROSS JOIN (SELECT unnest(range({m})) AS k) r
) TO '{out}' (FORMAT parquet)
"""
    )
    with open(marker, "w") as f:
        f.write("ok")


def fit_exponent(points: list[tuple[int, float]]) -> float:
    """Least-squares slope of log(t) vs log(m). A single-multiplier
    point set (the --only --mult M re-measure flow, where the real fit
    happens after the per-point-MIN merge with the committed curve)
    has zero variance in log(m) — return 0.0 rather than divide by it;
    the merge path refits over the union."""
    xs = [math.log(m) for m, _ in points]
    ys = [math.log(t) for _, t in points]
    n = len(xs)
    mx, my = sum(xs) / n, sum(ys) / n
    num = sum((x - mx) * (y - my) for x, y in zip(xs, ys))
    den = sum((x - mx) ** 2 for x in xs)
    return num / den if den else 0.0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("base", nargs="?", default="/root/testdata/sf0.1")
    ap.add_argument("--mult", default="1,2,4,8")
    ap.add_argument("--trials", type=int, default=2)
    ap.add_argument("--out", default="SCALE_CURVE.json")
    ap.add_argument(
        "--only",
        default=None,
        help="comma-separated query names: measure only these and "
        "MERGE into --out (other entries kept verbatim; headline "
        "recomputed over the union)",
    )
    args = ap.parse_args()
    mults = [int(x) for x in args.mult.split(",")]

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from tijdloze_musicbrainz_spark.plans import REGISTRY
    from tijdloze_musicbrainz_spark.session import get_spark

    spark = get_spark("scale_curve")
    spark.sparkContext.setLogLevel("ERROR")

    dirs = {}
    for m in mults:
        t0 = time.monotonic()
        dirs[m] = derive(spark, args.base, m)
        derive_tpch(spark, args.base, m)
        derive_events(args.base, m)
        print(
            f"[scale] derived m={m} in {time.monotonic() - t0:.1f}s",
            file=sys.stderr,
        )

    def _reset_minhash_index(sf_dir: str) -> None:
        # the maintainer's checkpoint makes re-runs no-ops by design
        # (that IS the incremental contract); timing it requires a
        # cold index per trial or the best-of measures a warm re-query
        import shutil  # noqa: PLC0415

        from tijdloze_musicbrainz_spark.plans.etl import (  # noqa: PLC0415
            SINK_ROOT,
        )

        tag = os.path.basename(os.path.normpath(sf_dir))
        for suffix in ("", "__checkpoint", "__payload"):
            shutil.rmtree(
                f"{SINK_ROOT}/minhash_index_{tag}{suffix}", ignore_errors=True
            )

    RESETS = {"streaming_minhash_index": _reset_minhash_index}

    def run(name: str, sf_dir: str) -> None:
        if name in RESETS:
            RESETS[name](sf_dir)
        REGISTRY[name].builder(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()

    # r15 (r14 verdict item 7): recall@5 ON the scale curve for the
    # two ANN probe curves — IVF/PQ recall can degrade silently as n
    # grows at fixed nprobe/list count, and a single-scale measurement
    # (bench.py's ann_recall_at_5) cannot see it. Recomputed per
    # multiplier against the exact top-k on the SAME derived corpus
    # (untimed — quality, not cost). tests/test_ann_recall.py asserts
    # the committed floor.
    RECALL_CURVES = ("sim_ann_ivf_pq_persisted", "sim_ann_ivf_partitioned_lists")

    def recall_at_5(name: str, sf_dir: str) -> float:
        def pairs(q):
            return {
                (r["query_id"], r["match_id"])
                for r in REGISTRY[q].builder(spark, sf_dir).collect()
            }

        exact = pairs("sim_cosine_topk_exact")
        return round(len(exact & pairs(name)) / len(exact), 4)

    queries = QUERIES
    if args.only:
        only = set(args.only.split(","))
        queries = tuple(q for q in QUERIES if q[0] in only)
        missing = only - {q[0] for q in queries}
        if missing:
            raise SystemExit(f"--only names not in QUERIES: {sorted(missing)}")

    # warmup: codegen + Python workers + file listing, untimed
    for name, _cap, _lin, _note in queries:
        run(name, dirs[mults[0]])

    results: dict[str, dict] = {}
    worst_linear = 0.0
    for name, cap, expected_linear, note in queries:
        q_mults = [m for m in mults if cap is None or m <= cap]
        times = {}
        for m in q_mults:
            best = float("inf")
            for _ in range(args.trials):
                t0 = time.monotonic()
                run(name, dirs[m])
                best = min(best, time.monotonic() - t0)
            times[m] = round(best, 3)
        exp = round(fit_exponent(sorted(times.items())), 3)
        if expected_linear:
            worst_linear = max(worst_linear, exp)
        results[name] = {
            "times_sec": {str(m): t for m, t in sorted(times.items())},
            "exponent": exp,
            "expected_linear": expected_linear,
        }
        if name in RECALL_CURVES:
            results[name]["recall_at_5"] = {
                str(m): recall_at_5(name, dirs[m]) for m in q_mults
            }
        if note:
            results[name]["note"] = note
        print(f"[scale] {name}: {results[name]}", file=sys.stderr)

    if args.only and os.path.exists(args.out):
        # merge mode: keep prior entries for unmeasured queries; for
        # re-measured ones take the per-point MIN of old and new times
        # and refit the exponent — the best-observed policy the
        # committed file documents (bursty-steal box), so a noisy
        # re-run can only sharpen points, never corrupt them
        with open(args.out) as f:
            prior = json.load(f)
        merged = dict(prior.get("queries", {}))
        for name, res in results.items():
            old = merged.get(name)
            if old and old.get("times_sec"):
                times = {
                    m: min(float(t_new), float(old["times_sec"].get(m, t_new)))
                    for m, t_new in res["times_sec"].items()
                }
                for m, t_old in old["times_sec"].items():
                    times.setdefault(m, float(t_old))
                res = dict(res)
                res["times_sec"] = {
                    m: round(times[m], 3) for m in sorted(times, key=int)
                }
                res["exponent"] = round(
                    fit_exponent(sorted((int(m), t) for m, t in times.items())),
                    3,
                )
            merged[name] = res
        results = merged
        worst_linear = max(
            (r["exponent"] for r in results.values() if r.get("expected_linear")),
            default=worst_linear,
        )

    out = {
        # the headline is the WORST exponent among queries whose plan
        # claims linear scaling; documented-superlinear baselines are
        # reported alongside, flagged expected_linear=false
        "metric": "scale_curve_max_linear_exponent",
        "value": round(worst_linear, 3),
        "unit": "exponent",
        "sf": 0.1,
        "multipliers": mults,
        "queries": results,
    }
    line = json.dumps(out)
    print(line)
    with open(args.out, "w") as f:
        f.write(line + "\n")


if __name__ == "__main__":
    main()
