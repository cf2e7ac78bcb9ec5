"""Incremental duplicate CLUSTERING against a PERSISTED label store —
the cluster tier's lifecycle, completing the trilogy the ANN index
(similarity/pq_lifecycle.py) and the MinHash band index
(dedup_index.py) started: the historical corpus is clustered ONCE;
each arriving batch is paired only against the stored block index,
merged into the existing components on a CONTRACTED graph whose size
is O(delta-touched components), and the label store is updated with
a per-generation label write + a remap — never re-pairing history
with itself, never re-running connected components over the full
corpus. Each generation's five stores (block run, shingle payload,
labels, remap journal, accounting/key stats) become visible in ONE
snapshot commit (sources/commit_log.py commit_snapshot), so a writer
dying mid-generation leaves readers on the previous complete
snapshot and recovery replays the generation idempotently
(tests/test_crash_atomic_ingest.py — r13, the reference's per-artist
commit durability, src/main.py:357, finished for the batch path).

Storage layout (the 100 TB story):
- ``blocks``: (blk, doc_id), a BUCKETED table on blk
  (sources/bucketing.py) — the probe join co-locates against the
  stored side with NO shuffle of the index (same lever as the band
  table in dedup_index.py). The bucket count follows the band index's
  rule — one bucket per scan split (``spark.sql.files.
  maxPartitionBytes``) of the base run, n_base x 64 B — and is
  committed in the snapshot manifest as ``num_buckets``, which every
  generation run reads back.
- ``shingles``: (doc_id, sgs) parquet — the verify payload, fetched
  by id only for blk-colliding candidate pairs.
- ``labels``: (doc_id, cluster_id) parquet — every indexed document's
  component label as of the generation it was ingested (the
  component's minimum doc_id at that time).
- ``remaps/gen=N``: (old_label, new_label) parquet — the merge
  journal, one generation per ingested batch. A batch that bridges
  existing components does NOT rewrite the O(corpus) label store; it
  writes the batch's labels to its own ``labels/gen=N`` dir plus the
  handful of (old → new) label moves, and readers resolve labels
  through the remap generations IN ORDER (each generation's domain is the PREVIOUS generation's
  resolved labels — a chained fold, one broadcast-sized join per
  generation). ``compact_label_store`` is the scheduled maintenance
  that folds the chain back into a flat base (the same role
  compaction plays for the other two index tiers' small files,
  applied to the journal depth).

Merge correctness: contracting every stored component to its label
node is a connectivity-preserving homomorphism, so running
large-star/small-star (plans/dedup.py::connected_components) over
{contracted pair endpoints} yields exactly the full-corpus
components; and because a stored label IS the minimum doc_id of its
subset, the minimum over merged nodes is the global component
minimum. A remapped-away label value can never reappear as a later
label (components only grow, so any component containing that doc
already has a smaller minimum), which is what makes the in-order
remap fold exact. Net: incremental labels are bit-identical to a
from-scratch batch run REGARDLESS of how the delta was batched — the
same batch-count-independence contract the CDC and streaming-ingest
tiers pin — verified by the DuckDB recursive-CTE oracle over the
whole corpus and by tests/test_cc_index.py (including a crafted
chained-merge corpus where generation 2 must contract through
generation 1's remap to find the bridge).

No reference twin (extension surface); the lifecycle pattern and the
O(delta) accounting rule are shared via plans/lifecycle.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..sources.bucketing import exclusive_append, split_bytes, split_count
from ..sources.commit_log import (
    commit_snapshot,
    current_snapshot,
    current_store,
    publish_store,
)
from ..sources.store_io import get_store_io
from .dedup import (
    _SHINGLES_SQL,
    connected_components,
    jaccard,
    shingles_col,
    words_col,
)
from .lifecycle import (
    index_root,
    probe_runs,
    read_delta_key_manifest,
    sf_tag,
    stage_delta,
    write_payload,
    write_run,
)
from .registry import register
from .util import checkpointed_payload, fan_out, fits_broadcast, t

# Every CC_DELTA_MOD-th document "arrives" after the base clustering —
# the same deterministic split as the MinHash index lifecycle. The
# two-batch variant splits the arrivals further by CC_BATCH_MOD.
CC_DELTA_MOD = 10
CC_BATCH_MOD = 20
# One block row is a long doc_id plus the 5-token key string (26.5
# chars on average at sf0.01 and sf0.1), rounded up to 64 B: the base
# run's size is n_base x 64 B, so sf0.01 and sf0.1 fit one 128 MB
# bucket and a 600 GB block table gets ~4800.
_BLOCK_ROW_BYTES = 64
# The staged delta (and the restart proof's arrival stream): the
# arriving batch's payload rows.
_STAGED_PAY = "doc_id bigint, blk string, sgs array<string>"

# Broadcast sizing for the base-vs-base blocked self-join's build side
# (util.fits_broadcast, the one gate and budget). r16 (ADVICE): the
# estimate starts from the checkpoint's MEASURED block bytes
# (checkpointed_payload metrics) scaled by the base-row fraction — a
# long-document corpus can no longer sneak a force-broadcast past a
# hardcoded per-row constant; CC_PAY_BCAST_ROW_BYTES survives only as
# the fallback when block bytes are unavailable (reliable-checkpoint
# deployments). CC_PAY_BCAST_INFLATION covers the deserialized
# broadcast hash relation running fatter than the serialized cached
# blocks the measurement sees.
CC_PAY_BCAST_ROW_BYTES = 4096
CC_PAY_BCAST_INFLATION = 4

_CC_INC_ORACLE = f"""
WITH RECURSIVE
w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
sh AS (
  SELECT doc_id,
         array_to_string(list_slice(ws, 1, 5), ' ') AS blk,
         {_SHINGLES_SQL} AS sgs
  FROM w
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sh a JOIN sh b ON a.blk = b.blk AND a.doc_id < b.doc_id
  WHERE len(list_intersect(a.sgs, b.sgs)) * 1.0
        / len(list_distinct(list_concat(a.sgs, b.sgs))) >= 0.9
),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b AS u, doc_a AS v FROM pairs
),
reach(id, r) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
  UNION
  SELECT reach.id, e.v FROM reach JOIN edges e ON reach.r = e.u
),
labels AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id,
       (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_indexed
FROM documents d LEFT JOIN labels l ON d.doc_id = l.id
"""


def _subset_bytes(pay_metrics: dict, subset_key: str) -> float | None:
    """Measured byte estimate for a row subset of an observed
    checkpoint: total block bytes scaled by the subset's row fraction.
    None when block bytes are unavailable (reliable-checkpoint
    deployments) — the caller then falls back to the per-row
    constant."""
    nbytes = pay_metrics.get("bytes")
    n = pay_metrics.get("n_rows") or 0
    k = int(pay_metrics.get(subset_key) or 0)
    if nbytes is None or n <= 0:
        return None
    return nbytes * (k / n)


def _payload(docs: DataFrame) -> DataFrame:
    """(doc_id, blk, sgs): the block key (first 5 tokens) that gates
    candidate generation plus the shingle set that verifies it — the
    same keys as the batch operator dedup_ngram_jaccard_blocked."""
    return docs.select(
        "doc_id",
        F.concat_ws(" ", F.slice(F.col("ws"), 1, 5)).alias("blk"),
        shingles_col(F.col("ws")).alias("sgs"),
    )


def _pairs_of(
    payload: DataFrame,
    n_rows: int | None = None,
    est_bytes: float | None = None,
) -> DataFrame:
    """Blocked exact-Jaccard pairs within one payload frame (the
    build-time base-vs-base pass).

    ``n_rows``/``est_bytes``: exact payload row count and a measured
    byte estimate, when the caller has them in hand (the observed
    checkpoint makes both free — checkpointed_payload). The checkpoint
    that pins the payload (see _build_base) is a LogicalRDD with no
    size stats, so the planner can no longer auto-broadcast the build
    side of this self-join the way it did off the scan-backed plan —
    the gated hint restores that decision EXACTLY where the
    estimate-driven one applied, and above the budget (production
    corpora) the sort-merge fallback is unchanged (the same
    exact-count gate as the graph tier's closure joins). The gate
    prefers MEASURED bytes (block-manager size of the checkpoint,
    scaled by the subset fraction and the deserialization inflation)
    over the per-row constant, per the r15 ADVICE: row counts alone
    mis-size long-document corpora."""
    a = payload.alias("a")
    b = payload.alias("b")
    measured = None if est_bytes is None else est_bytes * CC_PAY_BCAST_INFLATION
    if fits_broadcast(measured, n_rows, CC_PAY_BCAST_ROW_BYTES):
        b = F.broadcast(b)
    jac = jaccard(F.col("a.sgs"), F.col("b.sgs"))
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(jac >= 0.9)
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
    )


def _base_pairs(base_pay: DataFrame, pay_metrics: dict) -> DataFrame:
    """_pairs_of over the base subset of an observed checkpoint. The
    gate gets both figures: the measured bytes when the block manager
    has them, and the exact base row count for the per-row fallback
    when it does not (a reliable checkpoint dir reports no bytes)."""
    return _pairs_of(
        base_pay,
        n_rows=int(pay_metrics.get("n_base_pay") or 0),
        est_bytes=_subset_bytes(pay_metrics, "n_base_pay"),
    )


def _build_base(
    spark: SparkSession, sf_dir: str, name: str
) -> tuple[str, dict[str, str], DataFrame, DataFrame, int]:
    """Build the base cluster store (bucketed blocks + shingle payload
    + labels) over the non-arriving 90% and commit it as the index's
    first snapshot — the base of the batch operators and the streaming
    restart proof alike. Returns (blocks_table, paths, docs_all_ids,
    payload, n_base); ``n_base`` and the block index's data-sized
    ``num_buckets`` live in the snapshot manifest."""
    tag = sf_tag(sf_dir)
    root = index_root(sf_dir, name)
    t_blocks = f"{name}_blocks_{tag}"
    paths = {
        "root": root,
        "blocks": f"{root}/blocks_g0",
        "shingles": f"{root}/shingles",
        "labels": f"{root}/labels",
        "remaps": f"{root}/remaps",
        "stage": f"{root}/stage",
    }
    # the ONE corpus-linear clustering pass, over the non-arriving 90%
    docs_all = t(spark, sf_dir, "documents").select("doc_id")
    # Payload is computed ONCE: this pipeline issues ~40 separate
    # write/count actions per run, and without the checkpoint every
    # one re-ran the tokenize+shingle subtree as a single scan task
    # (bare fan_out alone regressed 8.4 s -> 10.6 s in r15 because the
    # injected exchange was ALSO paid per action; checkpointing after
    # the fan-out pays tokenize+shingle+exchange exactly once, at
    # cluster parallelism, and every action reads the materialized
    # rows instead). r16: the checkpoint is SIZED TO ITS DATA
    # (checkpointed_payload — 7.7 MB no longer rides 32 partitions
    # into ~100 downstream jobs), and the observation rides the
    # checkpoint job so the broadcast-gate count costs no action.
    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", words_col().alias("ws"))
    )
    pay, pay_m = checkpointed_payload(
        fan_out(_payload(docs)),
        [
            F.sum(
                (F.col("doc_id") % CC_DELTA_MOD != 0).cast("long")
            ).alias("n_base_pay")
        ],
    )
    base_pay = pay.filter(F.col("doc_id") % CC_DELTA_MOD != 0)
    base_labels, _ = connected_components(
        _base_pairs(base_pay, pay_m)
        .select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    )
    base_ids = docs_all.filter(F.col("doc_id") % CC_DELTA_MOD != 0)
    # the labels write preserves base_ids 1:1 (left join on a unique
    # key), so observing its row count IS the n_base accounting count
    # — one job instead of two (r15 verdict item 3: batch the counts)
    n_base_obs = Observation()
    _labels_of(base_ids, base_labels).observe(
        n_base_obs, F.count(F.lit(1)).alias("n")
    ).write.parquet(f"{paths['labels']}/gen=0")
    n_base = int(n_base_obs.get["n"] or 0)
    # the band index's rule: one bucket per scan split of the base run
    num_buckets = split_count(n_base * _BLOCK_ROW_BYTES, split_bytes(spark))
    write_run(
        base_pay.select("blk", "doc_id"), t_blocks, paths["blocks"], "blk",
        num_buckets,
    )
    write_payload(
        base_pay.select("doc_id", "sgs"), f"{paths['shingles']}/gen=0"
    )
    commit_snapshot(
        root,
        {
            "blocks": [t_blocks],
            "gens": [],
            "n_indexed": n_base,
            "num_buckets": num_buckets,
            "key_stats": None,
        },
    )
    return t_blocks, paths, docs_all, pay, n_base


def _block_runs(t_blocks: str, gens: list[int]) -> list[str]:
    """The block index's run set (base table + one immutable bucketed
    table per merged generation) — the cc twin of the band index's
    LSM-style levels (dedup_index._probe_index)."""
    return [t_blocks, *(f"{t_blocks}_g{g}" for g in gens)]


def _shingle_dirs(paths: dict[str, str], gens: list[int]) -> list[str]:
    return [f"{paths['shingles']}/gen=0"] + [
        f"{paths['shingles']}/gen={g}" for g in gens
    ]


def _ingest_batch(
    spark: SparkSession,
    t_blocks: str,
    paths: dict[str, str],
    docs_all: DataFrame,
    pay: DataFrame,
    batch_pred,
    gen: int,
    num_buckets: int,
) -> int:
    """Stage the arriving batch's payload ONCE (both the generation's
    block run and the later probe read the staged files) and land the
    generation's stores at gen-unique paths NO READER RESOLVES YET —
    visibility comes only from the snapshot commit that
    :func:`_ingest_and_merge_generation` issues after the merge also
    lands. ``num_buckets`` is the committed snapshot's bucket spec.
    Every write is a deterministic-path overwrite, so a recovery
    replay converges. Returns the batch's doc count (the O(delta)
    accounting term)."""
    staged = stage_delta(
        spark, pay.filter(batch_pred), "blk",
        f"{paths['stage']}/delta_{gen}", _STAGED_PAY,
    )
    # the accounting count rides the staged-ids write (same rows) —
    # one job instead of two (r15 verdict item 3)
    n_batch_obs = Observation()
    docs_all.filter(batch_pred).observe(
        n_batch_obs, F.count(F.lit(1)).alias("n")
    ).write.mode("overwrite").parquet(f"{paths['stage']}/delta_ids_{gen}")
    write_run(
        staged.select("blk", "doc_id"), f"{t_blocks}_g{gen}",
        f"{paths['root']}/blocks_g{gen}", "blk", num_buckets,
    )
    write_payload(
        staged.select("doc_id", "sgs"), f"{paths['shingles']}/gen={gen}"
    )
    return int(n_batch_obs.get["n"] or 0)


def _probe_pairs(
    spark: SparkSession,
    blocks_runs: str | list[str],
    paths: dict[str, str],
    gen: int,
) -> DataFrame:
    """The block tier's probe: generation ``gen``'s staged blocks
    through the shared run-set probe (lifecycle.probe_runs) at Jaccard
    >= 0.9 (the bucketed-scan + sort-merge shape is pinned in
    tests/test_cc_index.py)."""
    return probe_runs(
        spark, blocks_runs, "blk", f"{paths['stage']}/delta_{gen}",
        _STAGED_PAY, _shingle_dirs(paths, list(range(1, gen + 1))), 0.9,
    )


def _resolve_labels(
    spark: SparkSession, paths: dict[str, str], gens: list[int]
) -> DataFrame:
    """Current labels = stored labels folded through the remap
    generations IN ORDER (each generation's domain is the previous
    generation's resolved labels). One broadcast-sized join per
    generation — compact_label_store bounds the chain depth.

    Label rows live in per-generation subdirectories
    (``labels/gen=N``, the crash-atomic ingest's invisible-until-
    committed unit); the read lists exactly the base generation plus
    the requested remap generations. A paths dict without ``root``
    (the swap race test's flat fixture) reads ``labels`` as one flat
    store — the pre-r13 layout."""
    if "root" in paths:
        label_dirs = [f"{paths['labels']}/gen=0"] + [
            f"{paths['labels']}/gen={g}" for g in gens
        ]
    else:
        label_dirs = [paths["labels"]]
    labels = spark.read.schema("doc_id bigint, cluster_id bigint").parquet(
        *label_dirs
    )
    for g in gens:
        rm = spark.read.schema("old_label bigint, new_label bigint").parquet(
            f"{paths['remaps']}/gen={g}"
        )
        labels = labels.join(
            F.broadcast(rm), labels.cluster_id == rm.old_label, "left"
        ).select(
            "doc_id", F.coalesce("new_label", "cluster_id").alias("cluster_id")
        )
    return labels


def _merge_generation(
    spark: SparkSession,
    t_blocks: str,
    paths: dict[str, str],
    gens_done: list[int],
    gen: int,
) -> None:
    """Merge generation ``gen`` into the store: pair its arrivals
    against the stored block index (the writer's own view — base run
    plus every generation through ``gen``, including the one this
    transaction just staged), contract stored endpoints to their
    CURRENT labels (resolved through the generations already merged —
    using a stale label here would miss bridges through previously
    merged components), run connected components on the contracted
    graph, write the batch's labels to this generation's own label
    dir, and journal the (old → new) label moves as this generation's
    remap. Both writes are deterministic-path overwrites: invisible
    until the snapshot commit, idempotent on recovery replay."""
    new_pairs = _probe_pairs(
        spark, _block_runs(t_blocks, [*gens_done, gen]), paths, gen
    )
    current = _resolve_labels(spark, paths, gens_done)
    # INVARIANT: ``merged`` must be MATERIALIZED before the label
    # write below — it reads the label store via _resolve_labels, and
    # a lazy plan would re-resolve labels AFTER the write, journaling
    # against post-write state. connected_components already
    # checkpoints its fixpoint, but that is an implementation
    # detail of CC; the explicit checkpoint here makes the ordering
    # dependency local and regression-proof (r11 ADVICE).
    merged, _ = checkpointed_payload(_contract_and_merge(new_pairs, current))

    batch_ids = spark.read.schema("doc_id bigint").parquet(
        f"{paths['stage']}/delta_ids_{gen}"
    )
    _labels_of(batch_ids, merged).write.mode("overwrite").parquet(
        f"{paths['labels']}/gen={gen}"
    )
    _journal_moves(merged, batch_ids).write.mode("overwrite").parquet(
        f"{paths['remaps']}/gen={gen}"
    )


def _ingest_and_merge_generation(
    spark: SparkSession,
    t_blocks: str,
    paths: dict[str, str],
    docs_all: DataFrame,
    pay: DataFrame,
    batch_pred,
    gen: int,
) -> int:
    """The cluster tier's CRASH-ATOMIC generation transaction (r12
    verdict item 1): under the index's single-writer lock, stage +
    land the generation's block run and shingle payload
    (:func:`_ingest_batch`), merge it into the clustering — labels +
    remap journal (:func:`_merge_generation`) — and make all five
    stores plus the accounting count and key stats visible in ONE
    snapshot commit. A writer dying between ANY two steps leaves the
    previous snapshot fully intact (readers resolve only committed
    generations); recovery re-runs this function — every write is a
    deterministic-path overwrite — and the commit reclaims a crashed
    predecessor's orphan manifest. gens_done is read from the
    committed snapshot, so a recovery replay contracts through exactly
    the generations a reader would. A generation the snapshot already
    names is a no-op returning 0 (a micro-batch replayed after its
    commit — a torn streaming commit — rewrites no committed run)."""
    root = paths["root"]
    with exclusive_append(root, owner=f"cc_gen{gen}") as lease:
        snap = current_snapshot(root)
        gens_done = snap["gens"]
        if gen in gens_done:
            return 0
        n_batch = _ingest_batch(
            spark, t_blocks, paths, docs_all, pay, batch_pred, gen,
            snap["num_buckets"],
        )
        # heartbeat at the phase boundary (ingest jobs done, merge
        # jobs ahead) — the renewal is a conditional swap, so a
        # taken-over writer fences HERE instead of merging for nothing
        lease.renew()
        _merge_generation(spark, t_blocks, paths, gens_done, gen)
        commit_snapshot(
            root,
            {
                "blocks": _block_runs(t_blocks, [*gens_done, gen]),
                "gens": [*gens_done, gen],
                "n_indexed": snap["n_indexed"] + n_batch,
                "num_buckets": snap["num_buckets"],
                "key_stats": {
                    "blk": read_delta_key_manifest(
                        f"{paths['stage']}/delta_{gen}", "blk"
                    )
                },
            },
            lease=lease,
        )
    return n_batch


def _contract_and_merge(
    new_pairs: DataFrame, current_labels: DataFrame
) -> DataFrame:
    """Contract each pair endpoint to its CURRENT label (endpoints
    without a stored label — the arriving batch — stay themselves) and
    run connected components over the contracted graph. Returns the
    merged (id, label) node labels; node count is O(delta-touched
    components), never the corpus."""
    la = current_labels.select(
        F.col("doc_id").alias("doc_a"), F.col("cluster_id").alias("lbl_a")
    )
    lb = current_labels.select(
        F.col("doc_id").alias("doc_b"), F.col("cluster_id").alias("lbl_b")
    )
    contracted = (
        new_pairs.join(la, "doc_a", "left")
        .join(lb, "doc_b", "left")
        .select(
            F.coalesce("lbl_a", "doc_a").alias("u"),
            F.coalesce("lbl_b", "doc_b").alias("v"),
        )
    )
    merged, _ = connected_components(contracted)
    return merged


def _labels_of(ids: DataFrame, merged: DataFrame) -> DataFrame:
    """(doc_id, cluster_id) for ``ids``: the merged component label, or
    the doc's own id when no pair touched it."""
    return ids.join(merged, ids.doc_id == merged.id, "left").select(
        "doc_id", F.coalesce("label", "doc_id").alias("cluster_id")
    )


def _journal_moves(merged: DataFrame, batch_ids: DataFrame) -> DataFrame:
    """This generation's remap rows: every moved CONTRACTED LABEL —
    i.e. every merged node except the current batch's own ids (those
    get label rows, not remap rows). Earlier generations' delta ids
    ARE stored labels by now and must stay remappable, so the
    exclusion is membership in THIS batch, not an id-shape test (a
    % CC_DELTA_MOD filter here once dropped the gen-2 remap of a
    gen-1 label and broke batch-count independence)."""
    return (
        merged.filter(F.col("id") != F.col("label"))
        .join(batch_ids, merged.id == batch_ids.doc_id, "left_anti")
        .select(
            F.col("id").alias("old_label"), F.col("label").alias("new_label")
        )
    )


def _with_accounting(labels: DataFrame, n_indexed: int) -> DataFrame:
    return labels.select(
        "doc_id",
        "cluster_id",
        F.lit(n_indexed).cast("long").alias("n_indexed"),
    )


@register(
    "dedup_cluster_incremental",
    survey_ids=(),
    oracle=_CC_INC_ORACLE,
    doc="INCREMENTAL duplicate clustering against a persisted label "
    "store — the cluster tier's lifecycle, completing the trilogy "
    "with the ANN index (pq_lifecycle.py) and the MinHash band index "
    "(dedup_index.py): cluster the base corpus once (blocked-Jaccard "
    "pairs -> large-star/small-star components), persist blocks as a "
    "BUCKETED table on blk + shingle verify payload + (doc_id, "
    "cluster_id) labels; the arriving batch (every 10th doc) is "
    "paired by ONE co-located merge join against the updated block "
    "store, components merge on a CONTRACTED graph (stored endpoints "
    "replaced by their labels — O(delta-touched components) nodes, "
    "never the corpus), and the label store is updated by appending "
    "the delta's labels plus an (old_label -> new_label) REMAP "
    "journal instead of rewriting O(corpus) labels; readers resolve "
    "through one broadcast join per journal generation, and "
    "dedup_cluster_label_compact is the scheduled maintenance that "
    "folds the chain. Contraction is a connectivity-preserving "
    "homomorphism and stored labels are component minima, so "
    "incremental labels are bit-identical to a from-scratch batch "
    "run: the oracle is the SAME full-corpus recursive-CTE closure as "
    "dedup_cluster_components, plus the incrementally-maintained "
    "n_indexed accounting column (plans/lifecycle.py rule — counted "
    "from batches in hand, never by re-scanning the store). At "
    "100 TB this replaces re-clustering history+delta (O(corpus) CC "
    "per batch) with an O(delta) probe + a near-constant merge: "
    "relabel cascades touch only bridged components. No reference "
    "twin (extension surface).",
)
def dedup_cluster_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    t_blocks, paths, docs_all, pay, _ = _build_base(
        spark, sf_dir, "cc_index"
    )
    _ingest_and_merge_generation(
        spark,
        t_blocks,
        paths,
        docs_all,
        pay,
        F.col("doc_id") % CC_DELTA_MOD == 0,
        gen=1,
    )
    # read back from the COMMITTED snapshot: the returned labels and
    # accounting provably consume only published state
    snap = current_snapshot(paths["root"])
    return _with_accounting(
        _resolve_labels(spark, paths, snap["gens"]), snap["n_indexed"]
    )


@register(
    "dedup_cluster_label_compact",
    survey_ids=(),
    oracle=_CC_INC_ORACLE,
    doc="MULTI-BATCH ingest + LABEL-STORE COMPACTION for the "
    "incremental clustering lifecycle: the arrivals land as TWO "
    "generations (doc_id % 20 == 10, then % 20 == 0), each merged "
    "against the store with the contracted-graph step of "
    "dedup_cluster_incremental — generation 2 MUST contract through "
    "generation 1's remap (a stale label would miss bridges through "
    "components generation 1 already merged; the chained-merge "
    "corpus in tests/test_cc_index.py fails exactly there). Reads "
    "then resolve labels through the remap chain in generation "
    "order, and the compactor folds the chain: one rewrite of the "
    "label store with every remap applied, after which resolution is "
    "a bare read again (the journal-depth analog of the other tiers' "
    "small-file compaction; results pinned identical, layout not). "
    "The oracle is the SAME full-corpus closure as the single-batch "
    "operator — the final state must be INDEPENDENT of how the "
    "arrivals were batched, the equivalence contract the CDC and "
    "streaming-ingest tiers pin — and the returned labels are read "
    "back from the COMPACTED store, so the driver hash proves the "
    "fold changed nothing. No reference twin (extension surface).",
)
def dedup_cluster_label_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    t_blocks, paths, docs_all, pay, _ = _build_base(
        spark, sf_dir, "cc_compact"
    )
    for gen, batch_pred in (
        (1, F.col("doc_id") % CC_BATCH_MOD == CC_DELTA_MOD),
        (2, F.col("doc_id") % CC_BATCH_MOD == 0),
    ):
        _ingest_and_merge_generation(
            spark, t_blocks, paths, docs_all, pay, batch_pred, gen
        )
    snap = current_snapshot(paths["root"])
    gens, n_total = snap["gens"], snap["n_indexed"]

    # ── COMPACT: fold the remap chain into a flat label store ────────
    # write-then-publish with a UNIQUE generation-suffixed target (r12
    # ADVICE): a fixed target name would be rmtree'd while a persisted
    # _CURRENT pointer from a prior run could still reference it —
    # between the rmtree and the re-publish a concurrent reader would
    # resolve a deleted/half-written store, and the invariant would
    # hold only because index_root(fresh=True) wipes the root each
    # run. Writing every compaction to a fresh `_compacted_g{gen}`
    # path means no store a pointer can name is ever deleted before
    # the pointer moves off it. The flat store is fully written BEFORE
    # the atomic pointer flip, so a reader concurrent with this
    # compaction resolves either the journal-chain view or a complete
    # flat store — never a partial one (r11 verdict item 3; race proof
    # in tests/test_lifecycle_swap.py). The SUPERSEDED store is NOT
    # deleted inline (r13 ADVICE: a reader that resolved the old
    # pointer just before the flip can still be mid-scan of it) — it
    # stays on disk until scheduled GC past a grace period
    # (sources/commit_log.py vacuum_unreferenced, which this root gets
    # via the fresh-root wipe each registered run). The compactor runs
    # under the tier's lease like every other committed-state writer,
    # with the fencing check immediately before the publish.
    compacted = f"{paths['labels']}_compacted_g{gens[-1]}"
    with exclusive_append(paths["root"], owner="cc_label_compact") as lease:
        get_store_io().delete_prefix(compacted)
        _resolve_labels(spark, paths, gens).write.parquet(compacted)
        lease.assert_held("label-store publish")
        publish_store(paths["labels"], compacted)
    flat = spark.read.schema("doc_id bigint, cluster_id bigint").parquet(
        current_store(paths["labels"], compacted)
    )
    return _with_accounting(flat, n_total)


@register(
    "streaming_cluster_ingest_restart",
    survey_ids=(),
    oracle=_CC_INC_ORACLE,
    doc="Streaming cluster-label ingest under FAILURE + RESTART — the "
    "exactly-once proof for the CLUSTER tier's streaming maintainer, "
    "completing the symmetry with streaming_ann_ingest_restart and "
    "streaming_minhash_ingest_restart: the base store is "
    "dedup_cluster_incremental's (bucketed block run + shingle "
    "payload + labels, committed as the first snapshot), the "
    "arrivals land as a staged 3-file stream (maxFilesPerTrigger=1 "
    "-> 3 micro-batches), and each micro-batch runs the tier's own "
    "crash-atomic generation transaction — stage, bucketed block run, "
    "shingle payload, probe against every committed run, contract "
    "endpoints through the remap chain, connected components on the "
    "contracted graph, labels + remap journal — all published by ONE "
    "snapshot commit as generation <id>+1. The failure is INJECTED "
    "at the worst point (batch 1's generation committed, offset NOT "
    "committed — a torn commit); a new writeStream restarts from the "
    "same checkpoint, batch 1 replays, the transaction finds its "
    "generation already in the snapshot and writes nothing, and "
    "batch 2 drains. Final labels resolve through the committed "
    "remap chain in generation order, n_indexed is the committed "
    "accounting, and both are hash-checked against the SAME "
    "full-corpus recursive-CTE oracle as the batch operators: "
    "equality proves no document lost or relabeled wrongly across "
    "the crash, and that the final state is independent of the "
    "micro-batching AND of the failure. At 100 TB this is what makes "
    "continuous dedup-clustering operable: a driver loss costs at "
    "most one re-merged micro-batch, never a re-clustering of history "
    "(extension surface — no reference twin).",
)
def streaming_cluster_ingest_restart(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..streaming.restart_harness import (  # noqa: PLC0415
        ingest_with_injected_restart,
    )

    t_blocks, paths, docs_all, pay, _ = _build_base(spark, sf_dir, "cc_stream")
    root = paths["root"]
    # -- stage the arrivals as 3 files -> 3 micro-batches. The staged
    # rows are the SIGNED payload (blk + shingles computed once here);
    # null-text arrivals carry null blk/sgs — they pair with nothing
    # but still receive their self-label rows.
    stage = f"{root}/arrivals"
    docs_all.filter(F.col("doc_id") % CC_DELTA_MOD == 0).join(
        pay, "doc_id", "left"
    ).repartition(3).write.parquet(stage)
    # A proof needs >= 2 actual micro-batches (the torn commit fires
    # after batch 1); repartition(3) writes no file for an EMPTY
    # partition, so a tiny corpus can stage fewer than 3 files — fail
    # loudly instead of "injected failure did not fire" deep in the
    # harness. The listing goes through the StoreIO seam (on an object
    # store it is a LIST call with the store's own read-after-write
    # guarantees).
    n_files = len(
        [
            f
            for f in get_store_io().list_names(stage)
            if f.endswith(".parquet")
        ]
    )
    if n_files < 2:
        raise ValueError(
            f"streaming_cluster_ingest_restart: only {n_files} staged "
            f"arrival file(s) at {stage} — the restart proof needs >= 2 "
            "micro-batches (corpus too small; the batch operators in "
            "this module handle tiny corpora)"
        )
    # one committed generation per micro-batch (gen = batch id + 1;
    # generation 0 is the base); a replay of a committed generation
    # is a no-op inside the transaction
    ingest_with_injected_restart(
        spark, _STAGED_PAY, stage, f"{root}/ckpt",
        lambda b, bid: _ingest_and_merge_generation(
            spark, t_blocks, paths, b.select("doc_id"),
            b.filter(F.col("blk").isNotNull()), F.lit(True), gen=bid + 1,
        ),
    )
    snap = current_snapshot(root)
    return _with_accounting(
        _resolve_labels(spark, paths, snap["gens"]), snap["n_indexed"]
    )
