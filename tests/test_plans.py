"""Physical-plan lint — 'would this survive a 100x scale-up' as a
test. For EVERY registered query we render the formatted plan and
assert:

- no CartesianProduct / BroadcastNestedLoopJoin, except for the three
  queries documented as broadcast-scan baselines (tiny broadcast side
  by construction);
- lineitem scans under selective queries carry PushedFilters;
- the small dims (region/nation) never arrive via a shuffle join.
"""

from __future__ import annotations

import pytest

# Queries whose plans INTENTIONALLY contain a nested-loop/cartesian
# stage: a small broadcast side scored against the corpus (documented
# brute-force baselines), or an inequality-only self pairing.
ALLOWED_NESTED_LOOP = {
    # r10 drift audit (tools/lint_nested_loop_drift.py): four entries
    # whose plans no longer contain a nested-loop stage were REMOVED
    # so the lint guards them again — j_self_coalesce_chain (the +1/+2
    # arithmetic keys now compile to BroadcastHashJoin), and the three
    # BPE-chain queries (text_bpe_train_merges, text_bpe_apply_merges,
    # dedup_exact_substring_bpe_trained: the per-round 1-row winner
    # join hashes on the equality now).
    "sim_cosine_topk_exact",  # |Q|=5 broadcast x corpus scan
    "sim_embedding_near_dup",  # 16-row blocks relation self-pairs (<=)
    "sim_ann_ivf_bucketed",  # centroid assignment: tiny broadcast x corpus
    "sim_ann_ivf_partitioned_lists",  # same assignment shape; the read
    # side is partition-pruned parquet
    "sim_ann_ivf_pq",  # same centroid assignment shape (+1-row vocab-style
    # broadcasts for the bounded codebook/ADC tables)
    "sim_ann_ivf_pq_trained",  # identical shape plus the Lloyd round
    # (still the bounded codebook broadcast x corpus)
    "sim_ann_ivf_pq_persisted",  # same assignment shape; the query path
    # reads the partition-pruned stored code lists
    "sim_ann_ivf_pq_append",  # same assignment shape; ingest encodes the
    # delta against the stored codebook/centroids
    "sim_ann_ivf_pq_compacted",  # same shape as append; the query reads
    # the one-file-per-partition compacted copy
    "streaming_ann_index_ingest",  # same shape as append; the ingest
    # runs through foreachBatch micro-batches
    "streaming_ann_ingest_restart",  # same shape as append; adds the
    # injected-failure + checkpoint-restart replay around the ingest
    "sim_ann_ivf_pq_retrain",  # same shape plus the Lloyd round over
    # the union (still the bounded codebook broadcast x corpus)
    "ml_kmeans_lloyd_step",  # same centroid assignment shape as IVF
    "ml_kmeans_lloyd_iterated",  # two chained centroid-assignment rounds
    "dedup_semantic_semdedup",  # same centroid assignment shape as IVF
    # Scalar-threshold joins: a ONE-ROW aggregate broadcast against the
    # fact side with an inequality filter (TPC-H q11/q22 shape). The
    # nested-loop side is a single row by construction (global agg), so
    # the "loop" is one comparison per fact row — the plan you'd want
    # at any scale. (q15's same-shaped scalar MAX collapses to a
    # BroadcastHashJoin because its filter is an equality.)
    "q11_important_stock",
    "q22_global_sales_opportunity",
    "events_histogram_equiwidth",  # global min/max one-row broadcast
    # against the value scan — the same scalar-threshold shape
    "text_bigram_lm_score",  # |vocab| scalar (one row) x bigram stream
    "text_bm25_topk",  # (N, avgdl, df) one-row corpus stats x doc scan
    "graph_pagerank_exact_int",  # (n, r_init, base) one-row consts x ranks
    "events_kmv_sketch_merge",  # three 1-row sketch aggregates crossed
    "j_bloom_prefilter_join",  # 1-row counter aggregates crossed for stats
    "graph_triangle_count",  # four 1-row stat aggregates crossed
    "graph_copurchase_lift",  # 1-row n_orders scalar x pair stats
    "s_zorder_write_prune",  # three 1-row file-count aggregates crossed
}


def _all_query_names():
    from tijdloze_musicbrainz_spark.plans import REGISTRY

    return sorted(REGISTRY)


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    import contextlib
    import io

    from tijdloze_musicbrainz_spark.plans import REGISTRY

    out = {}
    for name, spec in REGISTRY.items():
        df = spec.builder(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        out[name] = buf.getvalue()
    return out


@pytest.mark.parametrize("name", _all_query_names())
def test_no_accidental_cartesian(plans, name):
    plan = plans[name]
    if name in ALLOWED_NESTED_LOOP:
        pytest.skip("documented nested-loop baseline")
    assert "CartesianProduct" not in plan, f"{name}: cartesian product in plan"
    assert "BroadcastNestedLoopJoin" not in plan, (
        f"{name}: nested-loop join in plan"
    )


def test_selective_scan_pushes_filters(plans):
    # q6 is a pure filter+agg: every predicate must reach the parquet scan.
    plan = plans["q6_forecast_revenue"]
    assert "PushedFilters: [" in plan
    pushed = [
        line for line in plan.splitlines() if "PushedFilters" in line
    ]
    assert any("l_shipdate" in line for line in pushed), pushed
    assert any("l_discount" in line or "l_quantity" in line for line in pushed), (
        pushed
    )


def test_small_dims_broadcast(plans):
    # q5 joins region+nation: both must be broadcast, never shuffled.
    plan = plans["q5_local_supplier_volume"]
    assert "BroadcastHashJoin" in plan
    # the fact-fact joins shuffle; count that at least the two dim
    # joins are broadcast by checking two BroadcastExchanges exist
    assert plan.count("BroadcastExchange") >= 2


def test_flagship_is_aggregation_not_window(plans):
    # the canonical argmin must be the min_by aggregate (map-side
    # combinable), not a row_number window
    plan = plans["flagship_canonical_order"]
    assert "min_by" in plan
    assert "row_number" not in plan


def test_minhash_verify_has_no_forced_broadcast(plans, spark, sf_dir):
    """Round-2 verdict 'What's wrong #2': the MinHash verify stage must
    NOT force-broadcast the candidate⋈shingle relation — it grows
    O(n·dup_rate) with full shingle payloads and blows the broadcast
    limit at 100 TB. The logical plan must carry no broadcast hint at
    all (runtime AQE size-based broadcasts remain allowed)."""
    from tijdloze_musicbrainz_spark.plans import REGISTRY

    df = REGISTRY["dedup_minhash_lsh"].builder(spark, sf_dir)
    logical = df._jdf.queryExecution().logical().toString()
    assert "UnresolvedHint" not in logical and "ResolvedHint" not in logical, (
        "dedup_minhash_lsh: broadcast hint found in logical plan"
    )


def test_pandas_topk_query_set_is_bounded(spark, sf_dir):
    """Round-2 verdict 'What's wrong #3': the pandas scorer collects the
    query set onto the driver, so |Q| must be bounded by a constant —
    never a fraction of the corpus. The default workload stays under
    MAX_QUERIES at any sf, and an oversized explicit query set raises
    instead of silently collecting."""
    from pyspark.sql import functions as F

    from tijdloze_musicbrainz_spark.plans.similarity import (
        MAX_QUERIES,
        _query_filter,
        _vecs,
        sim_cosine_topk_pandas,
    )

    assert _vecs(spark, sf_dir).filter(_query_filter()).count() <= MAX_QUERIES
    big = spark.range(MAX_QUERIES + 10).select(
        F.col("id").alias("vec_id"),
        F.array_repeat(F.lit(0.1), 4).cast("array<double>").alias("v"),
    )
    with pytest.raises(ValueError, match="MAX_QUERIES"):
        sim_cosine_topk_pandas(spark, sf_dir, queries=big)


def test_column_pruning_reaches_scan(plans):
    # p_prefix_like reads only (p_partkey, p_name): the parquet
    # ReadSchema must not include other part columns.
    plan = plans["p_prefix_like"]
    read = [line for line in plan.splitlines() if "ReadSchema" in line]
    assert read, "no ReadSchema in plan"
    assert "p_retailprice" not in read[0] and "p_brand" not in read[0], read[0]


def test_wordcount_topk_avoids_global_sort(plans):
    # orderBy+limit must compile to TakeOrderedAndProject (per-partition
    # top-k, driver merge) — a global Sort of the vocabulary would be an
    # extra full shuffle at scale.
    import re

    plan = plans["text_wordcount_topk"]
    assert "TakeOrderedAndProject" in plan
    assert not re.search(r"\bSort \(\d+\)", plan), (
        "global sort snuck into the top-k plan"
    )


def _window_partition_specs(plan):
    """Yield (line, partition_spec) for every physical Window node.

    In formatted explain the Window detail line reads
    ``Arguments: [exprs], [partitionSpec], [orderSpec]``, but either
    spec may be omitted when empty, so a 2-group line is ambiguous:
    partitionBy-without-orderBy (fine) vs orderBy-without-partitionBy
    (the scale-killer). Disambiguate by content — an order spec's
    entries carry ASC/DESC direction markers, a partition spec's
    never do. Split the top-level bracket groups so commas/brackets
    inside windowspecdefinition(...) don't confuse the count.
    """
    import re
    for line in plan.splitlines():
        line = line.strip()
        if not line.startswith("Arguments: ["):
            continue
        if "windowspecdefinition" not in line:
            continue
        groups, depth, cur = [], 0, None
        for ch in line[len("Arguments: ") :]:
            if ch == "[":
                if depth == 0:
                    cur = []
                depth += 1
                if depth == 1:
                    continue
            elif ch == "]":
                depth -= 1
                if depth == 0:
                    groups.append("".join(cur))
                    cur = None
                    continue
            if cur is not None:
                cur.append(ch)
        def is_order_spec(g):
            return bool(re.search(r"\b(ASC|DESC) NULLS", g))

        if len(groups) >= 3:
            part = groups[1].strip()
            yield line, (part or None)
        elif len(groups) == 2:
            g = groups[1].strip()
            # order spec (has direction markers) => no partition spec;
            # otherwise it IS the partition spec (unordered window)
            yield line, (None if not g or is_order_spec(g) else g)
        else:
            yield line, None


# Plans whose unpartitioned window runs over an ABSOLUTELY BOUNDED
# relation (a constant cap, not a fraction of the corpus) — the same
# contract as ALLOWED_NESTED_LOOP. Each entry names the bound.
ALLOWED_UNPARTITIONED_WINDOW = {
    # _pq_seed_codebook ranks the codebook SOURCE rows by vec_id: the
    # mod + absolute-id-cap filter bounds the input to
    # PQ_CB_CAP/PQ_CB_MOD (<= ~92) rows at ANY corpus size. The other
    # lifecycle queries don't trip this because their returned plan
    # reads the codebook back from parquet (the build is eager).
    "sim_ann_ivf_pq",
    "sim_ann_ivf_pq_trained",
    # the global calendar-bounds window runs over the PER-TYPE
    # aggregate (|event_type| rows), never the event scan; the
    # docstring documents why a 1-row bounds join is worse (Catalyst
    # constant-folds the synthetic key back to a nested loop)
    "events_gap_fill",
}


@pytest.mark.parametrize("name", _all_query_names())
def test_no_unpartitioned_window(plans, name):
    # A Window without a partitionBy compiles to WindowExec over
    # SinglePartition ("No Partition Defined for Window operation!"):
    # the entire input funnels through ONE task — the canonical
    # 100 TB scale-killer. Top-N wants orderBy().limit(N)
    # (TakeOrderedAndProject); running totals want a keyed partition.
    if name in ALLOWED_UNPARTITIONED_WINDOW:
        pytest.skip("documented bounded-input unpartitioned window")
    for line, spec in _window_partition_specs(plans[name]):
        assert spec is not None, (
            f"{name}: unpartitioned Window in plan — {line}"
        )


def test_moving_frame_single_exchange(plans):
    # Both window specs share (partitionBy user_id, orderBy ts,event_id):
    # one shuffle + one in-partition sort must serve the bounded frame,
    # the count and the lag — a second Exchange means the specs diverged.
    import re

    plan = plans["events_moving_frame"]
    assert len(re.findall(r"\bExchange \(\d+\)", plan)) == 1, plan


def test_pivot_uses_explicit_values(plans):
    # Explicit pivot values: the plan must contain the pivotfirst
    # aggregate over the pinned language set, and building the plan must
    # not have launched a distinct-discovery job (values-less .pivot()
    # does; with pinned values the plan renders without any job).
    plan = plans["text_pivot_source_lang"]
    assert "pivotfirst" in plan


def test_partitioned_read_prunes(plans):
    """s_partitioned_prune filters on the Hive partition column: the
    scan must carry PartitionFilters (directory-level pruning — the
    scan never lists the other l_returnflag directories)."""
    plan = plans["s_partitioned_prune"]
    pf = [line for line in plan.splitlines() if "PartitionFilters" in line]
    assert pf, "no PartitionFilters in s_partitioned_prune read plan"
    assert any("l_returnflag" in line for line in pf), pf


def test_zorder_write_read_prunes_partitions(plans):
    """s_zorder_write_prune reads the materialized Morton layout with
    an isin(candidate z-files) filter on the partition column: the
    pruned scan must carry a zfile PartitionFilter (directory-level
    skipping of every z-range outside the box's curve regions)."""
    plan = plans["s_zorder_write_prune"]
    pf = [
        line
        for line in plan.splitlines()
        if "PartitionFilters" in line and "zfile" in line
    ]
    # a 1-element candidate set may compile to an equality instead of
    # an IN list — either way the filter must sit in PartitionFilters
    assert pf, "no zfile PartitionFilters in the pruned scan"


def test_repetition_filter_is_shuffle_free(plans):
    """The per-doc top-bigram count folds in-row (sort_array +
    aggregate); the plan must contain NO exchange of any kind — the
    naive explode+groupBy(doc, bigram) would shuffle one row per
    corpus token."""
    plan = plans["text_repetition_filter"]
    assert "Exchange" not in plan, "text_repetition_filter shuffles"


def test_q2_dims_all_broadcast(plans):
    # q2's supplier/nation/region/part sides are all dims: every join
    # after the per-(part,supplier) aggregate except the min-cost
    # self-join must be broadcast, and the only shuffles are the two
    # aggregates plus that self-join.
    plan = plans["q2_min_cost_supplier"]
    assert plan.count("BroadcastExchange") >= 3, plan
    pf = [line for line in plan.splitlines() if "PushedFilters" in line]
    assert any("p_size" in line for line in pf), pf


def test_q21_status_filter_reaches_scan(plans):
    # The o_orderstatus = 'F' predicate must be pushed into the orders
    # parquet scan, not evaluated post-join.
    plan = plans["q21_waiting_supplier"]
    pf = [line for line in plan.splitlines() if "PushedFilters" in line]
    assert any("o_orderstatus" in line for line in pf), pf


def test_contamination_probes_via_broadcast_semi(plans):
    """The benchmark shingle set must build a broadcast semi-join
    (small by construction), never a shuffled join of the corpus
    shingles."""
    plan = plans["text_contamination_overlap"]
    assert "BroadcastHashJoin LeftSemi" in plan


@pytest.mark.parametrize("name", _all_query_names())
def test_no_duplicated_lambda_in_filter(plans, name):
    """InferFiltersFromGenerate regression guard (r4c): exploding a
    NAMED column whose expression is an expensive higher-order lambda
    lets the optimizer infer a size(col) > 0 filter that
    project-collapse rewrites back into the full interpreted
    transform(...) INSIDE the Filter — the array then builds twice
    per row (text_contamination_overlap measured 4.4 s vs 0.9 s at
    sf0.1 before the fix: inline the generator input). No registered
    plan may evaluate a transform/aggregate lambda in a Filter
    condition."""
    plan = plans[name]
    conditions = [
        line
        for line in plan.splitlines()
        if line.strip().startswith("Condition")
    ]
    for line in conditions:
        assert "transform(" not in line and "aggregate(" not in line, (
            f"{name}: higher-order lambda evaluated inside a Filter — "
            f"likely a duplicated generator input: {line.strip()[:200]}"
        )


def test_chunker_is_shuffle_free(plans):
    """Overlapping chunking is a pure in-row expansion: scan ->
    generate -> project with ZERO exchanges (its whole scale story)."""
    plan = plans["corpus_chunk_overlap"]
    assert "Exchange" not in plan, "corpus_chunk_overlap shuffles"


# ── driver-materialization lint ──────────────────────────────────────
# Every .collect()/.first()/.toPandas()/.toLocalIterator() in the
# package moves data onto the driver — at 100 TB an unbounded one is a
# driver OOM and a serialization wall. Every DataFrame .count() is a
# driver-synchronized action of its own (a frame just checkpointed
# reads its count off the checkpoint job: plans/util.checkpointed_payload).
# Every site is audited as a bounded-metadata action; this lint pins
# that audit: a NEW site fails until it is allowlisted here WITH its
# bound.
DRIVER_MATERIALIZATION_ALLOWLIST = {
    # (file, enclosing function, method): documented bound
    ("plans/scaleops.py", "j_bloom_prefilter_join", "collect"):
        "8 KB of bloom words (fixed bit-array size)",
    ("plans/etl.py", "s_corrupt_json_tolerant", "collect"):
        "per-parse-mode accounting rows (3 modes)",
    ("plans/similarity/pq_lifecycle.py", "_pq_query_stored", "collect"):
        "<= MAX_QUERIES * N_PROBE probed centroid ids",
    ("plans/similarity/ivf.py", "sim_ann_ivf_partitioned_lists", "collect"):
        "<= MAX_QUERIES * N_PROBE probed centroid ids",
    ("plans/similarity/exact.py", "sim_cosine_topk_pandas", "collect"):
        "limit(MAX_QUERIES + 1) with loud over-limit error",
    ("streaming/jobs.py", "_staged_events_with_flush", "first"):
        "1-row max-timestamp for the staged flush row",
    ("operators/manifest.py", "merge_upsert_manifest", "collect"):
        "distinct touched bucket ids (<= num_buckets)",
    ("operators/manifest.py", "commit_clustered", "collect"):
        "one stats row per committed file (manifest metadata)",
    ("operators/manifest.py", "compact", "first"):
        "1-row compaction bounds",
    ("sources/bucketing.py", "desc", "collect"):
        "DESCRIBE TABLE metadata rows",
    ("plans/lifecycle.py", "_exact_key_set", "collect"):
        "distinct delta keys, limit(PROBE_PUSHDOWN_MAX_KEYS + 1)",
    ("plans/dedup.py", "dedup_ngram_jaccard_meta_blocked", "first"):
        "1-row reblocked/dropped-block accounting aggregate (one action)",
    ("plans/similarity/common.py", "_guard_brute_force", "count"):
        "limit(MAX_BRUTE_FORCE_N + 1) size guard",
    ("plans/similarity/lsh.py", "_guard_loose_lsh", "count"):
        "limit(MAX_LOOSE_LSH_N + 1) size guard",
    ("plans/dedup.py", "connected_components", "count"):
        "exceptAll(...).limit(1) fixpoint certificate, only on a round "
        "whose edge count is unchanged",
    ("plans/similarity/pq_lifecycle.py", "_pq_n_appended_stored", "count"):
        "one store-derived delta count per restart-proof run",
}

_DRIVER_METHODS = ("collect", "first", "toPandas", "toLocalIterator")
# receivers whose methods build Columns, not actions (F.first, F.count)
_COLUMN_MODULES = ("F", "functions")


def _driver_action(node) -> str | None:
    """The driver action a Call node performs, or None."""
    import ast

    if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
        return None
    attr, recv = node.func.attr, node.func.value
    if isinstance(recv, ast.Name) and recv.id in _COLUMN_MODULES:
        return None
    if attr in _DRIVER_METHODS:
        return attr
    # a zero-argument .count() is a DataFrame action, except
    # groupBy(...).count(), which is a lazy aggregate
    if attr == "count" and not node.args and not node.keywords:
        grouped = (
            isinstance(recv, ast.Call)
            and isinstance(recv.func, ast.Attribute)
            and recv.func.attr in ("groupBy", "groupby")
        )
        return None if grouped else attr
    return None


def test_driver_materialization_sites_are_allowlisted():
    import ast
    import os

    import tijdloze_musicbrainz_spark as pkg

    root = os.path.dirname(pkg.__file__)
    found = set()
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, root).replace(os.sep, "/")
            with open(path) as f:
                tree = ast.parse(f.read())
            spans = [
                (n.lineno, n.end_lineno, n.name)
                for n in ast.walk(tree)
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            ]
            for node in ast.walk(tree):
                action = _driver_action(node)
                if action is None:
                    continue
                enc = [
                    name
                    for (s, e, name) in spans
                    if s <= node.lineno <= (e or s)
                ]
                found.add((rel, enc[-1] if enc else "<module>", action))
    unlisted = found - set(DRIVER_MATERIALIZATION_ALLOWLIST)
    assert not unlisted, (
        "new driver-materialization site(s) — document the bound in "
        f"DRIVER_MATERIALIZATION_ALLOWLIST or make them distributed: "
        f"{sorted(unlisted)}"
    )
    stale = set(DRIVER_MATERIALIZATION_ALLOWLIST) - found
    assert not stale, (
        f"allowlist entries whose site no longer exists (drift): "
        f"{sorted(stale)}"
    )


# ── checkpoint job budgets ───────────────────────────────────────────
# Loop rounds and shared frames go through checkpointed_payload, whose
# row count rides the checkpoint job: a count of a frame just
# checkpointed costs no job. Measured (build, exec) ceilings at sf0.01.
CHECKPOINT_JOB_BUDGETS = {
    "graph_bfs_hops": (17, 1),
    "graph_bfs_fixpoint": (17, 1),
    "graph_triangle_count": (8, 7),
    "dedup_semantic_semdedup": (1, 5),
}


@pytest.mark.parametrize("name", sorted(CHECKPOINT_JOB_BUDGETS))
def test_checkpoint_job_budget(spark, bench_sf01, jobs_of, name):
    from tijdloze_musicbrainz_spark.plans import REGISTRY

    max_build, max_exec = CHECKPOINT_JOB_BUDGETS[name]
    df, n_build = jobs_of(lambda: REGISTRY[name].builder(spark, bench_sf01))
    _, n_exec = jobs_of(
        lambda: df.write.format("noop").mode("overwrite").save()
    )
    assert n_build <= max_build, n_build
    assert n_exec <= max_exec, n_exec


def test_quality_gate_single_sourced():
    """Five operators apply the Gopher-style quality gate; the
    thresholds and punctuation class live once in textops. Every
    carrier's ORACLE must embed the same values — change a constant
    and this test names each stale oracle (the two plain-string
    oracles cannot interpolate, so this is their sync contract)."""
    from tijdloze_musicbrainz_spark.plans import REGISTRY, textops

    lo, hi = textops.QUALITY_MIN_CHARS, textops.QUALITY_MAX_CHARS
    punct, cls = textops.QUALITY_MAX_PUNCT, textops.QUALITY_PUNCT_CLASS
    carriers = {
        "text_quality_score": f"n >= {lo} AND n <= {hi}",
        "corpus_clean_pipeline": f"n >= {lo} AND n <= {hi}",
        "corpus_training_dataset_e2e": f"n >= {lo} AND n <= {hi}",
        "corpus_curation_scorecard": f"n >= {lo} AND n <= {hi}",
        "corpus_incremental_refresh_e2e": f"length(text) >= {lo}",
    }
    for name, frag in carriers.items():
        oracle = REGISTRY[name].oracle
        assert frag in oracle, f"{name}: length window drifted"
        assert f"< {punct}" in oracle, f"{name}: punct threshold drifted"
        assert cls in oracle, f"{name}: punct class drifted"
