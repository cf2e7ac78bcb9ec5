"""Commit-protocol properties of the manifest-committed table
(operators/manifest.py, a client of sources/commit_log.py): snapshot
isolation across a multi-bucket merge, crash safety before the pointer
flip, optimistic-concurrency conflict detection under the table's
lease, and time travel."""

from __future__ import annotations

import contextlib
import os

import pytest

from pyspark.sql import functions as F

from tijdloze_musicbrainz_spark.operators.manifest import (
    merge_upsert_manifest,
    read_table,
)
from tijdloze_musicbrainz_spark.sources.commit_log import (
    SnapshotConflict,
    current_snapshot_version,
)
from tijdloze_musicbrainz_spark.sources.store_io import (
    get_store_io,
    set_store_io,
)


def _rows(spark, table, version=None):
    df = read_table(spark, table, version=version)
    return {(r.k, r.seq, r.v) for r in df.collect()} if df is not None else set()


class _CrashAtPointerFlip:
    """Store-IO wrapper that dies at the commit point — the ``_CURRENT``
    pointer flip — and forwards every other call (the lease's own
    atomic puts included)."""

    def __init__(self, inner):
        self._inner = inner

    def __getattr__(self, name):
        return getattr(self._inner, name)

    def put_atomic(self, path, text):
        if os.path.basename(path) == "_CURRENT":
            raise RuntimeError("simulated crash at the commit point")
        self._inner.put_atomic(path, text)


@contextlib.contextmanager
def _crash_at_pointer_flip():
    prev = get_store_io()
    set_store_io(_CrashAtPointerFlip(prev))
    try:
        yield
    finally:
        set_store_io(prev)


def _during_next_merge(monkeypatch, action):
    """Run ``action`` once, inside the next merge: after it has read
    its base snapshot and before it commits (its dedup step). Merges
    that ``action`` runs itself pass straight through."""
    import tijdloze_musicbrainz_spark.operators.manifest as m

    real = m.dedup_last_wins
    fired = []

    def hooked(*a, **k):
        if not fired:
            fired.append(True)
            action()
        return real(*a, **k)

    monkeypatch.setattr(m, "dedup_last_wins", hooked)


def _snapshot_files(table):
    """(versions, referenced data entries) over every manifest on disk."""
    import json

    sdir = os.path.join(table, "_snapshots")
    versions, referenced = [], set()
    for name in os.listdir(sdir):
        versions.append(int(name[1:-5]))
        with open(os.path.join(sdir, name)) as f:
            for entries in json.load(f)["files"].values():
                referenced.update(entries)
    return sorted(versions), referenced


def test_merge_and_snapshot_versions(spark, tmp_path_factory):
    table = str(tmp_path_factory.mktemp("manifest") / "t")
    full = spark.range(100).selectExpr("id as k", "1L as seq", "id as v")
    touched = merge_upsert_manifest(full, table, ["k"], "seq")
    assert len(touched) > 1  # multi-bucket commit
    assert current_snapshot_version(table) == 0
    assert len(_rows(spark, table)) == 100

    inc = spark.createDataFrame([(7, 2, 999), (13, 2, 888)], "k long, seq long, v long")
    merge_upsert_manifest(inc, table, ["k"], "seq")
    assert current_snapshot_version(table) == 1
    now = _rows(spark, table)
    assert (7, 2, 999) in now and (13, 2, 888) in now
    assert len(now) == 100  # keys upserted, not appended

    # time travel: version 0 still serves the pre-merge values
    v0 = _rows(spark, table, version=0)
    assert (7, 1, 7) in v0 and (13, 1, 13) in v0


def test_one_key_merge_rewrites_only_its_bucket(spark, tmp_path_factory):
    """A batch whose one key hashes to one bucket rewrites that bucket's
    entry and leaves every other bucket's committed entry list as it
    was (round-3 verdict #3: per-batch work is O(touched buckets), not
    O(table))."""
    from tijdloze_musicbrainz_spark.operators.manifest import N_MERGE_BUCKETS
    from tijdloze_musicbrainz_spark.sources.commit_log import snapshot_at

    table = str(tmp_path_factory.mktemp("manifest_isolation") / "t")
    full = spark.range(500).selectExpr("id as k", "id as seq", "id * 2 as v")
    touched = merge_upsert_manifest(full, table, ["k"], "seq")
    assert touched == list(range(N_MERGE_BUCKETS))  # 500 keys cover all buckets

    one = spark.createDataFrame([(7, 10_000, 99)], "k long, seq long, v long")
    (b,) = merge_upsert_manifest(one, table, ["k"], "seq")
    v0, v1 = snapshot_at(table, 0)["files"], snapshot_at(table, 1)["files"]
    assert set(v0) == set(v1) == {str(i) for i in range(N_MERGE_BUCKETS)}
    assert {k for k in v0 if v0[k] != v1[k]} == {str(b)}

    got = _rows(spark, table)
    assert (7, 10_000, 99) in got
    assert len(got) == 500  # every other key survived the one-bucket merge


def test_crash_before_pointer_swap_leaves_old_snapshot(
    spark, tmp_path_factory, monkeypatch
):
    """Simulate a crash AFTER data files and manifest are written but
    BEFORE the pointer flip: readers must still see the old snapshot,
    and a plain retry must succeed and converge — the next leased
    commit reclaims the orphaned manifest, and vacuum reclaims the
    crashed attempt's data entries."""
    table = str(tmp_path_factory.mktemp("manifest_crash") / "t")
    full = spark.range(50).selectExpr("id as k", "1L as seq", "id as v")
    merge_upsert_manifest(full, table, ["k"], "seq")
    before = _rows(spark, table)

    inc = spark.createDataFrame([(7, 2, 999)], "k long, seq long, v long")
    with _crash_at_pointer_flip():
        with pytest.raises(RuntimeError, match="simulated crash"):
            merge_upsert_manifest(inc, table, ["k"], "seq")

    # reader is untouched: still the old snapshot, pointer still v0
    assert current_snapshot_version(table) == 0
    assert os.path.exists(os.path.join(table, "_snapshots", "v1.json"))
    assert _rows(spark, table) == before

    # crash recovery is the retry itself: the orphan v1 is reclaimed
    merge_upsert_manifest(inc, table, ["k"], "seq")
    assert current_snapshot_version(table) == 1
    after = _rows(spark, table)
    assert (7, 2, 999) in after and len(after) == 50

    # the crashed attempt's renamed entries are referenced by nothing;
    # vacuum (keeping both versions) reclaims exactly those
    from tijdloze_musicbrainz_spark.operators.manifest import vacuum

    _, referenced = _snapshot_files(table)
    on_disk = {f"data/{e}" for e in os.listdir(os.path.join(table, "data"))}
    assert on_disk - referenced
    assert set(vacuum(table, keep_versions=2)) == on_disk - referenced
    assert _rows(spark, table) == after


def test_concurrent_committers_conflict(spark, tmp_path_factory, monkeypatch):
    """Two writers preparing version N+1 from the same base: writer B
    really commits v1 while writer A is mid-merge, so A's commit must
    raise SnapshotConflict, never silently clobber B."""
    table = str(tmp_path_factory.mktemp("manifest_cc") / "t")
    full = spark.range(20).selectExpr("id as k", "1L as seq", "id as v")
    merge_upsert_manifest(full, table, ["k"], "seq")

    def writer_b():
        merge_upsert_manifest(
            spark.createDataFrame([(5, 2, 555)], "k long, seq long, v long"),
            table,
            ["k"],
            "seq",
        )

    _during_next_merge(monkeypatch, writer_b)
    inc = spark.createDataFrame([(3, 2, 1)], "k long, seq long, v long")
    with pytest.raises(SnapshotConflict):
        merge_upsert_manifest(inc, table, ["k"], "seq")
    assert current_snapshot_version(table) == 1
    rows = _rows(spark, table)
    assert (5, 2, 555) in rows and (3, 2, 1) not in rows


def test_replayed_batch_is_idempotent(spark, tmp_path_factory):
    table = str(tmp_path_factory.mktemp("manifest_idem") / "t")
    full = spark.range(30).selectExpr("id as k", "1L as seq", "id as v")
    merge_upsert_manifest(full, table, ["k"], "seq")
    snap1 = _rows(spark, table)
    merge_upsert_manifest(full, table, ["k"], "seq")  # replay
    assert _rows(spark, table) == snap1  # same winners, new version
    assert current_snapshot_version(table) == 1


def test_cdc_merge_deletes_and_reinserts(spark, tmp_path_factory):
    from tijdloze_musicbrainz_spark.operators.manifest import merge_cdc_manifest

    table = str(tmp_path_factory.mktemp("manifest_cdc") / "t")
    base = spark.range(10).selectExpr(
        "id as k", "1L as seq", "id as v", "'I' as op"
    )
    merge_cdc_manifest(base, table, ["k"], "seq")
    assert len(_rows(spark, table)) == 10

    # delete 3, update 5, and a LATE update for 3 that loses to the
    # delete on priority (seq 2 vs 3): arrival order must not matter
    changes = spark.createDataFrame(
        [(3, 3, 0, "D"), (5, 2, 555, "U"), (3, 2, 333, "U")],
        "k long, seq long, v long, op string",
    )
    merge_cdc_manifest(changes, table, ["k"], "seq")
    now = _rows(spark, table)
    assert len(now) == 9  # key 3 gone
    assert all(r[0] != 3 for r in now)
    assert (5, 2, 555) in now

    # re-insert key 3 with a higher priority than its tombstone
    merge_cdc_manifest(
        spark.createDataFrame([(3, 4, 777, "I")], "k long, seq long, v long, op string"),
        table,
        ["k"],
        "seq",
    )
    assert (3, 4, 777) in _rows(spark, table)


def test_cdc_tombstone_outlives_its_batch(spark, tmp_path_factory):
    """r6 (ADVICE 1): the winning 'D' is PERSISTED as a tombstone row,
    so a LATER batch carrying a lower-priority late update for the
    deleted key must NOT resurrect it — cross-batch, not just within
    one merge call."""
    from tijdloze_musicbrainz_spark.operators.manifest import (
        compact,
        merge_cdc_manifest,
    )

    table = str(tmp_path_factory.mktemp("manifest_cdc_tomb") / "t")
    base = spark.range(10).selectExpr(
        "id as k", "1L as seq", "id as v", "'I' as op"
    )
    merge_cdc_manifest(base, table, ["k"], "seq")
    # batch 2: delete key 3 at priority 5
    merge_cdc_manifest(
        spark.createDataFrame([(3, 5, 0, "D")], "k long, seq long, v long, op string"),
        table,
        ["k"],
        "seq",
    )
    assert all(r[0] != 3 for r in _rows(spark, table))
    # batch 3 (SEPARATE commit): late update for key 3 at priority 2 —
    # outranked by the persisted tombstone, the key stays deleted
    merge_cdc_manifest(
        spark.createDataFrame([(3, 2, 333, "U")], "k long, seq long, v long, op string"),
        table,
        ["k"],
        "seq",
    )
    now = _rows(spark, table)
    assert all(r[0] != 3 for r in now) and len(now) == 9
    # a HIGHER-priority re-insert still wins over the tombstone
    merge_cdc_manifest(
        spark.createDataFrame([(3, 9, 777, "I")], "k long, seq long, v long, op string"),
        table,
        ["k"],
        "seq",
    )
    assert (3, 9, 777) in _rows(spark, table)

    # compaction is the tombstone retention boundary: delete again,
    # compact (purges the tombstone), then the late low-priority update
    # IS re-admitted — the documented Delta-retention contract
    merge_cdc_manifest(
        spark.createDataFrame([(3, 10, 0, "D")], "k long, seq long, v long, op string"),
        table,
        ["k"],
        "seq",
    )
    compact(table, spark)
    merge_cdc_manifest(
        spark.createDataFrame([(3, 2, 222, "U")], "k long, seq long, v long, op string"),
        table,
        ["k"],
        "seq",
    )
    assert (3, 2, 222) in _rows(spark, table)


def test_time_travel_to_uncommitted_version_refused(
    spark, tmp_path_factory, monkeypatch
):
    """r6 (ADVICE 2): an orphaned manifest beyond the _CURRENT pointer
    (crash between manifest write and pointer flip) must not be
    readable as if committed."""
    table = str(tmp_path_factory.mktemp("manifest_orphan") / "t")
    full = spark.range(10).selectExpr("id as k", "1L as seq", "id as v")
    merge_upsert_manifest(full, table, ["k"], "seq")

    inc = spark.createDataFrame([(7, 2, 999)], "k long, seq long, v long")
    with _crash_at_pointer_flip():
        with pytest.raises(RuntimeError, match="crash"):
            merge_upsert_manifest(inc, table, ["k"], "seq")

    # v1.json exists on disk but was never committed
    assert os.path.exists(os.path.join(table, "_snapshots", "v1.json"))
    with pytest.raises(ValueError, match="not committed"):
        read_table(spark, table, version=1)
    # the committed snapshot is still served normally
    assert len(_rows(spark, table)) == 10


def test_compaction_preserves_snapshot_and_shrinks_files(
    spark, tmp_path_factory
):
    import glob

    from tijdloze_musicbrainz_spark.operators.manifest import compact

    table = str(tmp_path_factory.mktemp("manifest_opt") / "t")
    for i in range(4):  # four commits → many small files
        batch = spark.range(i * 25, (i + 1) * 25).selectExpr(
            "id as k", f"{i + 1}L as seq", "id as v"
        )
        merge_upsert_manifest(batch, table, ["k"], "seq")
    before = _rows(spark, table)
    v_before = current_snapshot_version(table)
    n_files_before = len(glob.glob(f"{table}/data/*/*.parquet"))

    compact(table, spark)
    assert current_snapshot_version(table) == v_before + 1
    assert _rows(spark, table) == before  # contents identical
    # old version still readable (immutable files retained)
    assert _rows(spark, table, version=v_before) == before
    import json as _json
    import os as _os

    with open(_os.path.join(table, "_snapshots", f"v{v_before + 1}.json")) as f:
        m = _json.load(f)
    # one entry PER BUCKET after OPTIMIZE (bucket structure preserved)
    assert all(len(v) == 1 for v in m["files"].values())
    n_files_after = sum(
        len(glob.glob(f"{table}/{ps[0]}/*.parquet"))
        for ps in m["files"].values()
    )
    assert n_files_after < n_files_before

    # CRITICAL: a post-compaction incremental merge must still see the
    # compacted buckets (entry "0"-collapse would detach them)
    late = spark.createDataFrame([(10, 99, 1010)], "k long, seq long, v long")
    merge_upsert_manifest(late, table, ["k"], "seq")
    after = _rows(spark, table)
    assert (10, 99, 1010) in after and len(after) == len(before)


def test_vacuum_removes_only_unreferenced_files(spark, tmp_path_factory):
    import os as _os

    from tijdloze_musicbrainz_spark.operators.manifest import vacuum

    table = str(tmp_path_factory.mktemp("manifest_vac") / "t")
    for i in range(4):
        batch = spark.range(0, 40).selectExpr(
            "id as k", f"{i + 1}L as seq", f"id + {i} as v"
        )
        merge_upsert_manifest(batch, table, ["k"], "seq")
    live = _rows(spark, table)
    v = current_snapshot_version(table)

    deleted = vacuum(table, keep_versions=2)
    assert deleted  # old rewrites were garbage
    # live + previous snapshot still read fine
    assert _rows(spark, table) == live
    assert _rows(spark, table, version=v - 1)
    # vacuumed manifests are gone; time travel past retention fails loudly
    with pytest.raises(FileNotFoundError):
        read_table(spark, table, version=0)
    # deleted entries are really off disk
    assert all(not _os.path.exists(_os.path.join(table, p)) for p in deleted)
    # a further merge on the vacuumed table still works
    merge_upsert_manifest(
        spark.createDataFrame([(1, 99, 123)], "k long, seq long, v long"),
        table,
        ["k"],
        "seq",
    )
    assert (1, 99, 123) in _rows(spark, table)


def test_cdc_unknown_op_code_fails_loudly(spark, tmp_path_factory):
    """r7 ADVICE: a NON-null op outside {'I','U','D'} (lowercase 'd',
    Debezium 'c'/'u'/'r') must raise, not silently become an upsert —
    a differently-encoded delete stream turning into live rows is data
    corruption. NULL is still coerced to 'I' (r6 contract)."""
    from tijdloze_musicbrainz_spark.operators.manifest import merge_cdc_manifest

    table = str(tmp_path_factory.mktemp("manifest_badop") / "t")
    bad = spark.createDataFrame(
        [(1, 1, 10, "I"), (2, 1, 20, "d")], "k long, seq long, v long, op string"
    )
    with pytest.raises(Exception, match="unknown op code"):
        merge_cdc_manifest(bad, table, ["k"], "seq")

    ok = spark.createDataFrame(
        [(1, 1, 10, "I"), (2, 1, 20, None)], "k long, seq long, v long, op string"
    )
    merge_cdc_manifest(ok, table, ["k"], "seq")
    assert _rows(spark, table) == {(1, 1, 10), (2, 1, 20)}


def test_cdc_over_upsert_migrates_but_drift_fails(spark, tmp_path_factory):
    """r7 ADVICE: the upsert->CDC migration backfills ONLY __op; a
    genuine data-column mismatch between committed files and the batch
    must still fail loudly instead of being NULL-filled."""
    from tijdloze_musicbrainz_spark.operators.manifest import merge_cdc_manifest

    table = str(tmp_path_factory.mktemp("manifest_migrate") / "t")
    base = spark.range(10).selectExpr("id as k", "1L as seq", "id as v")
    merge_upsert_manifest(base, table, ["k"], "seq")  # files WITHOUT __op

    # CDC merge over the upsert-written table: __op backfilled as 'I'
    merge_cdc_manifest(
        spark.createDataFrame([(3, 5, 0, "D")], "k long, seq long, v long, op string"),
        table,
        ["k"],
        "seq",
    )
    now = _rows(spark, table)
    assert len(now) == 9 and all(r[0] != 3 for r in now)

    # schema drift: batch renames the data column — loud failure
    drifted = spark.createDataFrame(
        [(4, 6, 1, "U")], "k long, seq long, v2 long, op string"
    )
    with pytest.raises(Exception):
        merge_cdc_manifest(drifted, table, ["k"], "seq")


def test_upsert_over_cdc_written_table(spark, tmp_path_factory):
    """r7 ADVICE: mixed-table support is bidirectional — upserting into
    a CDC-written table (files carry __op tombstones) must merge, with
    the persisted tombstone still outranking a lower-priority upsert."""
    from tijdloze_musicbrainz_spark.operators.manifest import merge_cdc_manifest

    table = str(tmp_path_factory.mktemp("manifest_mixed") / "t")
    base = spark.range(10).selectExpr("id as k", "1L as seq", "id as v", "'I' as op")
    merge_cdc_manifest(base, table, ["k"], "seq")
    merge_cdc_manifest(
        spark.createDataFrame([(3, 5, 0, "D")], "k long, seq long, v long, op string"),
        table,
        ["k"],
        "seq",
    )

    # plain upsert into the CDC table: lower-priority write for the
    # deleted key loses to the tombstone; a fresh key lands
    merge_upsert_manifest(
        spark.createDataFrame([(3, 2, 333), (77, 1, 770)], "k long, seq long, v long"),
        table,
        ["k"],
        "seq",
    )
    now = _rows(spark, table)
    assert all(r[0] != 3 for r in now)
    assert (77, 1, 770) in now
    # higher-priority upsert DOES replace the tombstone
    merge_upsert_manifest(
        spark.createDataFrame([(3, 9, 999)], "k long, seq long, v long"),
        table,
        ["k"],
        "seq",
    )
    assert (3, 9, 999) in _rows(spark, table)


def test_merge_with_retry_survives_a_lost_race(spark, tmp_path_factory, monkeypatch):
    """r8: the optimistic-concurrency retry loop. A merge whose base
    goes STALE (the winner commits while it merges) loses under the
    lease (SnapshotConflict); the retry re-reads the winner's snapshot
    and merges over it — the final table holds BOTH writers' effects,
    no lost updates."""
    import tijdloze_musicbrainz_spark.operators.manifest as m

    table = str(tmp_path_factory.mktemp("manifest_retry") / "t")
    base = spark.range(20).selectExpr("id as k", "1L as seq", "id as v")
    merge_upsert_manifest(base, table, ["k"], "seq")  # v0

    # the "winner": a second writer commits v1 during the first attempt
    def winner():
        merge_upsert_manifest(
            spark.createDataFrame([(5, 2, 555)], "k long, seq long, v long"),
            table,
            ["k"],
            "seq",
        )

    _during_next_merge(monkeypatch, winner)
    touched = m.merge_with_retry(
        m.merge_upsert_manifest,
        spark.createDataFrame([(3, 3, 333)], "k long, seq long, v long"),
        table,
        ["k"],
        "seq",
    )
    assert touched  # the retry committed
    assert current_snapshot_version(table) == 2
    now = _rows(spark, table)
    assert (3, 3, 333) in now  # loser's batch landed
    assert (5, 2, 555) in now  # winner's update NOT clobbered
    assert len(now) == 20


def test_merge_with_retry_gives_up_after_max(spark, tmp_path_factory, monkeypatch):
    import tijdloze_musicbrainz_spark.operators.manifest as m

    table = str(tmp_path_factory.mktemp("manifest_retry2") / "t")
    merge_upsert_manifest(
        spark.range(5).selectExpr("id as k", "1L as seq", "id as v"),
        table,
        ["k"],
        "seq",
    )
    def always_conflict(*a, **k):
        raise SnapshotConflict("forced")

    with pytest.raises(SnapshotConflict):
        m.merge_with_retry(
            always_conflict,
            spark.range(1).selectExpr("id as k", "1L as seq", "id as v"),
            table,
            ["k"],
            "seq",
            max_retries=2,
        )


def test_merge_with_retry_rejects_negative_max(spark, tmp_path_factory):
    """r9 (r8 ADVICE): max_retries < 0 used to skip the loop entirely
    and `raise None` (TypeError) — now a loud ValueError."""
    import tijdloze_musicbrainz_spark.operators.manifest as m

    table = str(tmp_path_factory.mktemp("manifest_retry3") / "t")
    with pytest.raises(ValueError, match="max_retries"):
        m.merge_with_retry(
            m.merge_upsert_manifest,
            spark.range(1).selectExpr("id as k", "1L as seq", "id as v"),
            table,
            ["k"],
            "seq",
            max_retries=-1,
        )


def test_lost_race_leaves_no_orphan_data_files(
    spark, tmp_path_factory, monkeypatch
):
    """r9 (r8 ADVICE): a losing committer must leave nothing under
    data/ — a contended table must not grow unboundedly. The stale
    base is detected under the lease BEFORE any staged bucket is
    renamed into data/, so the loser has nothing to clean up.
    Invariant checked: after a lost race, every file under data/ is
    referenced by some manifest version."""
    import tijdloze_musicbrainz_spark.operators.manifest as m

    table = str(tmp_path_factory.mktemp("manifest_orphans") / "t")
    merge_upsert_manifest(
        spark.range(10).selectExpr("id as k", "1L as seq", "id as v"),
        table,
        ["k"],
        "seq",
    )  # v0

    # the winner commits v1 while the loser's first attempt merges
    def winner():
        merge_upsert_manifest(
            spark.createDataFrame([(5, 2, 555)], "k long, seq long, v long"),
            table,
            ["k"],
            "seq",
        )

    _during_next_merge(monkeypatch, winner)
    m.merge_with_retry(
        m.merge_upsert_manifest,
        spark.createDataFrame([(3, 3, 333)], "k long, seq long, v long"),
        table,
        ["k"],
        "seq",
    )

    _, referenced = _snapshot_files(table)
    on_disk = {f"data/{e}" for e in os.listdir(os.path.join(table, "data"))}
    orphans = on_disk - referenced
    assert not orphans, f"lost race leaked unreferenced files: {orphans}"
    # and the retry still landed both writers' effects
    rows = _rows(spark, table)
    assert (3, 3, 333) in rows and (5, 2, 555) in rows


def test_snapshot_diff_classifies_changes(spark, tmp_path_factory):
    """r8: the change-data-feed reader over retained manifests —
    insert/update/delete between two committed versions, unchanged
    keys absent."""
    from tijdloze_musicbrainz_spark.operators.manifest import (
        merge_cdc_manifest,
        snapshot_diff,
    )

    table = str(tmp_path_factory.mktemp("manifest_cdf") / "t")
    base = spark.range(10).selectExpr("id as k", "1L as seq", "id as v", "'I' as op")
    merge_cdc_manifest(base, table, ["k"], "seq")  # v0
    changes = spark.createDataFrame(
        [(3, 5, 0, "D"), (5, 2, 555, "U"), (100, 2, 42, "I")],
        "k long, seq long, v long, op string",
    )
    merge_cdc_manifest(changes, table, ["k"], "seq")  # v1

    diff = snapshot_diff(spark, table, 0, 1, ["k"])
    got = {(r.k, r.change_type) for r in diff.collect()}
    assert got == {(3, "delete"), (5, "update"), (100, "insert")}
    upd = {r.k: (r.seq, r.v) for r in diff.collect() if r.change_type == "update"}
    assert upd[5] == (2, 555)  # row as of v_to
    # self-diff is empty
    assert snapshot_diff(spark, table, 1, 1, ["k"]).count() == 0


def test_stats_skipping_prunes_and_matches_full_scan(
    spark, tmp_path_factory
):
    """commit_clustered records per-file min/max; the pruned read must
    (a) return exactly the full-scan-filtered rows, (b) open strictly
    fewer files than the table has, (c) read everything when the
    range spans all stats."""
    from pyspark.sql import functions as F

    from tijdloze_musicbrainz_spark.operators.manifest import (
        commit_clustered,
        read_table_stats_pruned,
    )

    table = str(tmp_path_factory.mktemp("manifest_stats") / "t")
    df = spark.range(100).select(
        F.col("id").alias("k"),
        (F.col("id") % 10).cast("int").alias("fkey"),
        F.format_string("%03d", F.col("id")).alias("s"),
    )
    v = commit_clustered(df, table, "fkey", ["s"])
    assert v == 0

    pruned, n_read, n_total = read_table_stats_pruned(
        spark, table, "s", "020", "034"
    )
    assert n_total == 10
    # ids 20..34 live in fkey buckets {0..9} by id%10 — every bucket
    # holds ids spanning the full range (000..09x per bucket? no:
    # bucket b holds ids b, b+10, ... so s-ranges overlap broadly).
    got = sorted(
        r.k
        for r in pruned.filter(
            (F.col("s") >= "020") & (F.col("s") <= "034")
        ).collect()
    )
    assert got == list(range(20, 35))

    # a layout actually clustered on s: fkey = id // 10 gives disjoint
    # per-file ranges, so the same predicate prunes to exactly 2 files
    table2 = str(tmp_path_factory.mktemp("manifest_stats") / "t2")
    df2 = spark.range(100).select(
        F.col("id").alias("k"),
        (F.col("id") / 10).cast("int").alias("fkey"),
        F.format_string("%03d", F.col("id")).alias("s"),
    )
    commit_clustered(df2, table2, "fkey", ["s"])
    pruned2, n_read2, n_total2 = read_table_stats_pruned(
        spark, table2, "s", "020", "034"
    )
    assert (n_read2, n_total2) == (2, 10)
    got2 = sorted(
        r.k
        for r in pruned2.filter(
            (F.col("s") >= "020") & (F.col("s") <= "034")
        ).collect()
    )
    assert got2 == list(range(20, 35))

    # full-range read touches everything
    _, n_all, _ = read_table_stats_pruned(spark, table2, "s", "000", "099")
    assert n_all == 10
    # disjoint range reads nothing
    none_df, n_none, _ = read_table_stats_pruned(
        spark, table2, "s", "500", "900"
    )
    assert none_df is None and n_none == 0


def test_stats_skipping_null_bounds_read_conservatively(
    spark, tmp_path_factory
):
    """A file whose stats column is all NULL has NULL bounds and must
    never be pruned (its rows might matter to a later residual
    predicate on another column); NULL rows inside a kept file simply
    fail the residual predicate."""
    from pyspark.sql import functions as F

    from tijdloze_musicbrainz_spark.operators.manifest import (
        commit_clustered,
        read_table_stats_pruned,
    )

    table = str(tmp_path_factory.mktemp("manifest_stats_null") / "t")
    df = spark.range(20).select(
        F.col("id").alias("k"),
        (F.col("id") / 10).cast("int").alias("fkey"),
        F.when(F.col("id") < 10, F.format_string("%03d", F.col("id"))).alias(
            "s"
        ),
    )
    commit_clustered(df, table, "fkey", ["s"])
    pruned, n_read, n_total = read_table_stats_pruned(
        spark, table, "s", "000", "005"
    )
    # file 0 intersects; file 1 (all-NULL s) must be read conservatively
    assert (n_read, n_total) == (2, 2)
    got = sorted(
        r.k
        for r in pruned.filter(
            (F.col("s") >= "000") & (F.col("s") <= "005")
        ).collect()
    )
    assert got == list(range(6))


def test_stats_pruned_read_time_travels(spark, tmp_path_factory):
    """read_table_stats_pruned honors explicit versions and refuses
    uncommitted ones, same contract as read_table."""
    import pytest
    from pyspark.sql import functions as F

    from tijdloze_musicbrainz_spark.operators.manifest import (
        commit_clustered,
        read_table_stats_pruned,
    )

    table = str(tmp_path_factory.mktemp("manifest_stats_tt") / "t")
    df = spark.range(10).select(
        F.col("id").alias("k"),
        F.lit(0).cast("int").alias("fkey"),
        F.format_string("%03d", F.col("id")).alias("s"),
    )
    commit_clustered(df, table, "fkey", ["s"])
    with pytest.raises(ValueError, match="not committed"):
        read_table_stats_pruned(spark, table, "s", "000", "001", version=5)
    got, n_read, n_total = read_table_stats_pruned(
        spark, table, "s", "000", "001", version=0
    )
    assert (n_read, n_total) == (1, 1)
    assert got.count() == 10


def test_compact_recomputes_stats_when_asked(spark, tmp_path_factory):
    """compact(stats_cols=...) must carry data-skipping stats into the
    rewritten manifest so pruned reads keep pruning; without the
    argument the new version has no stats and reads degrade to
    conservative full scans (still correct, never wrong)."""
    from pyspark.sql import functions as F

    from tijdloze_musicbrainz_spark.operators.manifest import (
        commit_clustered,
        compact,
        read_table_stats_pruned,
    )

    table = str(tmp_path_factory.mktemp("manifest_compact_stats") / "t")
    df = spark.range(100).select(
        F.col("id").alias("k"),
        (F.col("id") / 10).cast("int").alias("fkey"),
        F.format_string("%03d", F.col("id")).alias("s"),
    )
    commit_clustered(df, table, "fkey", ["s"])

    v = compact(table, spark, stats_cols=["s"])
    assert v == 1
    pruned, n_read, n_total = read_table_stats_pruned(
        spark, table, "s", "020", "034"
    )
    assert (n_read, n_total) == (2, 10)
    got = sorted(
        r.k
        for r in pruned.filter(
            (F.col("s") >= "020") & (F.col("s") <= "034")
        ).collect()
    )
    assert got == list(range(20, 35))

    # compact WITHOUT stats_cols: skipping degrades conservatively
    v2 = compact(table, spark)
    assert v2 == 2
    _, n_read2, n_total2 = read_table_stats_pruned(
        spark, table, "s", "020", "034"
    )
    assert (n_read2, n_total2) == (10, 10)


def test_real_two_writer_race_serializes_and_leaks_nothing(
    spark, tmp_path_factory
):
    """r9: an ACTUAL concurrent race — two threads merge different keys
    into the same table simultaneously through merge_with_retry (no
    monkeypatching). Whatever the interleaving: both batches land,
    version count equals commit count, every manifest references only
    files that exist, and no file under data/ is unreferenced (the
    loser's cleanup really runs under contention)."""
    import threading

    import tijdloze_musicbrainz_spark.operators.manifest as m

    table = str(tmp_path_factory.mktemp("manifest_race") / "t")
    merge_upsert_manifest(
        spark.range(50).selectExpr("id as k", "1L as seq", "id as v"),
        table,
        ["k"],
        "seq",
    )  # v0

    errors: list[BaseException] = []

    def writer(lo: int):
        try:
            batch = spark.createDataFrame(
                [(lo + i, 2, 7000 + lo + i) for i in range(5)],
                "k long, seq long, v long",
            )
            m.merge_with_retry(
                m.merge_upsert_manifest, batch, table, ["k"], "seq",
                max_retries=10,
            )
        except BaseException as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [threading.Thread(target=writer, args=(lo,)) for lo in (100, 200)]
    for t_ in threads:
        t_.start()
    for t_ in threads:
        t_.join()
    assert not errors, errors

    rows = _rows(spark, table)
    for lo in (100, 200):
        for i in range(5):
            assert (lo + i, 2, 7000 + lo + i) in rows
    assert len(rows) == 60

    # manifest/file-system invariants under contention
    versions, referenced = _snapshot_files(table)
    assert versions == list(range(len(versions)))  # dense, no gaps
    assert current_snapshot_version(table) == versions[-1]
    for e in referenced:
        assert os.path.exists(os.path.join(table, e)), e
    on_disk = {f"data/{e}" for e in os.listdir(os.path.join(table, "data"))}
    assert on_disk <= referenced, f"orphans: {on_disk - referenced}"


def test_stale_writer_conflicts_after_vacuum_and_keeps_the_table(
    spark, tmp_path_factory, monkeypatch
):
    """A writer that read v0 must not commit over a table that moved
    on — even once vacuum has dropped the manifest its version number
    would collide with. While writer A merges over v0, writer B
    commits v1 and v2 and vacuums with keep 1 (v0/v1 manifests and
    their superseded data gone). A's commit must raise
    SnapshotConflict under the lease: the pointer stays at v2 and the
    table still reads. (A version-file create alone passes here —
    v1.json no longer exists — and rolls the pointer back to a
    manifest naming vacuumed files.)"""
    from tijdloze_musicbrainz_spark.operators.manifest import vacuum

    table = str(tmp_path_factory.mktemp("manifest_stale") / "t")
    merge_upsert_manifest(
        spark.range(20).selectExpr("id as k", "1L as seq", "id as v"),
        table,
        ["k"],
        "seq",
    )  # v0

    def writer_b():
        for row in ((5, 2, 555), (6, 3, 666)):
            merge_upsert_manifest(
                spark.createDataFrame([row], "k long, seq long, v long"),
                table,
                ["k"],
                "seq",
            )
        assert vacuum(table, keep_versions=1)

    _during_next_merge(monkeypatch, writer_b)
    with pytest.raises(SnapshotConflict):
        merge_upsert_manifest(
            spark.createDataFrame([(3, 9, 333)], "k long, seq long, v long"),
            table,
            ["k"],
            "seq",
        )
    assert current_snapshot_version(table) == 2
    rows = _rows(spark, table)
    assert len(rows) == 20
    assert (5, 2, 555) in rows and (6, 3, 666) in rows
    assert (3, 9, 333) not in rows
