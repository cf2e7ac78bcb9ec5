"""Tests of the benchmark's own code.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import layers  # noqa: E402
import run  # noqa: E402

# ----------------------------------------------------------- tail percentile


@pytest.mark.parametrize(
    ("n", "rank", "percentile"),
    [(0, None, None), (10, None, None), (11, 0, 100 / 11), (20, 9, 50.0), (100, 89, 90.0)],
)
def test_tail_needs_ten_samples_beyond(n, rank, percentile):
    assert layers.tail_rank(n) == rank
    samples = [float(v) for v in reversed(range(n))]
    got = layers.tail(samples)
    if rank is None:
        assert got is None
    else:
        value, pct = got
        assert value == float(rank)
        assert sum(s > value for s in samples) == 10
        assert pct == pytest.approx(percentile)


# ---------------------------------------------------------------- self time


def test_self_time_subtracts_the_union_of_clipped_children():
    span = (0.0, 10.0)
    children = [(1.0, 3.0), (2.0, 5.0), (8.0, 12.0), (-1.0, 0.5), (11.0, 13.0)]
    # covered: [0, 0.5] + [1, 5] + [8, 10] = 6.5; (11, 13) lies outside
    assert layers.covered(span, children) == pytest.approx(6.5)
    assert layers.self_time(span, children) == pytest.approx(3.5)
    assert layers.self_time(span, []) == pytest.approx(10.0)
    assert layers.self_time(span, [(-5.0, 20.0)]) == pytest.approx(0.0)


def test_union_length_of_nested_and_touching_intervals():
    assert layers.union_length([(0, 4), (1, 2), (4, 6), (7, 8)]) == 7
    assert layers.union_length([]) == 0


# ---------------------------------------------------------------- event log


# The tiny Spark run happens in a child process, so the test owns its JVM
# and leaves no session behind in the process that runs the tests.
_TINY_RUN = textwrap.dedent(
    """
    import sys
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-eventlog-test")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", "file://" + sys.argv[1])
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.sql.shuffle.partitions", "3")
        .getOrCreate()
    )
    try:
        sc = spark.sparkContext
        sc.setJobGroup("jvm", "two shuffled jobs")
        df = spark.range(0, 1000, numPartitions=2)
        df.groupBy((df.id % 7).alias("k")).count().collect()
        df.repartition(4).count()
        sc.setJobGroup("python", "one pandas stage")

        def double(batches):
            for b in batches:
                yield b * 2

        df.mapInPandas(double, "id long").write.format("noop").mode("overwrite").save()
    finally:
        spark.stop()
    """
)


def test_event_log_parser_on_a_tiny_run(tmp_path):
    log_dir = tmp_path / "events"
    log_dir.mkdir()
    subprocess.run(
        [sys.executable, "-c", _TINY_RUN, str(log_dir)],
        check=True,
        cwd=tmp_path,
        timeout=300,
    )
    (log,) = os.listdir(log_dir)
    groups = layers.parse_event_log(str(log_dir / log))

    jvm, py = groups["jvm"], groups["python"]
    assert len(jvm["jobs"]) >= 2
    assert all(end >= start for start, end in jvm["jobs"])
    assert jvm["tasks"]["n"] >= 2 + 3  # map tasks plus reduce tasks
    assert jvm["tasks"]["stages"] >= 2
    assert jvm["tasks"]["shuffle_write_mb"] > 0
    assert jvm["tasks"]["shuffle_read_mb"] > 0
    assert jvm["tasks"].get("python_stage_run_s", 0.0) == 0.0
    assert py["tasks"]["n"] == 2
    assert py["tasks"]["python_stage_run_s"] == pytest.approx(py["tasks"]["run_s"])
    assert py["tasks"]["cpu_s"] > 0


# ----------------------------------------------------------- store-IO proxy


def _store_script(io, root: str) -> list:
    """Every store-IO primitive, including the losing branches."""
    p = f"{root}/idx/_CURRENT"
    lock = f"{root}/idx/_LOCK"
    return [
        io.get_text(p),
        io.list_names(f"{root}/idx"),
        io.put_atomic(p, "v1"),
        io.get_text(p),
        io.put_if_absent(lock, "owner-a"),
        io.put_if_absent(lock, "owner-b"),
        io.replace_if_match(lock, "owner-b", "owner-c"),
        io.replace_if_match(lock, "owner-a", "owner-a2"),
        io.get_text(lock),
        io.delete_if_match(lock, "owner-a"),
        io.delete_if_match(lock, "owner-a2"),
        io.delete(lock),
        io.delete(f"{root}/idx"),
        sorted(io.list_names(f"{root}/idx")),
        io.put_atomic(f"{root}/old/part-0", "x"),
        io.delete_prefix(f"{root}/old"),
        io.delete_prefix(f"{root}/never"),
        io.list_names(f"{root}/old"),
    ]


def _tree(root: str) -> dict[str, str]:
    out = {}
    for base, _, files in os.walk(root):
        for f in files:
            path = os.path.join(base, f)
            with open(path) as fh:
                out[os.path.relpath(path, root)] = fh.read()
    return out


def test_counting_store_io_returns_exactly_what_local_store_io_returns(tmp_path):
    from tijdloze_musicbrainz_spark.sources.store_io import LocalStoreIO

    plain_root, counted_root = str(tmp_path / "plain"), str(tmp_path / "counted")
    proxy = layers.CountingStoreIO(LocalStoreIO())
    plain = _store_script(LocalStoreIO(), plain_root)
    counted = _store_script(proxy, counted_root)

    assert counted == plain
    assert _tree(counted_root) == _tree(plain_root)
    c = proxy.snapshot()
    assert c["calls"] == len(plain)
    assert c["writes"] == 6  # 2 put_atomic, 2 put_if_absent, 2 replace_if_match
    assert c["deletes"] == 6
    assert c["lists"] == 3
    assert (c["cond_attempts"], c["cond_won"]) == (6, 3)
    assert c["s"] > 0


def test_counting_store_io_forwards_other_attributes():
    class Inner:
        bucket = "b1"

        def __getattr__(self, name):
            return lambda *a: (name, a)

    proxy = layers.CountingStoreIO(Inner())
    assert proxy.bucket == "b1"
    assert proxy.get_text("k") == ("get_text", ("k",))
    assert proxy.snapshot()["calls"] == 1


# ------------------------------------------------------------ process tree


def test_memory_tree_leaves_out_jvm_helper_forks(monkeypatch):
    table = {
        10: (1, "python3"),  # benchmark driver
        11: (10, "java"),  # the JVM
        12: (11, "python3"),  # Python worker daemon
        13: (12, "python3"),  # a forked worker
        14: (11, "java"),  # chmod spawn before its exec
        15: (11, "chmod"),
        20: (1, "bash"),  # not ours
    }
    monkeypatch.setattr(layers, "_proc_table", lambda: table)
    assert sorted(layers.process_tree(10)) == [10, 11, 12, 13, 14, 15]
    assert sorted(layers.process_tree(10, memory_only=True)) == [10, 11, 12, 13]


def test_tree_cpu_counts_children_after_they_exit():
    burn = "s = 0\nfor i in range(3_000_000):\n    s += i"
    before = layers.tree_cpu_s(os.getpid())
    subprocess.run([sys.executable, "-c", burn], check=True)
    assert layers.tree_cpu_s(os.getpid()) - before >= 0.05


# ------------------------------------------------------------------ inputs


def test_shipped_inputs_match_their_checksums_and_the_catalog_schemas(tmp_path):
    import pyarrow.parquet as pq

    from tijdloze_musicbrainz_spark.catalog import SCHEMAS

    run._copy_inputs(str(tmp_path))
    assert sorted(os.listdir(tmp_path)) == sorted(f"{t}.parquet" for t in run.TABLES)
    for t in run.TABLES:
        names = pq.read_schema(tmp_path / f"{t}.parquet").names
        assert names == [f.name for f in SCHEMAS[t].fields]


def test_a_changed_input_is_refused(tmp_path, monkeypatch):
    data = tmp_path / "data"
    data.mkdir()
    for t in run.TABLES:
        (data / f"{t}.parquet").write_bytes(b"")
    (data / "SHA256SUMS").write_text("")
    monkeypatch.setattr(run, "DATA", str(data))
    with pytest.raises(RuntimeError, match="SHA256SUMS"):
        run._copy_inputs(str(tmp_path / "out"))
