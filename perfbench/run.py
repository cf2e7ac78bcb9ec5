"""Closed-loop benchmark of the engine's workloads (see README.md here).

    python3 perfbench/run.py --workload etl_export --seed 1 --seconds 1 --trace 0

One client on ``local[<cpus>]`` runs the workload's registered queries one
after another. One op is ``REGISTRY[name].builder(spark, data_dir)`` followed
by a noop-sink write; one pass runs every op once, in an order drawn from the
seed. After set-up (session, catalog, one warm-up pass) the run measures whole
passes until ``--seconds`` have passed. The warm-up pass collects each op's
output, which is checked against the op's DuckDB oracle after Spark stops.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``). The line before it carries the run's detail:
sample counts, op order, session config, host probe and verification.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import random
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import layers  # noqa: E402

WORKLOADS: dict[str, list[str]] = {
    # the paper's dataset-generation job: shuffles, aggregates and the
    # canonical argmin; driver plan construction in mb_pipeline_scale
    "etl_export": [
        "mb_pipeline_scale",
        "flagship_canonical_order",
        "j_multiway_candidates",
        "set_union_distinct_aliases",
    ],
    # the paper's read path: short ops, many small jobs, one op reading the
    # materialized catalog and one rebuilding it inline
    "search_read": [
        "fuzzy_search_precomputed",
        "fuzzy_two_phase_search",
        "fuzzy_artist_resolve",
        "fuzzy_duet_split_resolve",
        "benchmark_accuracy_replay_e2e",
        "p_levenshtein_bounded",
    ],
    # write beside read: band-index build, append, compaction, snapshot
    # commit, leased vacuum and probe in one op; the only workload that goes
    # through the store-IO seam
    "index_lifecycle": ["dedup_minhash_vacuum"],
}

SF = 0.01
# the project's sf0.01 test tables, copied byte for byte (see SHA256SUMS)
DATA = os.path.join(HERE, "data", f"sf{SF}")
TABLES = (
    "region nation customer supplier part orders lineitem documents embeddings"
).split()
DRIVER_MEM = "2g"
# The heap is neither pre-sized nor pre-touched, so resident memory follows
# what the JVM uses. These G1 settings make that use depend on the work
# rather than on host contention: a fixed young generation, no heap growth
# because GC pauses ran long (GCTimeRatio=1 allows up to half the time in
# GC before growing), and concurrent marking started at a fixed occupancy.
# The heap then grows only when the data that survives needs room.
HEAP_OPTS = "-Xmn512m -XX:GCTimeRatio=1 -XX:-G1UseAdaptiveIHOP"
# Timed passes a run makes at least. An index_lifecycle pass is short and
# its first timed pass is mostly JIT compilation, whose CPU cost rises with
# host contention; the median of three passes follows it less.
MIN_PASSES = {"index_lifecycle": 3}
# stop measuring when another pass could push the run past this age
MAX_RUN_AGE_S = 150.0
SINK_PHASES = ("build", "exec")

# Wall times follow how much CPU the hypervisor gives this guest, which
# swings between runs by more than a regression bound can absorb; CPU
# seconds of the process tree do not count that steal. So the bounded set-up
# and pass metrics are CPU seconds (setup_s, pass_cpu_s), and the wall-time
# figures (setup_wall_s, pass_s, op_geomean_s, op_p50_s, op_tail) go to the
# detail line.
END_TO_END_UNITS = {
    "setup_s": "s",
    "pass_cpu_s": "s",
    "rss_peak_mb": "MB",
}


def _log(start: float, msg: str) -> None:
    print(f"[perfbench {time.monotonic() - start:7.2f}s] {msg}", file=sys.stderr, flush=True)


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _isolate(run_root: str) -> dict[str, str]:
    """Fresh state roots for this run, exported before the package (which
    reads them at import) and the JVM (which inherits them) start."""
    env = {
        "SPARK_GRAFT_SINK_DIR": f"{run_root}/sink",
        "SPARK_GRAFT_MAT_DIR": f"{run_root}/materialized",
        "SPARK_GRAFT_WAREHOUSE": f"{run_root}/warehouse",
        "SPARK_LOCAL_DIRS": f"{run_root}/local",
        "TMPDIR": f"{run_root}/tmp",
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_CPUS": str(_cpus()),
    }
    for path in ("sink", "materialized", "warehouse", "local", "tmp", "eventlog"):
        os.makedirs(f"{run_root}/{path}", exist_ok=True)
    os.environ.update(env)
    return env


def _session_conf(run_root: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"{HEAP_OPTS} -Djava.io.tmpdir={run_root}/tmp",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{run_root}/eventlog",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def _dir_mb(path: str) -> float:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(base, f))
            except OSError:
                pass
    return total / (1 << 20)


def _stop_spark(spark) -> None:
    """Stop the session and the JVM, then wait for every child process."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while len(layers.process_tree(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in layers.process_tree(os.getpid())[1:]:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def _copy_inputs(dst: str) -> None:
    """Copy the input tables into the run's root, after checking each
    against its recorded SHA-256, so no op can touch the shipped copy."""
    os.makedirs(dst, exist_ok=True)
    with open(os.path.join(DATA, "SHA256SUMS")) as f:
        sums = dict(reversed(line.split()) for line in f if line.strip())
    for t in TABLES:
        src = os.path.join(DATA, f"{t}.parquet")
        with open(src, "rb") as f:
            digest = hashlib.sha256(f.read()).hexdigest()
        if digest != sums.get(f"{t}.parquet"):
            raise RuntimeError(f"input table {src} does not match SHA256SUMS")
        shutil.copyfile(src, os.path.join(dst, f"{t}.parquet"))


def _noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _collect(df) -> tuple[list[str], list]:
    return df.columns, df.collect()


class Run:
    """One benchmark run: set-up, warm-up with verification, timed passes."""

    def __init__(self, args, run_root: str, start: float):
        self.args = args
        self.trace = bool(args.trace)
        self.run_root = run_root
        self.data_dir = f"{run_root}/data"
        self.start = start  # monotonic time of process start
        self.ops = WORKLOADS[args.workload]
        self.rng = random.Random(args.seed)
        # benchmark work inside the set-up window, left out of its metrics
        self.harness_s = 0.0
        self.harness_cpu_s = 0.0
        self.attempted = 0
        self.failed: list[str] = []
        self.verify_rows: dict[str, tuple] = {}
        self.samples: dict[str, list[float]] = {n: [] for n in self.ops}
        self.pass_s: list[float] = []
        self.pass_cpu_s: list[float] = []
        self.orders: list[list[str]] = []
        self.layer: dict = {}
        self.op_rows: dict[str, list[dict]] = {n: [] for n in self.ops}
        self.store_io = None
        self.store_io_passes: list[dict] = []
        self.sink_mb: list[float] = []

    @contextlib.contextmanager
    def harness(self):
        """Count the enclosed work as the benchmark's, not the engine's."""
        wall, cpu = time.monotonic(), time.process_time()
        try:
            yield
        finally:
            self.harness_s += time.monotonic() - wall
            self.harness_cpu_s += time.process_time() - cpu

    # -- ops ---------------------------------------------------------------

    def _group(self, pass_id: str, name: str, phase: str) -> str:
        return f"{pass_id}|{name}|{phase}"

    def op(self, spark, name: str, pass_id: str, action=_noop_write):
        """Build one op and run ``action`` on its DataFrame; returns (the
        action's result, build span, exec span) with spans as epoch seconds,
        or None when it raised."""
        sc = spark.sparkContext
        builder = self.registry[name].builder
        self.attempted += 1
        try:
            if self.trace:
                sc.setJobGroup(self._group(pass_id, name, "build"), name)
            t0 = time.time()
            df = builder(spark, self.data_dir)
            t1 = time.time()
            if self.trace:
                sc.setJobGroup(self._group(pass_id, name, "exec"), name)
            out = action(df)
            t2 = time.time()
        except Exception as exc:  # noqa: BLE001
            self.failed.append(f"{pass_id}:{name}: {type(exc).__name__}: {exc}"[:300])
            return None
        finally:
            if self.trace:
                sc.setJobGroup(self._group(pass_id, name, "other"), name)
        return out, (t0, t1), (t1, t2)

    def keep_for_verify(self, name: str, cols: list[str], rows: list) -> None:
        """Canonicalize an op's collected rows for the oracle comparison."""
        from full_sweep import canon

        with self.harness():
            cols = sorted(cols)
            self.verify_rows[name] = (
                cols,
                sorted((tuple(canon(r[c]) for c in cols) for r in rows), key=repr),
            )

    # -- phases ------------------------------------------------------------

    def setup(self):
        with self.harness():
            _copy_inputs(self.data_dir)

        sys.path.insert(0, REPO)
        sys.path.insert(0, os.path.join(REPO, "tools"))
        from tijdloze_musicbrainz_spark.catalog import load_tables
        from tijdloze_musicbrainz_spark.plans import REGISTRY, replay
        from tijdloze_musicbrainz_spark.session import get_spark
        from tijdloze_musicbrainz_spark.sources import store_io

        self.registry = REGISTRY
        # the replay query writes its golden CSV to a fixed path; keep it
        # inside the run's private root
        replay._CSV_DIR = f"{self.run_root}/fixtures"
        replay._CSV_PATH = f"{replay._CSV_DIR}/golden_replay.csv"

        conf = _session_conf(self.run_root, self.trace)
        t0 = time.monotonic()
        spark = get_spark("perfbench", extra_conf=conf)
        self.layer["session.get_spark_s"] = time.monotonic() - t0
        spark.sparkContext.setLogLevel("ERROR")
        keys = sorted(
            {k for k, _ in spark.sparkContext.getConf().getAll()}
            & {
                "spark.master",
                "spark.driver.memory",
                "spark.sql.shuffle.partitions",
                "spark.sql.adaptive.enabled",
                "spark.sql.session.timeZone",
                "spark.sql.execution.arrow.pyspark.enabled",
                "spark.sql.files.maxPartitionBytes",
                "spark.eventLog.enabled",
                "spark.driver.extraJavaOptions",
            }
        )
        self.session_conf = {k: spark.conf.get(k) for k in keys}

        t0 = time.monotonic()
        load_tables(spark, self.data_dir, tuple(TABLES))
        self.layer["catalog.load_tables_s"] = time.monotonic() - t0

        if self.trace:
            self.store_io = layers.CountingStoreIO(store_io.get_store_io())
            store_io.set_store_io(self.store_io)

        warm_build = 0.0
        order = self.rng.sample(self.ops, len(self.ops))
        self.orders.append(order)
        for name in order:
            # the warm-up's action is the collect whose rows are verified;
            # for these outputs it costs about what the noop write does
            res = self.op(spark, name, "warmup", action=_collect)
            if res is not None:
                (cols, rows), build, _ = res
                warm_build += build[1] - build[0]
                self.keep_for_verify(name, cols, rows)
        self.layer["plans.warmup_build_s"] = warm_build
        return spark

    def measure(self, spark) -> None:
        t_loop = time.monotonic()
        p = 0
        min_passes = MIN_PASSES.get(self.args.workload, 1)
        while p < min_passes or time.monotonic() - t_loop < self.args.seconds:
            if p and time.monotonic() - self.start + self.pass_s[-1] > MAX_RUN_AGE_S:
                break
            order = self.rng.sample(self.ops, len(self.ops))
            self.orders.append(order)
            io0 = self.store_io.snapshot() if self.store_io else {}
            cpu0 = layers.tree_cpu_s(os.getpid())
            t_pass = time.monotonic()
            for name in order:
                res = self.op(spark, name, f"p{p}")
                if res is None:
                    continue
                _, build, run = res
                self.samples[name].append(run[1] - build[0])
                self.op_rows[name].append({"pass": f"p{p}", "build": build, "exec": run})
            self.pass_s.append(time.monotonic() - t_pass)
            self.pass_cpu_s.append(layers.tree_cpu_s(os.getpid()) - cpu0)
            if self.store_io:
                io1 = self.store_io.snapshot()
                self.store_io_passes.append(
                    {k: io1.get(k, 0.0) - io0.get(k, 0.0) for k in io1}
                )
                self.sink_mb.append(_dir_mb(os.environ["SPARK_GRAFT_SINK_DIR"]))
            p += 1

    def verify(self) -> dict[str, str]:
        """Compare each collected output with its DuckDB oracle."""
        import duckdb
        from full_sweep import canon

        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'"
            )
        status = {}
        for name in self.ops:
            if name not in self.verify_rows:
                status[name] = "not collected"
                continue
            scols, srows = self.verify_rows[name]
            try:
                rel = con.execute(self.registry[name].oracle)
            except duckdb.Error as exc:
                status[name] = f"oracle failed: {exc}"[:300]
                continue
            cols0 = [d[0] for d in rel.description]
            idx = [cols0.index(c) for c in sorted(cols0)]
            drows = sorted(
                (tuple(canon(r[i]) for i in idx) for r in rel.fetchall()), key=repr
            )
            if scols != sorted(cols0):
                status[name] = "columns differ"
            elif srows != drows:
                status[name] = f"rows differ ({len(srows)} vs {len(drows)})"
            else:
                status[name] = f"ok ({len(srows)} rows)"
        for name, s in status.items():
            if not s.startswith("ok"):
                self.failed.append(f"verify:{name}: {s}")
        return status

    # -- metrics -----------------------------------------------------------

    def end_to_end(
        self, setup_cpu_s: float, setup_wall_s: float, rss_peak_mb: float
    ) -> tuple[dict, dict]:
        pooled = [s for v in self.samples.values() for s in v]
        medians = [layers.median(v) for v in self.samples.values() if v]
        values = {
            "setup_s": setup_cpu_s,
            "setup_wall_s": setup_wall_s,
            "pass_s": layers.median(self.pass_s),
            "pass_cpu_s": layers.median(self.pass_cpu_s),
            "op_geomean_s": layers.geomean(medians),
            "op_p50_s": layers.median(pooled),
            "rss_peak_mb": rss_peak_mb,
        }
        tail = layers.tail(pooled)
        extra = {
            "end_to_end": values,
            "pass_cpu_s_each": self.pass_cpu_s,
            "samples": {
                "setup_s": 1,
                "pass_s": len(self.pass_s),
                "op_geomean_s": {n: len(v) for n, v in self.samples.items()},
                "op_p50_s": len(pooled),
            },
            "op_tail": (
                {"value_s": tail[0], "percentile": round(tail[1], 1), "n": len(pooled)}
                if tail
                else {"value_s": None, "n": len(pooled), "why": "10 or fewer op samples"}
            ),
            "op_median_s": {n: layers.median(v) for n, v in self.samples.items() if v},
            "op_build_exec_s": {
                n: [
                    layers.median([r[ph][1] - r[ph][0] for r in rows]) for ph in SINK_PHASES
                ]
                for n, rows in self.op_rows.items()
                if rows
            },
        }
        return values, extra

    def per_layer(self, event_log: str) -> tuple[dict, dict]:
        """Per-pass means over the timed passes, from the event log, the
        op spans and the store-IO proxy."""
        groups = layers.parse_event_log(event_log)
        n = len(self.pass_s)
        acc: dict[str, float] = {
            k: 0.0
            for k in (
                "plans.build_s",
                "plans.build_jobs",
                "plans.build_tasks",
                "plans.build_job_s",
                "plans.build_driver_s",
                "exec.s",
                "exec.jobs",
                "exec.stages",
                "exec.tasks",
                "exec.driver_s",
            )
        }
        task_keys = (
            "cpu_s",
            "run_s",
            "shuffle_write_mb",
            "shuffle_read_mb",
            "input_mb",
            "output_mb",
            "spill_mb",
            "gc_s",
            "python_stage_run_s",
        )
        tasks = {f"tasks.{k}": 0.0 for k in task_keys}
        table = {}
        for name, rows in self.op_rows.items():
            per_op = []
            for row in rows:
                cells = {}
                for phase in SINK_PHASES:
                    g = groups.get(self._group(row["pass"], name, phase), {})
                    jobs = g.get("jobs", [])
                    span = row[phase]
                    wall = span[1] - span[0]
                    t = g.get("tasks", {})
                    cells[phase] = {
                        "s": wall,
                        "jobs": len(jobs),
                        "stages": t.get("stages", 0),
                        "tasks": t.get("n", 0),
                        "job_s": layers.covered(span, jobs),
                        "driver_s": layers.self_time(span, jobs),
                    }
                    for k in task_keys:
                        tasks[f"tasks.{k}"] += t.get(k, 0.0)
                b, e = cells["build"], cells["exec"]
                acc["plans.build_s"] += b["s"]
                acc["plans.build_jobs"] += b["jobs"]
                acc["plans.build_tasks"] += b["tasks"]
                acc["plans.build_job_s"] += b["job_s"]
                acc["plans.build_driver_s"] += b["driver_s"]
                acc["exec.s"] += e["s"]
                acc["exec.jobs"] += e["jobs"]
                acc["exec.stages"] += e["stages"]
                acc["exec.tasks"] += e["tasks"]
                acc["exec.driver_s"] += e["driver_s"]
                per_op.append(cells)
            if per_op:
                table[name] = {
                    "build_s": layers.median([c["build"]["s"] for c in per_op]),
                    "build_jobs": layers.median([c["build"]["jobs"] for c in per_op]),
                    "exec_s": layers.median([c["exec"]["s"] for c in per_op]),
                    "exec_jobs": layers.median([c["exec"]["jobs"] for c in per_op]),
                }
        io = {k: sum(p.get(k, 0.0) for p in self.store_io_passes) for k in (
            "calls", "s", "writes", "lists", "deletes", "cond_attempts", "cond_won"
        )}
        values = dict(self.layer)
        values.update({k: v / n for k, v in acc.items()})
        values.update({k: v / n for k, v in tasks.items()})
        for k in ("calls", "s", "writes", "lists", "deletes"):
            values[f"store_io.{k}"] = io[k] / n
        values["store_io.cond_won_ratio"] = (
            io["cond_won"] / io["cond_attempts"] if io["cond_attempts"] else 0.0
        )
        values["disk.sink_mb"] = layers.median(self.sink_mb)
        values["trace.pass_s"] = layers.median(self.pass_s)
        unattributed = groups.get(None, {}).get("jobs", [])
        return values, {"op_table": table, "jobs_outside_groups": len(unattributed)}


LAYER_UNITS = {
    "session.get_spark_s": "s",
    "catalog.load_tables_s": "s",
    "plans.warmup_build_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.build_tasks": "count",
    "plans.build_job_s": "s",
    "plans.build_driver_s": "s",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.driver_s": "s",
    "tasks.cpu_s": "s",
    "tasks.run_s": "s",
    "tasks.shuffle_write_mb": "MB",
    "tasks.shuffle_read_mb": "MB",
    "tasks.input_mb": "MB",
    "tasks.output_mb": "MB",
    "tasks.spill_mb": "MB",
    "tasks.gc_s": "s",
    "tasks.python_stage_run_s": "s",
    "store_io.calls": "count",
    "store_io.s": "s",
    "store_io.writes": "count",
    "store_io.lists": "count",
    "store_io.deletes": "count",
    "store_io.cond_won_ratio": "ratio",
    "disk.sink_mb": "MB",
    "trace.pass_s": "s",
}


def _print_op_table(table: dict) -> None:
    print("| query | build s | build jobs | exec s | exec jobs |", file=sys.stderr)
    print("|---|---|---|---|---|", file=sys.stderr)
    for name, r in sorted(table.items(), key=lambda kv: -kv[1]["build_s"]):
        print(
            f"| {name} | {r['build_s']:.2f} | {r['build_jobs']:g} | "
            f"{r['exec_s']:.2f} | {r['exec_jobs']:g} |",
            file=sys.stderr,
        )


def main() -> int:
    ap = argparse.ArgumentParser(description="closed-loop engine benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--op-table",
        action="store_true",
        help="with --trace 1: print the per-op build/exec table to stderr",
    )
    args = ap.parse_args()
    start = time.monotonic() - layers.process_age_s()
    if not os.path.isdir(os.path.join(REPO, "tijdloze_musicbrainz_spark")):
        print("engine package not found beside the benchmark", file=sys.stderr)
        return 2

    sampler = layers.RssSampler(os.getpid())
    sampler.start()
    run_root = os.path.join(HERE, ".runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_root, ignore_errors=True)
    env = _isolate(run_root)
    run = Run(args, run_root, start)
    with run.harness():
        probe_before = layers.host_probe_s()
    steal_before = layers.cpu_steal_s()
    spark = None
    try:
        spark = run.setup()
        setup_wall_s = time.monotonic() - start - run.harness_s
        setup_cpu_s = layers.tree_cpu_s(os.getpid()) - run.harness_cpu_s
        _log(
            start,
            f"set up in {setup_wall_s:.2f}s, {setup_cpu_s:.2f} CPU s"
            f" (+{run.harness_s:.2f}s benchmark work)",
        )
        run.measure(spark)
        _log(start, f"measured {len(run.pass_s)} passes")
        rss_peak_mb = sampler.stop()
        _stop_spark(spark)
        spark = None
        _log(start, "stopped Spark")
        verified = run.verify()
        probe_after = layers.host_probe_s()
        steal_s = layers.cpu_steal_s() - steal_before
        _log(start, "verified outputs")
        if args.trace:
            logs = os.listdir(f"{run_root}/eventlog")
            metrics, extra = run.per_layer(f"{run_root}/eventlog/{logs[0]}")
            units = LAYER_UNITS
            if args.op_table:
                _print_op_table(extra["op_table"])
        else:
            metrics, extra = run.end_to_end(setup_cpu_s, setup_wall_s, rss_peak_mb)
            units = END_TO_END_UNITS
    finally:
        sampler.stop()
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(run_root, ignore_errors=True)

    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "sf": SF,
        "passes": len(run.pass_s),
        "pass_s_each": run.pass_s,
        "op_order": run.orders,
        "session_conf": run.session_conf,
        "env": {k: env[k] for k in ("SPARK_DRIVER_MEM", "SPARK_GRAFT_CPUS")},
        "host_probe_s": {"before": probe_before, "after": probe_after},
        "cpu_steal_s": steal_s,
        "verified": verified,
        "failures": run.failed,
        **extra,
        "run_wall_s": time.monotonic() - start,
    }
    print(json.dumps({"detail": detail}))
    print(
        json.dumps(
            {
                "correct": not run.failed,
                "attempted": run.attempted,
                "failed": len(run.failed),
                "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
