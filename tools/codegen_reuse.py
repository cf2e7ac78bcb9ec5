"""Count the code generation each pass of a workload pays: Janino
compiles, JIT compile time and driver build time, pass by pass.

Usage:
    python tools/codegen_reuse.py [--sf DIR] [--passes 4]
        [--cache-entries N] [op ...]

``--sf`` defaults to the benchmark's sf0.01 tables (perfbench/data/).

One pass builds every op (``REGISTRY[op].builder``) and writes it to the
noop sink, like one pass of ``perfbench/run.py``. The default ops are the
``etl_export`` workload's. Prints one JSON line per pass:

- ``janino_compiles``: whole-stage and expression classes Janino compiled
  (``CodegenMetrics.METRIC_COMPILATION_TIME`` count). A codegen-cache
  hit compiles nothing.
- ``jit_ms``: JVM JIT compile time (``CompilationMXBean``).
- ``build_s``: wall seconds in the builders (driver plan building).
- ``pass_s``: wall seconds of the pass.

``--cache-entries`` overrides ``spark.sql.codegen.cache.maxEntries``. With
a cache larger than the working set every compile is a new source, so the
total over all passes counts the distinct generated classes of the ops.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the benchmark's etl_export workload (perfbench/run.py)
ETL_EXPORT = [
    "mb_pipeline_scale",
    "flagship_canonical_order",
    "j_multiway_candidates",
    "set_union_distinct_aliases",
]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("ops", nargs="*", default=ETL_EXPORT)
    ap.add_argument("--sf", default=os.path.join(REPO, "perfbench", "data", "sf0.01"))
    ap.add_argument("--passes", type=int, default=4)
    ap.add_argument("--cache-entries", type=int, default=None)
    args = ap.parse_args()

    sys.path.insert(0, REPO)
    from tijdloze_musicbrainz_spark.plans import REGISTRY
    from tijdloze_musicbrainz_spark.session import get_spark

    extra = {"spark.ui.showConsoleProgress": "false"}
    if args.cache_entries is not None:
        extra["spark.sql.codegen.cache.maxEntries"] = str(args.cache_entries)
    spark = get_spark("codegen_reuse", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    jit = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()

    total = 0
    for p in range(args.passes):
        c0, j0, t0 = compiles.getCount(), jit.getTotalCompilationTime(), time.monotonic()
        build_s = 0.0
        for op in args.ops:
            b0 = time.monotonic()
            df = REGISTRY[op].builder(spark, args.sf)
            build_s += time.monotonic() - b0
            df.write.format("noop").mode("overwrite").save()
        n = compiles.getCount() - c0
        total += n
        print(
            json.dumps(
                {
                    "pass": p,
                    "janino_compiles": n,
                    "jit_ms": jit.getTotalCompilationTime() - j0,
                    "build_s": round(build_s, 2),
                    "pass_s": round(time.monotonic() - t0, 2),
                }
            ),
            flush=True,
        )
    print(json.dumps({"ops": args.ops, "passes": args.passes, "janino_compiles": total}))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
