"""A repeat build of a plan reuses the generated code of the first.

AQE numbers whole-stage codegen stages in the order its query stages
finish, so with the id in the class name the same stage got a new class
name, hence a new cache key, on every build: each build recompiled every
stage with Janino and the JIT compiled the new classes again. The session
keeps class names free of the id and sizes the codegen cache above the
working set (session.py), so the second build of the same query hits the
cache for every class.
"""

from __future__ import annotations

from tijdloze_musicbrainz_spark.plans import REGISTRY


def test_repeat_build_of_scale_pipeline_compiles_nothing(spark, sf_dir):
    compiles = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    )

    def run() -> None:
        df = REGISTRY["mb_pipeline_scale"].builder(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()

    run()
    after_first = compiles.getCount()
    run()
    recompiled = compiles.getCount() - after_first
    assert recompiled == 0, f"second build compiled {recompiled} classes"
