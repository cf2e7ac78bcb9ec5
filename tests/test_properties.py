"""Property-based tests (SURVEY §5): randomized inputs, engine
parity and model-based checks.

- search_key: Spark expression vs DuckDB SQL twin must agree on ANY
  string drawn from the documented supported charset (ASCII + the
  Latin fold table + multi-char folds + unicode punctuation).
- upsert dedup: last-writer-wins over random batches must equal a
  Python dict replay.

Each example batches many strings/rows into ONE DataFrame so Spark
overhead stays sane.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
import pytest
from pyspark.sql import functions as F

from tijdloze_musicbrainz_spark.functions import normalize

SUPPORTED_ALPHABET = (
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
    " _-',.()&#!\"…’“”‐"
    + normalize._ACCENTED
    + "".join(src for src, _ in normalize._MULTI_FOLDS)
)

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


@given(
    st.lists(
        st.text(alphabet=SUPPORTED_ALPHABET, max_size=40),
        min_size=1,
        max_size=60,
    )
)
@settings(**_SETTINGS)
def test_search_key_engine_parity(spark, duck, strings):
    df = spark.createDataFrame([(s,) for s in strings], "s string")
    got_spark = [
        r[0] for r in df.select(normalize.search_key(F.col("s"))).collect()
    ]
    got_duck = [
        duck.execute(
            f"SELECT {normalize.search_key_sql('?')}", [s]
        ).fetchone()[0]
        for s in strings
    ]
    assert got_spark == got_duck, [
        (s, a, b) for s, a, b in zip(strings, got_spark, got_duck) if a != b
    ][:5]


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),  # key
            st.integers(min_value=0, max_value=99),  # value
        ),
        min_size=1,
        max_size=80,
    )
)
@settings(**_SETTINGS)
def test_upsert_last_writer_wins_model(spark, batches):
    from tijdloze_musicbrainz_spark.operators.upsert import dedup_last_wins

    rows = [(k, v, i) for i, (k, v) in enumerate(batches)]
    df = spark.createDataFrame(rows, "k int, v int, seq int")
    got = {
        r["k"]: r["v"]
        for r in dedup_last_wins(df, ["k"], [F.desc("seq")]).collect()
    }
    model: dict[int, int] = {}
    for k, v in batches:
        model[k] = v
    assert got == model


@given(
    st.lists(
        st.text(alphabet=SUPPORTED_ALPHABET, max_size=30),
        min_size=1,
        max_size=40,
    )
)
@settings(**_SETTINGS)
def test_search_key_idempotent(spark, strings):
    # applying search_key to its own output is a no-op (keys are
    # already lowercase alphanumerics)
    df = spark.createDataFrame([(s,) for s in strings], "s string")
    once = df.select(normalize.search_key(F.col("s")).alias("k"))
    twice = once.select(normalize.search_key(F.col("k")).alias("k2"))
    assert [r[0] for r in once.collect()] == [r[0] for r in twice.collect()]


def test_simhash_segment_banding_is_pigeonhole_complete():
    """The dedup_simhash oracle equivalence rests on: any pair with
    hamming <= 3 shares at least one of the 4 16-bit segments (4
    segments, <= 3 differing bits -> some segment untouched). Pin it
    over random fingerprint pairs."""
    import random

    rng = random.Random(99)
    for _ in range(2000):
        fp_a = rng.getrandbits(64)
        n_flips = rng.randint(0, 3)
        fp_b = fp_a
        for _ in range(n_flips):
            fp_b ^= 1 << rng.randrange(64)
        hamming = bin(fp_a ^ fp_b).count("1")
        if hamming <= 3:
            segs_a = [(fp_a >> (16 * s)) & 0xFFFF for s in range(4)]
            segs_b = [(fp_b >> (16 * s)) & 0xFFFF for s in range(4)]
            assert any(x == y for x, y in zip(segs_a, segs_b))


def test_int8_quantization_error_bound(spark, sf_dir):
    """Symmetric int8 quantization guarantees: codes in [-127, 127]
    and reconstruction error <= scale/2 = max_abs/254 (half a
    quantization step, as q is round-half-up of x/scale). Checked
    against the ACTUAL registered query output over the corpus."""
    from pyspark.sql import functions as F

    from tijdloze_musicbrainz_spark.plans import REGISTRY

    df = REGISTRY["sim_embedding_quantize_int8"].builder(spark, sf_dir)
    bad = df.filter(
        # 1.1e-6 absorbs the 6-digit output rounding of both columns
        (F.col("max_recon_err") > F.col("scale_max_abs") / 254.0 + 1.1e-6)
        | (F.col("q_l1") > 127 * 64)  # 64-dim, |q_i| <= 127
    ).count()
    assert bad == 0


@pytest.mark.parametrize(
    "name",
    [
        "text_bpe_train_merges",
        "dedup_simhash",
        "corpus_clean_pipeline",
        "dedup_cluster_components",
    ],
)
def test_bpe_rounds_use_reliable_checkpoint_when_configured(
    spark, sf_dir, tmp_path, name
):
    """With a reliable checkpoint dir configured, a query's checkpoints
    (the BPE merge rounds, the simhash fingerprint table, the cleaned
    shingle table, the star-contraction rounds) go to shared storage
    (loss-proof on a real cluster); without one they fall back to
    localCheckpoint. Results must be identical either way."""
    import os

    from tijdloze_musicbrainz_spark.plans import REGISTRY

    build = REGISTRY[name].builder
    local = {tuple(r) for r in build(spark, sf_dir).collect()}

    ckpt = str(tmp_path)
    sc = spark.sparkContext
    stored = {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}
    try:
        sc.setCheckpointDir(ckpt)
        reliable = {tuple(r) for r in build(spark, sf_dir).collect()}
        # no checkpoint fell back to executor-local blocks
        local_blocks = {
            i.id() for i in sc._jsc.sc().getRDDStorageInfo()
        } - stored
        assert not local_blocks, "a checkpoint ignored the reliable dir"
        # checkpoint data landed in the reliable dir (setCheckpointDir
        # alone already creates an empty per-context subdirectory)
        written = any(
            f.startswith("part-") for _, _, fs in os.walk(ckpt) for f in fs
        )
        assert written, "no checkpoint data written to the reliable dir"
    finally:
        sc._jsc.sc().setCheckpointDir(None)  # restore local-checkpoint mode
    assert reliable == local
