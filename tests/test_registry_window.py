"""The driver records correctness for only the first 50 registrations.

Round 2's verdict: 22 of 72 queries — including the sole coverage for
SURVEY rows J6, P9, P10, P12, F12, S2, S4/S5, S7 — fell past that window
and had no official correctness row.  These tests make the window a
checked invariant instead of an accident of import order.
"""

from tijdloze_musicbrainz_spark.plans import REGISTRY
from tijdloze_musicbrainz_spark.plans.priority import (
    DRIVER_WINDOW,
    DRIVER_WINDOW_SIZE,
)

# Queries the round-2 verdict named as "Done =" evidence for next round.
MUST_BE_IN_WINDOW = {
    "j6_edge_traversal",
    "p9_nonequi_join_predicate",
    "p10_parameterized_filters",
    "p12_exact_key_match",
    "f12_ci_startswith",
    "s2_csv_golden_roundtrip",
    "s5_append_sink_roundtrip",
    "s7_upsert_roundtrip",
    "sql_api_q6",
    "mb_pipeline_canonical_e2e",
    "mb_pipeline_artist_aliases_e2e",
    "benchmark_accuracy_replay_e2e",
}


def window_names() -> list[str]:
    return list(REGISTRY)[:DRIVER_WINDOW_SIZE]


def test_driver_window_fits():
    assert len(DRIVER_WINDOW) <= DRIVER_WINDOW_SIZE


def test_driver_window_names_all_registered():
    missing = [n for n in DRIVER_WINDOW if n not in REGISTRY]
    assert not missing, f"DRIVER_WINDOW names not registered: {missing}"


def test_registry_leads_with_driver_window():
    assert window_names()[: len(DRIVER_WINDOW)] == list(DRIVER_WINDOW)


def test_verdict_must_haves_inside_window():
    window = set(window_names())
    missing = MUST_BE_IN_WINDOW - window
    assert not missing, f"verdict 'Done =' queries outside driver window: {missing}"


def test_window_carries_full_survey_coverage():
    """Every SURVEY id claimed anywhere must have a carrier inside the window.

    This is the structural fix for round 2's #1 finding: queries past the
    window may only be redundant micro-queries, never the sole coverage for
    an operator row.
    """
    all_ids = set()
    for spec in REGISTRY.values():
        all_ids.update(spec.survey_ids)
    window_ids = set()
    for name in window_names():
        window_ids.update(REGISTRY[name].survey_ids)
    uncovered = all_ids - window_ids
    assert not uncovered, f"SURVEY ids with no in-window carrier: {sorted(uncovered)}"


def test_window_queries_all_have_oracles():
    """Every in-window query is oracle-checked — since round 4 the two ANN
    queries carry exact DuckDB twins (engine-neutral integer hyperplanes /
    SQL-expressible centroid assignment), so there are NO rows-only
    exceptions left inside the driver window."""
    rows_only = {n for n in window_names() if REGISTRY[n].oracle is None}
    assert not rows_only, f"unexpected rows-only in window: {rows_only}"


def _stale_docs(root: str) -> tuple[int, int, list[str]]:
    """(expected size, size without the golden CSV, docs under ``root``
    that do not state both). Three entries register only when the
    reference golden CSV exists, so the docs state the size with and
    without them; the expected counts come from the live registry plus
    the gated specs, whichever way this checkout has it."""
    import os
    import re

    from tijdloze_musicbrainz_spark.plans.benchmark_real import CSV_GATED

    gated = len(CSV_GATED)
    n = len(REGISTRY.keys() | CSV_GATED.keys())
    both = rf"{n} (?:registered )?queries \({n - gated} without the reference golden CSV\)"
    expectations = {
        "README.md": rf"\b{both}",
        "COVERAGE.md": rf"\*\*{both}",
        "QUERIES.md": rf"^{both};",
        "SURVEY.md": rf"\bstands at {both}",
    }
    stale = []
    for fname, pattern in expectations.items():
        with open(os.path.join(root, fname)) as f:
            if not re.search(pattern, f.read(), re.MULTILINE):
                stale.append(fname)
    return n, n - gated, stale


def test_doc_counts_match_registry():
    """The judged docs must not lag the registry (r14 verdict item 6:
    SURVEY.md §8 said '215 queries' for six rounds while the registry
    stood at 240). Every doc that states the registry size must state
    the live count — README, COVERAGE, QUERIES, and SURVEY §8 — with
    and without the golden-CSV entries, on a box with or without the
    reference checkout."""
    import os

    n, n_without, stale = _stale_docs(os.path.join(os.path.dirname(__file__), ".."))
    assert not stale, (
        f"docs with a stale registry count (expected {n}, {n_without} "
        f"without the golden CSV): {stale}"
    )


def test_doc_count_check_flags_a_stale_doc(tmp_path):
    """The count check still catches a doc that lags the registry: a
    copy of the docs with QUERIES.md one query behind is flagged, and
    only that doc."""
    import os
    import shutil

    root = os.path.join(os.path.dirname(__file__), "..")
    for fname in ("README.md", "COVERAGE.md", "QUERIES.md", "SURVEY.md"):
        shutil.copy(os.path.join(root, fname), tmp_path / fname)
    n, n_without, stale = _stale_docs(str(tmp_path))
    assert stale == []
    queries = tmp_path / "QUERIES.md"
    queries.write_text(
        queries.read_text().replace(
            f"{n} queries ({n_without} without",
            f"{n - 1} queries ({n_without - 1} without",
        )
    )
    assert _stale_docs(str(tmp_path))[2] == ["QUERIES.md"]


def test_query_inventory_matches_committed_file():
    """QUERIES.md is what ``tools/query_inventory.py`` prints, gated
    entries included, on a box with or without the reference golden
    CSV: ``--check`` exits 0 only when the committed file matches."""
    import os
    import subprocess
    import sys

    root = os.path.join(os.path.dirname(__file__), "..")
    out = subprocess.run(
        [sys.executable, "tools/query_inventory.py", "--check"],
        cwd=root, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stdout[-3000:] + out.stderr[-3000:]


def test_no_rows_only_anywhere():
    """r4c: the volume bench mb_pipeline_scale gained its full SQL twin,
    so the ENTIRE registry is oracle-checked — pin it so a future
    registration without an oracle is a conscious decision, not drift."""
    rows_only = {n for n, s in REGISTRY.items() if s.oracle is None}
    assert not rows_only, f"rows-only queries appeared: {rows_only}"
