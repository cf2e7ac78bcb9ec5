"""Generate QUERIES.md: one line per registered query (name, SURVEY
ids, oracle status, first sentence of the doc) — the registry's
operator inventory in readable form. Regenerate with:
    python tools/query_inventory.py > QUERIES.md
"""

from __future__ import annotations

import sys


def main() -> None:
    sys.path.insert(0, ".")
    from tijdloze_musicbrainz_spark.plans import REGISTRY
    from tijdloze_musicbrainz_spark.plans.benchmark_real import registry_sizes

    n_with, n_without = registry_sizes(REGISTRY)

    print("# QUERIES — the registered operator inventory")
    print()
    print(
        f"{n_with} queries ({n_without} without the reference golden CSV); "
        "every one carries a DuckDB oracle. "
        "Generated by `python tools/query_inventory.py > QUERIES.md`; "
        "per-SURVEY-id mapping lives in COVERAGE.md, plan audits in "
        "PLANS.md."
    )
    print()
    print("| query | SURVEY ids | doc |")
    print("|---|---|---|")
    for name in sorted(REGISTRY):
        spec = REGISTRY[name]
        ids = " ".join(spec.survey_ids) or "—"
        doc = " ".join(spec.doc.split())
        # first sentence, bounded
        cut = doc.find(". ")
        first = doc[: cut + 1] if 0 < cut < 220 else doc[:220]
        first = first.replace("|", "\\|")
        print(f"| {name} | {ids} | {first} |")


if __name__ == "__main__":
    main()
