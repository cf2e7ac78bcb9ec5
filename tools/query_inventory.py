"""Generate QUERIES.md: one line per registered query (name, SURVEY
ids, oracle status, first sentence of the doc) — the registry's
operator inventory in readable form. The entries gated on the reference
golden CSV are listed whether or not it is present, so the file is the
same on every box. Regenerate with:
    python tools/query_inventory.py > QUERIES.md
Check the committed file (exit 1 and a diff when it is stale):
    python tools/query_inventory.py --check
"""

from __future__ import annotations

import difflib
import sys


def render() -> str:
    sys.path.insert(0, ".")
    from tijdloze_musicbrainz_spark.plans import REGISTRY
    from tijdloze_musicbrainz_spark.plans.benchmark_real import (
        CSV_GATED,
        registry_sizes,
    )

    n_with, n_without = registry_sizes(REGISTRY)
    specs = {**CSV_GATED, **REGISTRY}
    lines = [
        "# QUERIES — the registered operator inventory",
        "",
        f"{n_with} queries ({n_without} without the reference golden CSV); "
        "every one carries a DuckDB oracle. "
        "Generated by `python tools/query_inventory.py > QUERIES.md`; "
        "per-SURVEY-id mapping lives in COVERAGE.md, plan audits in "
        "PLANS.md.",
        "",
        "| query | SURVEY ids | doc |",
        "|---|---|---|",
    ]
    for name in sorted(specs):
        spec = specs[name]
        ids = " ".join(spec.survey_ids) or "—"
        doc = " ".join(spec.doc.split())
        # first sentence, bounded
        cut = doc.find(". ")
        first = doc[: cut + 1] if 0 < cut < 220 else doc[:220]
        first = first.replace("|", "\\|")
        lines.append(f"| {name} | {ids} | {first} |")
    return "\n".join(lines) + "\n"


def main() -> None:
    text = render()
    if "--check" not in sys.argv[1:]:
        sys.stdout.write(text)
        return
    with open("QUERIES.md") as f:
        committed = f.read()
    if committed != text:
        sys.stdout.writelines(
            difflib.unified_diff(
                committed.splitlines(True), text.splitlines(True),
                "QUERIES.md", "tools/query_inventory.py",
            )
        )
        sys.exit(1)


if __name__ == "__main__":
    main()
