"""Generate the operator-coverage table from the live registry:
SURVEY.md §2 operator id -> registered queries that exercise it,
plus the registry listing with oracle status. Run:

    python tools/coverage_report.py [--markdown]
"""

from __future__ import annotations

import sys


def main() -> None:
    sys.path.insert(0, ".")
    from tijdloze_musicbrainz_spark.plans import REGISTRY
    from tijdloze_musicbrainz_spark.plans.benchmark_real import registry_sizes

    by_id: dict[str, list[str]] = {}
    for name, spec in sorted(REGISTRY.items()):
        for sid in spec.survey_ids:
            by_id.setdefault(sid, []).append(name)

    def key(sid: str):
        import re

        m = re.match(r"([A-Z]+)(\d+)", sid)
        return (m.group(1), int(m.group(2))) if m else (sid, 0)

    print("| SURVEY §2 id | registered queries |")
    print("|---|---|")
    for sid in sorted(by_id, key=key):
        print(f"| {sid} | {', '.join(by_id[sid])} |")

    n_oracle = sum(1 for s in REGISTRY.values() if s.oracle is not None)
    n_with, n_without = registry_sizes(REGISTRY)
    print()
    print(
        f"**{n_with} registered queries ({n_without} without the reference "
        f"golden CSV); {n_oracle} oracle-checked, "
        f"{len(REGISTRY) - n_oracle} rows-only; "
        f"{len(by_id)} SURVEY operator ids covered.**"
    )


if __name__ == "__main__":
    main()
