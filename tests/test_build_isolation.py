"""Building one plan must never invalidate another: a builder that
materializes an intermediate sink writes it where a later build of
the same query cannot delete it, so the first plan's file listing
stays readable."""

from __future__ import annotations

import csv


def test_golden_base_rebuild_keeps_first_plan_readable(
    spark, tmp_path, monkeypatch
):
    from tijdloze_musicbrainz_spark.plans import benchmark_real as br
    from tijdloze_musicbrainz_spark.plans.golden_shape import (
        GOLDEN_SHAPE_SCHEMA,
    )

    cols = [c.split()[0] for c in GOLDEN_SHAPE_SCHEMA.split(", ")]
    path = tmp_path / "default.csv"
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.DictWriter(f, fieldnames=cols)
        w.writeheader()
        for i in range(1, 4):
            row = dict.fromkeys(cols, "")
            row.update(
                id=i, title=f"song {i}", artist_id=10 + i,
                artist_name=f"artist {i}", release_year=1990 + i,
                musicbrainz_id="" if i == 2 else f"mb-{i}",
            )
            w.writerow(row)
    monkeypatch.setattr(br, "REAL_CSV", str(path))

    first = br._base(spark)
    second = br._base(spark)
    rows = sorted(tuple(r) for r in first.collect())
    assert rows == sorted(tuple(r) for r in second.collect())
    assert [r[0] for r in rows] == [1, 2, 3]
    assert rows[1][6] is None  # empty mb id normalized to NULL
