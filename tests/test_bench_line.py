"""The bench's stdout line must fit the capture window whatever the
registry grows to: bench._shed_to_fit walks the fixed shed order first,
then the cheapest remaining queries, and warns when it has to."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import bench  # noqa: E402


def _slim(queries: dict[str, float]) -> dict:
    return {"metric": "total_sec", "value": 1.0, "unit": "sec", "queries": queries, "sf": 0.1}


def test_line_that_fits_is_untouched(capsys):
    slim = _slim({"a": 1.0, "b": 2.0})
    bench._shed_to_fit(slim, 1900)
    assert slim["queries"] == {"a": 1.0, "b": 2.0}
    assert "queries_truncated" not in slim
    assert capsys.readouterr().err == ""


def test_oversize_line_sheds_past_the_fixed_order(capsys):
    # every fixed-order name plus 200 long-named queries: far over the
    # limit even once the whole fixed order is gone
    queries = {n: 0.5 for n in bench.SHED_ORDER}
    queries.update({f"query_with_a_long_name_{i:03d}": 10.0 + i for i in range(200)})
    queries["query_that_failed"] = -1.0
    slim = _slim(dict(queries))
    bench._shed_to_fit(slim, 1900)

    assert len(bench._dumps(slim)) <= 1900
    assert slim["queries_truncated"] is True
    kept = slim["queries"]
    assert not set(bench.SHED_ORDER) & set(kept)
    # the cheapest went first: every survivor costs more than any dropped
    # timed query, and the failed query (no cost) is kept for last
    dropped = [n for n in queries if n not in kept and n not in bench.SHED_ORDER]
    timed = [n for n in kept if kept[n] >= 0]
    assert max(queries[n] for n in dropped) < min(kept[n] for n in timed)
    assert "query_that_failed" in kept
    err = capsys.readouterr().err
    assert "WARNING: the fixed shed order ran out" in err
    assert "query_with_a_long_name_000" in err
