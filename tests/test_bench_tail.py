"""bench.py's stdout must survive a ~2 KB tail cut: the external
harness keeps only the tail and parses the final line, so that line
has to stay well under the cut and stay valid JSON however many
headline queries there are and however long their names run. No
Spark needed."""

from __future__ import annotations

import json
import random


def test_final_tail_line_fits_the_stdout_tail():
    import bench
    from bigdata_project_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    # the longest real query names: the worst case for the byte budget
    names = sorted(REGISTRY, key=lambda n: (-len(n), n))[:150]
    assert len(names) >= 120 and min(map(len, names)) >= 20
    rng = random.Random(7)
    timings = {n: round(rng.uniform(0.05, 12.0), 4) for n in names}
    primary = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "sf": 0.1,
        "repeats": 3,
    }
    lines = bench._tail_lines(primary)
    final = lines[-1]
    assert len(final.encode()) <= 1900
    summary = json.loads(final)
    assert summary["n_queries"] == len(names)
    assert summary["queries_omitted"] == len(names) - len(summary["queries"])
    assert summary["queries_omitted"] > 0  # the cap actually engaged
    # the capped map keeps the slowest queries
    slowest = sorted(timings, key=lambda n: (-timings[n], n))[: len(summary["queries"])]
    assert list(summary["queries"]) == slowest
    # every per-chunk line is valid JSON, and together they carry every query
    chunked = {}
    for line in lines[:-1]:
        chunked.update(json.loads(line)["queries"])
    assert chunked == timings
