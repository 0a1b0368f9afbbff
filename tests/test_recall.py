"""The recall@k kernel (operators/recall.py) and its DuckDB twin on
hand-built truth and found rows, against Python set arithmetic: a
query with no hits, a found row of a query truth does not hold, a
curve level with no found rows, and empty truth."""

from __future__ import annotations

import duckdb
import pytest

from bigdata_project_spark.operators.recall import at_k, sql_at_k

_K = 3
_TRUTH = [(1, 10), (1, 11), (1, 12), (2, 20), (2, 21), (2, 22)]
# query 1 finds two of its three; query 2 finds none of its own;
# query 9 is not in truth
_FOUND = [(1, 10), (1, 12), (1, 99), (2, 23), (9, 10)]
_LEVELS = ("np", (1, 2, 4))
# level 1 is _FOUND, level 2 finds one neighbour each, level 4 nothing
_FOUND_LV = [(1, q, n) for q, n in _FOUND] + [(2, 1, 11), (2, 2, 20), (2, 9, 21)]

_CASES = {
    "plain": (_TRUTH, _FOUND, None),
    "levels": (_TRUTH, _FOUND_LV, _LEVELS),
    "empty_truth": ([], _FOUND, None),
    "empty_truth_levels": ([], _FOUND_LV, _LEVELS),
}


def _expected(truth, found, levels) -> dict[tuple, tuple[int, float]]:
    """(*level, query_id) -> (n_hits, recall), by set intersection."""
    out = {}
    for lv in levels[1] if levels else [None]:
        hit = {f[-2:] for f in found if levels is None or f[0] == lv}
        for q in {q for q, _ in truth}:
            n = len({(q, v) for tq, v in truth if tq == q} & hit)
            out[(q,) if levels is None else (lv, q)] = (n, n / _K)
    return out


@pytest.mark.parametrize("case", sorted(_CASES))
def test_recall_kernel_matches_set_arithmetic(spark, case):
    truth, found, levels = _CASES[case]
    want = _expected(truth, found, levels)
    keys = [] if levels is None else [levels[0]]
    found_cols = ", ".join([f"{c} int" for c in keys] + ["query_id int", "neighbor_id int"])

    t = spark.createDataFrame(truth, "query_id int, vec_id int")
    f = spark.createDataFrame(found, found_cols)
    sdf = at_k(t, f, _K, levels)
    assert sdf.columns == [*keys, "query_id", "n_hits", "recall"]
    assert [x.dataType.simpleString() for x in sdf.schema.fields][-2:] == ["int", "double"]
    got = {tuple(r[: len(keys) + 1]): (r["n_hits"], r["recall"]) for r in sdf.collect()}
    assert got == want

    con = duckdb.connect()
    con.execute("CREATE TABLE truth (query_id INT, vec_id INT)")
    con.execute(f"CREATE TABLE found ({found_cols.replace(' int', ' INT')})")
    if truth:
        con.executemany("INSERT INTO truth VALUES (?, ?)", truth)
    con.executemany(f"INSERT INTO found VALUES ({', '.join('?' * len(found[0]))})", found)
    rel = con.sql(sql_at_k("SELECT * FROM truth", "SELECT * FROM found", _K, levels))
    assert rel.columns == sdf.columns
    assert [str(x) for x in rel.types][-2:] == ["INTEGER", "DOUBLE"]
    sql = {tuple(r[: len(keys) + 1]): tuple(r[-2:]) for r in rel.fetchall()}
    assert sql == want

    if case == "plain":
        assert want[(2,)] == (0, 0.0) and (9,) not in want
    if case == "levels":
        assert all(want[(4, q)] == (0, 0.0) for q in (1, 2)) and want[(2, 2)] == (1, 1 / _K)
    if case.startswith("empty"):
        assert want == {}
