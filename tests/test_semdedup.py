"""SemDeDup invariants (operators/semdedup.py) beyond the oracle gate.

The DuckDB oracle proves cross-engine parity; these pin the
SEMANTICS the parity alone wouldn't catch drifting (both engines
could agree on a wrong keeper policy), on a hand-built corpus whose
cluster structure is known by construction.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def semdedup_result(spark, sf_dir):
    from bigdata_project_spark.registry import all_queries

    df = all_queries()["dedup_semantic_cells"](spark, sf_dir)
    rows = df.collect()
    return df, rows


def test_one_row_per_vector_and_one_keeper_per_component(spark, semdedup_result, sf_dir):
    from bigdata_project_spark.tables import load

    df, rows = semdedup_result
    n_vecs = load(spark, sf_dir, "embeddings").count()
    assert len(rows) == n_vecs
    assert len({r["vec_id"] for r in rows}) == n_vecs
    by_comp = {}
    for r in rows:
        by_comp.setdefault(r["component"], []).append(r)
    for comp, members in by_comp.items():
        keepers = [m for m in members if m["is_kept"] == 1]
        assert len(keepers) == 1, f"component {comp}: {len(keepers)} keepers"
        k = keepers[0]
        # keeper policy: most tokens, min vec_id tiebreak — and every
        # member agrees on who the keeper is
        best = max(members, key=lambda m: (m["n_tokens"], -m["vec_id"]))
        assert k["vec_id"] == best["vec_id"]
        assert {m["keeper_vec_id"] for m in members} == {k["vec_id"]}


def test_components_confined_to_cells_and_nonvacuous(semdedup_result):
    """Edges only exist within a cell, so every multi-member component
    must be single-cell; and the corpus-calibrated TAU must actually
    produce drops (a vacuous threshold would make the whole operator
    a no-op that still oracle-matches)."""
    _, rows = semdedup_result
    by_comp = {}
    for r in rows:
        by_comp.setdefault(r["component"], set()).add(r["cell"])
    multi = [c for c, rs in by_comp.items() if len(rs) > 1]
    assert not multi, f"components spanning cells: {multi[:5]}"
    n_dropped = sum(1 for r in rows if r["is_kept"] == 0)
    assert n_dropped > 0
    # components are min-ids: the component label is a member
    ids_by_comp = {}
    for r in rows:
        ids_by_comp.setdefault(r["component"], []).append(r["vec_id"])
    assert all(comp == min(ids) for comp, ids in ids_by_comp.items())


def test_semdedup_drop_rate_stays_bounded_across_scales(spark):
    """Scale probe (verdict r7 item 5): the per-vector candidate/drop
    volume must stay ~flat as the corpus grows — the within-cell
    quadratic is bounded by cell size, which the cell count absorbs at
    scale. sf0.1 has 4x the vectors of sf0.01; the drop RATE must stay
    the same order (not grow ~linearly with corpus size, which would
    signal the quadratic leaking through)."""
    from bigdata_project_spark.registry import all_queries

    q = all_queries()["dedup_semantic_cells"]
    rates = {}
    for sf in ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]:
        agg = q(spark, sf).agg(
            F.count("*").alias("n"), F.sum(1 - F.col("is_kept")).alias("d")
        ).first()
        rates[sf] = agg["d"] / agg["n"]
    r_small, r_big = rates["/root/testdata/sf0.01"], rates["/root/testdata/sf0.1"]
    assert 0 < r_big < 3 * r_small + 0.05, rates


def test_streaming_ingest_state_carries_across_micro_batches(spark, tmp_path):
    """stream_semantic_incremental_dedup's seen store must be
    load-bearing: an engineered corpus places a semantic-dup trio
    (vec_ids 9, 59, 99) in three DIFFERENT vec_id-ordered chunks, far
    (cos < TAU) from every corpus vector, so 59's and 99's duplicate
    verdicts are discoverable ONLY through batch member 9 restored
    from the cross-batch state. The chunked streaming replay must
    equal the batch operator exactly."""
    from bigdata_project_spark.operators.semdedup import (
        dedup_semantic_incremental,
        run_semantic_ingest_stream,
    )

    DIM = 64

    def vec(*terms):
        v = [0.0] * DIM
        for i, w in terms:
            v[i] = float(w)
        return v

    rows = []
    # corpus label 0: 0.3*e0 + e_{2..9} -> cos to e0 = 0.287 < TAU,
    # but centroid0 keeps a 0.65 cosine to e0 (the trio's direction)
    for j in range(20):
        if j % 10 == 9:
            continue
        rows.append((j, vec((0, 0.3), (2 + j % 8, 1.0)), 0))
    # corpus label 1: pure e1
    for j in range(20, 40):
        if j % 10 == 9:
            continue
        rows.append((j, vec((1, 1.0)), 1))
    # batch members (vec_id % 10 == 9)
    uniq_dir = 12
    for k, b in enumerate(range(9, 100, 10)):
        if b in (9, 59, 99):  # the trio: e0 + tiny distinct jitter
            rows.append((b, vec((0, 1.0), (11, 0.01 * (1 + k))), -1))
        elif b == 19:  # corpus-duplicate case: pure e1 -> dup_of 20
            rows.append((b, vec((1, 1.0)), -1))
        else:  # unique directions, near nothing
            rows.append((b, vec((uniq_dir, 1.0)), -1))
            uniq_dir += 1
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    d = str(tmp_path)

    res, nb = run_semantic_ingest_stream(spark, d, n_chunks=3)
    assert nb >= 3, "expected one micro-batch per chunk"
    got = {r["vec_id"]: r for r in res.collect()}
    # chunk layout: lo=9, hi=99, step=31 -> {9..39}, {49..69}, {79..99}
    assert got[9]["is_new_unique"] == 1 and got[9]["dup_of"] is None
    assert got[59]["dup_of"] == 9 and got[59]["is_new_unique"] == 0
    assert got[99]["dup_of"] == 9 and got[99]["is_new_unique"] == 0
    assert got[19]["dup_of"] == 20  # standing-corpus hit, min corpus id
    for b in (29, 39, 49, 69, 79, 89):
        assert got[b]["is_new_unique"] == 1, b

    batch = {r["vec_id"]: r for r in dedup_semantic_incremental(spark, d).collect()}
    assert set(got) == set(batch)
    for v in got:
        assert tuple(got[v]) == tuple(batch[v]), v


@pytest.mark.parametrize("n_vectors", [16_000])
def test_derived_subcells_hold_cell_load_on_8x_corpus(n_vectors):
    """Sub-cell sizing beyond the shipped scales (r8 verdict ask #8):
    on a generator-built corpus 8x the sf0.1 vector count, the derived
    Q (= 5 at 16k, genuinely above the 0 the testbed clamps to) must
    hold the mean within-cell load — and therefore the per-vector
    candidate volume of the within-cell quadratic — at the same level
    the sf0.1-sized corpus sees, while fixed label-only cells would
    grow it linearly (~8x). Runs the SAME params/cent/assign/cells SQL
    the oracle uses, so the property holds for exactly the shipped
    derivation."""
    import duckdb
    import numpy as np
    import pandas as pd

    from bigdata_project_spark.operators.hyperplane import planes
    from bigdata_project_spark.operators.semdedup import _SQL_SEM_CELLS, _SUBCELL_SIZING
    from bigdata_project_spark.operators.similarity import _SQL_NORMED

    assert planes(n_vectors, *_SUBCELL_SIZING) == 5  # derived, not clamped

    def cell_loads(n):
        rng = np.random.default_rng(9)
        emb = rng.standard_normal((n, 64)).astype(np.float32)
        labels = rng.integers(0, 10, size=n)
        pdf = pd.DataFrame(
            {
                "vec_id": np.arange(n, dtype=np.int64),
                "embedding": [e.tolist() for e in emb],
                "label": labels.astype(np.int32),
            }
        )
        con = duckdb.connect()
        try:
            con.register("pdf", pdf)
            con.execute(
                "CREATE TABLE embeddings AS SELECT vec_id, "
                "CAST(embedding AS FLOAT[]) AS embedding, label FROM pdf"
            )
            return con.sql(f"""
                WITH {_SQL_NORMED},
                {_SQL_SEM_CELLS},
                loads AS (SELECT cell, COUNT(*) AS c FROM cells GROUP BY cell)
                SELECT AVG(c), MAX(c),
                       SUM(c * (c - 1) / 2.0) / SUM(c)  -- candidates per vector
                FROM loads
            """).fetchone()
        finally:
            con.close()

    mean_small, _, cand_small = cell_loads(2_000)   # sf0.1-sized: Q = 2
    mean_big, max_big, cand_big = cell_loads(n_vectors)  # 8x: Q = 5
    # per-vector candidate volume must stay ~flat (an 8x corpus with
    # FIXED label cells would multiply it by ~8)
    assert cand_big < 3 * cand_small, (cand_small, cand_big)
    # mean cell load ~ n / (n_labels * 2^Q): 50 at both scales
    assert mean_big < 3 * mean_small, (mean_small, mean_big)
    assert max_big < 20 * mean_big, "pathologically hot sub-cell"
    print(
        f"subcell sizing: n=2000 mean={mean_small:.1f} cand/vec={cand_small:.1f}; "
        f"n={n_vectors} mean={mean_big:.1f} max={max_big} cand/vec={cand_big:.1f}"
    )
