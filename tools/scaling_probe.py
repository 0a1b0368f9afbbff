"""Measure scaling of the engine's operator families across testdata
scales.

Two modes, both printing markdown tables for SCALE.md:

- default (candidate volume): the 100 TB argument for LSH /
  prefix-filter operators is that candidate PAIRS grow ~linearly with
  corpus size while the all-pairs baseline grows quadratically —
  measured at sf0.001 / 0.01 / 0.1 via the same SQL fragments the
  oracles are built from (DuckDB — both engines provably agree on
  these intermediates).

- --walltime (round 8): wall-time slopes for EVERY bench headline
  query at the three scales (Spark, bench.py's warm-up + noop-sink
  regime, single timed run per scale). Flags any query whose
  sf0.01 -> sf0.1 ratio exceeds the super-linear threshold — the
  quadratic-candidate class a plan audit cannot see. Ratios are
  within-run, so the 1.2-1.8x host drift between runs (SCALE.md
  methodology) divides out.

Usage:
  python tools/scaling_probe.py              # candidate volumes
  python tools/scaling_probe.py --walltime   # headline wall-time slopes
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from bigdata_project_spark.operators.dedup import (
    _SQL_BANDS,
    _SQL_SHINGLES,
    _SQL_SHINGLES_CAPPED,
    _SQL_SIGS,
)
from bigdata_project_spark.operators.nearpairs import sql_candidates, sql_overlap
from bigdata_project_spark.operators.hyperplane import planes
from bigdata_project_spark.operators.semdedup import _SQL_SEM_CELLS, _SUBCELL_SIZING
from bigdata_project_spark.operators.similarity import _PLANE_SIZING, _SQL_NORMED, _SQL_PARAMS
from bigdata_project_spark.operators.similarity import _SQL_BANDS as _SQL_ANN_BANDS

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]


def probe(sf_dir: str) -> dict:
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    r: dict = {}
    r["n_docs"] = con.sql("SELECT COUNT(*) FROM documents").fetchone()[0]
    r["n_vecs"] = con.sql("SELECT COUNT(*) FROM embeddings").fetchone()[0]

    # MinHash-LSH: distinct band-bucket candidate pairs
    r["minhash_cand"] = con.sql(f"""
        WITH {_SQL_SHINGLES},
        sigs AS (SELECT doc_id, {_SQL_SIGS} FROM sh GROUP BY doc_id),
        bands AS ({_SQL_BANDS}),
        {sql_candidates("bands")}
        SELECT COUNT(*) FROM cand
    """).fetchone()[0]

    # share-a-shingle pairs, df-capped (what exact n-gram Jaccard joins)
    r["shingle_cand_capped"] = con.sql(f"""
        WITH {_SQL_SHINGLES}, {_SQL_SHINGLES_CAPPED}, {sql_overlap("shc")}
        SELECT COUNT(*) FROM inter
    """).fetchone()[0]

    # prefix-filter candidates (rarity prefix at J>=1/2, before verify)
    r["prefix_cand"] = con.sql(f"""
        WITH {_SQL_SHINGLES}, {_SQL_SHINGLES_CAPPED},
        dfreq AS (SELECT shingle, COUNT(*) AS df FROM shc GROUP BY shingle),
        ranked AS (
            SELECT s.doc_id, s.shingle, c.n_sh,
                   ROW_NUMBER() OVER (PARTITION BY s.doc_id
                                      ORDER BY d.df, s.shingle) AS r
            FROM shc s JOIN dfreq d USING (shingle)
            JOIN cap_counts c USING (doc_id)
        ),
        pre AS (SELECT * FROM ranked WHERE r <= n_sh - (n_sh + 1) // 2 + 1)
        SELECT COUNT(*) FROM (
            SELECT DISTINCT a.doc_id, b.doc_id AS b_id
            FROM pre a JOIN pre b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
             AND 2 * b.n_sh >= a.n_sh AND 2 * a.n_sh >= b.n_sh)
    """).fetchone()[0]

    # banded ANN (3 bands x derived planes): distinct bucket-join
    # pairs under the data-aware P — the oracle's own bands, so this
    # measures the shipped plan
    r["ann_planes"] = planes(r["n_vecs"], *_PLANE_SIZING)
    r["ann_cand"] = con.sql(f"""
        WITH {_SQL_NORMED}, {_SQL_PARAMS}, bands AS ({_SQL_ANN_BANDS})
        SELECT COUNT(*) FROM (
            SELECT DISTINCT a.vec_id, b.vec_id AS b_id
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
    """).fetchone()[0]

    # SemDeDup within-cell pairs: the quadratic stage is
    # confined to (nearest-centroid, derived-Q LSH sub-bucket) cells —
    # the same cells CTE the oracle runs; per-vector volume must stay
    # ~flat as the corpus grows
    r["sem_q"] = planes(r["n_vecs"], *_SUBCELL_SIZING)
    r["sem_cand"] = con.sql(f"""
        WITH {_SQL_NORMED}, {_SQL_SEM_CELLS}
        SELECT COUNT(*) FROM cells a JOIN cells b
          ON a.cell = b.cell AND a.vec_id < b.vec_id
    """).fetchone()[0]
    con.close()
    return r


# largest table grows 10x per scale step (lineitem/events/orders);
# documents 1x then 10x; embeddings 1x then 4x. A LINEAR operator can
# therefore show up to ~10x per step plus noise; the flag threshold
# leaves headroom for within-run jitter on sub-second queries while
# still catching the quadratic class (which shows ~100x on a 10x step
# once candidates dominate).
SUPERLINEAR_RATIO = 14.0


def walltime_table() -> None:
    from bench import HEADLINE  # repo-root import (path set above)
    from bigdata_project_spark.caching import release_cached
    from bigdata_project_spark.registry import REGISTRY, _ensure_loaded
    from bigdata_project_spark.session import get_spark

    _ensure_loaded()
    spark = get_spark("scaling-probe")
    spark.sparkContext.setLogLevel("ERROR")

    def run(name: str, sf_dir: str) -> float:
        t0 = time.perf_counter()
        REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        release_cached(spark, sweep_all=True)
        return dt

    times: dict[str, dict[str, float]] = {}
    for sf_dir in SFS:
        sf = sf_dir.rsplit("sf", 1)[-1]
        for name in HEADLINE:
            run(name, sf_dir)  # warm-up: codegen classes + footers
            times.setdefault(name, {})[sf] = run(name, sf_dir)
        print(f"probed {sf_dir} ({len(HEADLINE)} queries)", file=sys.stderr)
    spark.stop()

    print("| query | t(0.001) s | t(0.01) s | t(0.1) s | r(0.01/0.001) | r(0.1/0.01) | flag |")
    print("|---|---|---|---|---|---|---|")
    flagged = []
    for name in HEADLINE:
        t = times[name]
        r1 = t["0.01"] / t["0.001"] if t["0.001"] else float("inf")
        r2 = t["0.1"] / t["0.01"] if t["0.01"] else float("inf")
        flag = "SUPER-LINEAR" if max(r1, r2) > SUPERLINEAR_RATIO else ""
        if flag:
            flagged.append(name)
        print(
            f"| {name} | {t['0.001']:.3f} | {t['0.01']:.3f} | {t['0.1']:.3f} "
            f"| {r1:.2f} | {r2:.2f} | {flag} |"
        )
    total = {sf: sum(t[sf] for t in times.values()) for sf in ("0.001", "0.01", "0.1")}
    print(
        f"\ntotals: 0.001={total['0.001']:.1f}s 0.01={total['0.01']:.1f}s "
        f"0.1={total['0.1']:.1f}s; flagged={flagged or 'none'}",
        file=sys.stderr,
    )


def main() -> None:
    rows = []
    for sf in SFS:
        r = probe(sf)
        r["sf"] = sf.rsplit("sf", 1)[-1]
        r["allpairs_docs"] = r["n_docs"] * (r["n_docs"] - 1) // 2
        r["allpairs_vecs"] = r["n_vecs"] * (r["n_vecs"] - 1) // 2
        rows.append(r)
        print(f"probed {sf}: {r}", file=sys.stderr)

    print("| sf | docs | all-pairs | shingle-join (df-capped) | prefix-filter | MinHash-LSH | vecs | all-pairs | banded ANN (P) | ANN cand/vec | SemDeDup cells (Q) | sem cand/vec |")
    print("|---|---|---|---|---|---|---|---|---|---|---|---|")
    for r in rows:
        per_vec = r["ann_cand"] / r["n_vecs"] if r["n_vecs"] else 0.0
        sem_per_vec = r["sem_cand"] / r["n_vecs"] if r["n_vecs"] else 0.0
        print(
            f"| {r['sf']} | {r['n_docs']:,} | {r['allpairs_docs']:,} "
            f"| {r['shingle_cand_capped']:,} | {r['prefix_cand']:,} | {r['minhash_cand']:,} "
            f"| {r['n_vecs']:,} | {r['allpairs_vecs']:,} | {r['ann_cand']:,} (P={r['ann_planes']}) "
            f"| {per_vec:.2f} | {r['sem_cand']:,} (Q={r['sem_q']}) | {sem_per_vec:.2f} |"
        )


if __name__ == "__main__":
    if "--walltime" in sys.argv[1:]:
        walltime_table()
    else:
        main()
