"""Oracle verification at the testbed scales, one command.

Replays what the external harness does — every `queries()` entry vs
its `oracle_sql()` DuckDB twin, row-count + columns + order-insensitive
canonical value multiset. The full-registry run at all three scale
factors is the closing check each round runs after any query/oracle
change (~2-4 min per small scale, ~10 min at sf0.1); `--only` is the
fast inner loop after touching an operator.

`--twins` adds two degenerate scales built from the first scale: a
zero-row twin (same schemas, no rows) and a null-injected twin (NULLs
in payload columns). The testbed has no NULLs and no empty table, so
only these twins exercise empty-input and null semantics: scalar
subqueries, cross joins of 1-row aggregates, window frames, COALESCE
defaults, and guards written with Python truthiness on one side and
IS NULL on the other.

Usage: python tools/verify_all.py [sf_dir ...] [--twins]     (default: all three)
       python tools/verify_all.py --only QUERY... [--sf SF_DIR...] [--twins]
                                   (default scales: sf0.001 and sf0.01)
Exit code 0 iff every selected oracled query matches at every scale;
rows-only queries are executed as a crash check.
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"))

DEFAULT_SFS = [
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
]

# null-injected twin: table -> (key column, {payload column: null
# percent}). Payload columns only — never join keys, group-by keys,
# ordering columns or event-time, whose NULL placement the two engines
# default differently.
_INJECT: dict[str, tuple[str, dict[str, int]]] = {
    "customer": ("c_custkey", {"c_acctbal": 6}),
    "supplier": ("s_suppkey", {"s_acctbal": 6}),
    "part": ("p_partkey", {"p_retailprice": 6}),
    "lineitem": ("l_orderkey * 8 + l_linenumber", {"l_tax": 6}),
    "events": ("event_id", {"props": 6, "value": 3}),
    "documents": ("doc_id", {"text": 3}),
}


def build_empty_testbed(src: str, dst: str) -> None:
    import pyarrow.parquet as pq

    from bigdata_project_spark.tables import TABLES

    os.makedirs(dst, exist_ok=True)
    for t in TABLES:
        schema = pq.read_schema(f"{src}/{t}.parquet")
        pq.write_table(schema.empty_table(), f"{dst}/{t}.parquet")


def build_null_testbed(src: str, dst: str) -> None:
    import duckdb

    from bigdata_project_spark.tables import TABLES

    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    for t in TABLES:
        key, cols = _INJECT.get(t, (None, {}))
        if not cols:
            con.execute(f"COPY (SELECT * FROM '{src}/{t}.parquet') TO '{dst}/{t}.parquet' (FORMAT PARQUET)")
            continue
        rel = con.sql(f"SELECT * FROM '{src}/{t}.parquet' LIMIT 0")
        sel = []
        for c in rel.columns:
            if c in cols:
                # deterministic per-(row, column) decision: both engines
                # read the same files, so the twin is identical for both
                sel.append(
                    f"CASE WHEN hash(CAST(({key}) AS VARCHAR) || '{c}') % 100 < {cols[c]} "
                    f"THEN NULL ELSE {c} END AS {c}"
                )
            else:
                sel.append(c)
        con.execute(
            f"COPY (SELECT {', '.join(sel)} FROM '{src}/{t}.parquet') TO '{dst}/{t}.parquet' (FORMAT PARQUET)"
        )
    con.close()


def main() -> int:
    ap = argparse.ArgumentParser(description="Value-check queries against their DuckDB oracles.")
    ap.add_argument("sf_dirs", nargs="*", metavar="sf_dir", help="scale dirs for the full run")
    ap.add_argument("--only", nargs="+", metavar="QUERY", help="check only these queries")
    ap.add_argument("--sf", nargs="+", default=[], metavar="SF_DIR", help="scale dirs for --only")
    ap.add_argument("--twins", action="store_true", help="also check the zero-row and null-injected twins of the first scale")
    args = ap.parse_args()

    from bigdata_project_spark.registry import REGISTRY, _ensure_loaded, all_queries
    from bigdata_project_spark.session import get_spark
    from oracle import compare, duckdb_con

    _ensure_loaded()
    names = args.only or list(REGISTRY)
    sfs = args.sf_dirs + args.sf or (DEFAULT_SFS[:2] if args.only else DEFAULT_SFS)
    spark = get_spark("verify-all")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    failed = False
    with tempfile.TemporaryDirectory(prefix="verify-twins-") as tmp:
        if args.twins:
            twins = [os.path.join(tmp, "empty"), os.path.join(tmp, "null")]
            build_empty_testbed(sfs[0], twins[0])
            build_null_testbed(sfs[0], twins[1])
            sfs = sfs + twins
        for sf in sfs:
            con = duckdb_con(sf)
            bad: list[str] = []
            for name in names:
                spec = REGISTRY[name]
                try:
                    df = qs[name](spark, sf)
                    if spec.oracle is None:
                        df.collect()  # rows-only: crash check
                        status = "rows-only ok"
                    else:
                        res = compare(name, df, con, spec.oracle)
                        status = "ok" if res.ok else f"s={res.spark_rows} d={res.oracle_rows} {res.detail[:160]}"
                        if not res.ok:
                            bad.append(f"  {name}: {status}")
                except Exception as e:  # noqa: BLE001
                    status = f"{type(e).__name__}: {str(e)[:160]}"
                    bad.append(f"  {name}: {status}")
                if args.only:
                    print(f"{sf} {name}: {status}", flush=True)
            con.close()
            print(f"{sf}: {len(names) - len(bad)}/{len(names)} ok", flush=True)
            if bad:
                failed = True
                print("\n".join(bad), flush=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
