"""Oracle verification at the testbed scales, one command.

Replays what the external harness does — every `queries()` entry vs
its `oracle_sql()` DuckDB twin, row-count + columns + order-insensitive
canonical value multiset. The full-registry run at all three scale
factors is the closing check each round runs after any query/oracle
change (~2-4 min per small scale, ~10 min at sf0.1); `--only` is the
fast inner loop after touching an operator.

Usage: python tools/verify_all.py [sf_dir ...]          (default: all three)
       python tools/verify_all.py --only QUERY... [--sf SF_DIR...]
                                   (default scales: sf0.001 and sf0.01)
Exit code 0 iff every selected oracled query matches at every scale;
rows-only queries are executed as a crash check.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"))

DEFAULT_SFS = [
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
]


def main() -> int:
    ap = argparse.ArgumentParser(description="Value-check queries against their DuckDB oracles.")
    ap.add_argument("sf_dirs", nargs="*", metavar="sf_dir", help="scale dirs for the full run")
    ap.add_argument("--only", nargs="+", metavar="QUERY", help="check only these queries")
    ap.add_argument("--sf", nargs="+", default=[], metavar="SF_DIR", help="scale dirs for --only")
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
