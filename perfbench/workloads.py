"""The workloads: their operations, inputs and correctness checks.

A workload is a list of operations run once per pass. An operation has a
builder (the call into the program that returns a DataFrame), a sink that
executes it, and a check that executes it instead in the warm pass of a run.
Registry operations call `REGISTRY[name].fn`, execute through the noop
sink, and are checked against their DuckDB oracle with the multiset
comparison in tests/oracle.py. The listings operations call the
reference pipeline in `listings.ingest` and are checked against what the
seeded landing-zone generator says a correct pipeline must produce.
"""

from __future__ import annotations

import random
import shutil
from dataclasses import dataclass
from pathlib import Path
from typing import Callable

import pyarrow.parquet as pq

from perfbench.listings_gen import Landing, write_landing

# Byte-identical copies of the repository's test tables (TESTDATA.md), so
# that a run reads nothing outside its checkout. README lists their sha256.
DATA_DIR = Path(__file__).resolve().parent / "data"


@dataclass
class Inputs:
    """What set-up produced for one run."""

    root: Path  # this run's private directory inside the checkout
    sf_dir: str = ""  # test tables, for registry operations
    landing: Landing | None = None  # generated landing zone, for listings operations
    records: int = 0  # the workload's stated input records per pass

    @property
    def pass_dir(self) -> Path:
        """Scratch directory for outputs a pass writes (the lake)."""
        return self.root / "pass"


@dataclass
class Op:
    name: str
    build: Callable  # (spark, inputs) -> DataFrame
    sink: Callable  # (df, inputs) -> None: executes the DataFrame
    # (spark, df, inputs, oracle_con) -> error or None; executes the
    # DataFrame in place of the sink and checks what it produced
    check: Callable


def noop_sink(df, inputs: Inputs) -> None:
    df.write.format("noop").mode("overwrite").save()


def registry_op(name: str) -> Op:
    def build(spark, inputs: Inputs):
        from bigdata_project_spark.registry import REGISTRY

        return REGISTRY[name].fn(spark, inputs.sf_dir)

    def check(spark, df, inputs: Inputs, con) -> str | None:
        from bigdata_project_spark.registry import REGISTRY
        from tests.oracle import compare

        res = compare(name, df, con, REGISTRY[name].oracle)
        return None if res.ok else f"{res.detail} (spark {res.spark_rows} rows, oracle {res.oracle_rows})"

    return Op(name, build, noop_sink, check)


# --- listings_etl: landing JSON -> normalize/dedup/quarantine -> lake -> read-back


def lake_dir(inputs: Inputs) -> Path:
    return inputs.pass_dir / "lake"


def quarantine_dir(inputs: Inputs) -> Path:
    return inputs.pass_dir / "quarantine"


def _etl_build(spark, inputs: Inputs):
    from bigdata_project_spark.listings.ingest import read_listings_json

    return read_listings_json(spark, str(inputs.landing.root / "house" / "*"))


def _etl_sink(df, inputs: Inputs) -> None:
    from bigdata_project_spark.listings.ingest import write_lake_with_quarantine

    write_lake_with_quarantine(df, str(lake_dir(inputs)), str(quarantine_dir(inputs)), mode="overwrite")


def _etl_check(spark, df, inputs: Inputs, con) -> str | None:
    from pyspark.sql import functions as F

    _etl_sink(df, inputs)
    land = inputs.landing
    n, ids = spark.read.parquet(str(lake_dir(inputs))).agg(F.count("*"), F.countDistinct("id")).first()
    quarantined = spark.read.parquet(str(quarantine_dir(inputs))).count()
    if (n, ids, quarantined) != (land.lake_ids, land.lake_ids, land.poison):
        return (
            f"lake rows {n} / distinct ids {ids} / quarantined {quarantined}; "
            f"expected {land.lake_ids} / {land.lake_ids} / {land.poison}"
        )
    return None


def _readback_build(spark, inputs: Inputs):
    from pyspark.sql import functions as F

    return (
        spark.read.parquet(str(lake_dir(inputs)))
        .groupBy("district")
        .agg(F.count("*").alias("n"), F.sum("price").alias("price_sum"))
    )


def _readback_check(spark, df, inputs: Inputs, con) -> str | None:
    got = {r["district"]: (r["n"], r["price_sum"]) for r in df.collect()}
    land = inputs.landing
    want = {d: (c, land.district_price_sums[d]) for d, c in land.district_counts.items()}
    return None if got == want else f"per-district counts differ: {sorted(set(got.items()) ^ set(want.items()))[:3]}"


LISTINGS_OPS = (
    Op("listings_etl", _etl_build, _etl_sink, _etl_check),
    Op("listings_readback", _readback_build, noop_sink, _readback_check),
)


@dataclass(frozen=True)
class Workload:
    name: str
    ops: tuple[Op, ...]
    sf: str = ""  # scale of the test tables, e.g. "0.01" (registry workloads)
    listing_ids: int = 0  # distinct listings in the landing zone (listings workload)
    # the tables whose rows the workload states as its input records per pass
    input_tables: tuple[str, ...] = ()
    pipeline: bool = False  # each operation reads the previous one's output: keep the order

    def prepare(self, root: Path, seed: int) -> Inputs:
        """This run's inputs. The listings landing zone is generated from
        the seed; registry workloads read the fixed test tables, and the
        seed only orders their operations."""
        inputs = Inputs(root=root)
        if self.listing_ids:
            inputs.landing = write_landing(root / "landing", self.listing_ids, seed)
            inputs.records = inputs.landing.files
        else:
            sf_dir = DATA_DIR / f"sf{self.sf}"
            inputs.sf_dir = str(sf_dir)
            inputs.records = sum(pq.ParquetFile(sf_dir / f"{t}.parquet").metadata.num_rows for t in self.input_tables)
        return inputs

    def order(self, seed: int, pass_no: int) -> list[Op]:
        """This pass's operation order: a permutation drawn from the seed,
        unless the operations form a pipeline."""
        ops = list(self.ops)
        if not self.pipeline:
            random.Random(seed * 1_000_003 + pass_no).shuffle(ops)
        return ops


def clear_pass(inputs: Inputs) -> None:
    shutil.rmtree(inputs.pass_dir, ignore_errors=True)


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "stream_incremental",
            tuple(
                registry_op(n)
                for n in ("stream_countmin_incremental", "stream_tumbling_hourly")
            ),
            sf="0.01",
            # countmin streams the documents, the windowed stream the events
            input_tables=("documents", "events"),
        ),
        Workload("listings_etl", LISTINGS_OPS, listing_ids=3000, pipeline=True),
    )
}
