"""Bronze -> silver quarantine gate (round 8).

Round 7 added the audits that DETECT corrupt rows — qa_timestamp_bounds
(event-time outside the declared validity window, where the engine's
bucketing idioms disagree and watermarks get poisoned) and
qa_nonfinite_values (NaN/Inf doubles, which the DECIMAL exact-sum tier
fails loudly on by contract). This module is the ACTING side the r7
verdict asked for: the silver transform routes flagged rows to a
quarantine side-output instead of letting them reach the lake, making
`test_nonfinite_gate_catches_then_quarantine_restores`'s restore loop
the production path.

Contract (mirrors the audits exactly):
- event-time: NULL, < _TS_VALID_LO, or >= _TS_VALID_HI  ->
  'ts_out_of_bounds'. NULL event time is quarantined here (a row
  without event time cannot enter any watermarked/windowed tier),
  even though qa_timestamp_bounds reports it in a separate counter.
- measures: NaN or +/-Inf in any declared double measure ->
  'nonfinite_measure'. NULL measures PASS — NULL is in-contract for
  the exact-sum tier (exact._finite_or_error passes NULLs through).
- first matching reason wins (time before measures, declaration
  order within measures); clean rows get NULL reason.

Scale: the reason column is a single CASE chain inside whole-stage
codegen, and the split is two filters over the same frame, so the gate
adds no exchange of its own. Each filter feeds its own write, and each
write evaluates the frame's plan again (the listing pipeline's dedup
window included); `listings.ingest.write_lake_with_quarantine`
therefore persists the bronze input for the two writes, so the landing
zone is read once.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bigdata_project_spark.queries.audit_ext import _TS_VALID_HI, _TS_VALID_LO

REASON_COL = "quarantine_reason"


def ts_out_of_bounds(c: Column) -> Column:
    return (
        c.isNull()
        | (c < F.lit(_TS_VALID_LO).cast("timestamp"))
        | (c >= F.lit(_TS_VALID_HI).cast("timestamp"))
    )


def nonfinite(c: Column) -> Column:
    # NULL-safe: isnan(NULL) is false and abs(NULL)=Inf is NULL, so a
    # NULL measure yields NULL -> not matched -> passes (in-contract)
    return F.isnan(c) | (F.abs(c) == F.lit(float("inf")))


def quarantine_reason(ts_col: Column | None, measure_cols: dict[str, Column]) -> Column:
    """First-match reason column; NULL when the row is clean."""
    reason = F.lit(None).cast("string")
    # build the CASE back to front so earlier conditions win
    for name, c in reversed(list(measure_cols.items())):
        reason = F.when(nonfinite(c), F.lit(f"nonfinite_measure:{name}")).otherwise(reason)
    if ts_col is not None:
        reason = F.when(ts_out_of_bounds(ts_col), F.lit("ts_out_of_bounds")).otherwise(reason)
    return reason


def split_quarantine(
    df: DataFrame, ts_col: Column | None, measure_cols: dict[str, Column]
) -> tuple[DataFrame, DataFrame]:
    """(clean, quarantined): clean drops the reason column, quarantined
    carries it for triage/restore."""
    flagged = df.withColumn(REASON_COL, quarantine_reason(ts_col, measure_cols))
    clean = flagged.filter(F.col(REASON_COL).isNull()).drop(REASON_COL)
    quarantined = flagged.filter(F.col(REASON_COL).isNotNull())
    return clean, quarantined
