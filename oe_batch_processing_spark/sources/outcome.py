"""Three-way record-outcome router (reference O7, SURVEY.md §2.3.1).

Every parsed frame carries ``statusText`` in {SUCCESS, FAILED, IGNORED}.
The router splits it into the success channel (flows to the sink), the error
channel (flows to the BatchStatus ledger), and the ignore channel (a plain
filter — never logged, never counted, reference lib/batchProcessing.js:626-629).

Counter semantics preserved: ``totalRecordCount`` counts only non-ignored
records (lib/batchProcessing.js:623,696).

These are DataFrame filters — Catalyst pushes them into the parse output and
both channels share the one upstream scan+parse (no double read when the plan
is materialized once via persist, or written with a single pass per channel).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SUCCESS = "SUCCESS"
FAILED = "FAILED"
IGNORED = "IGNORED"
FATAL = "FATAL"


@dataclass
class RoutedRecords:
    success: DataFrame
    failed: DataFrame
    non_ignored: DataFrame  # success + failed (= what the ledgers count)

    def counts(self) -> dict[str, int]:
        """total/success/failure counts in one aggregation pass (the
        reference's only aggregation, O12)."""
        row = (
            self.non_ignored.groupBy()
            .agg(
                F.count(F.lit(1)).alias("total"),
                F.sum(F.when(F.col("statusText") == SUCCESS, 1).otherwise(0)).alias(
                    "success"
                ),
                F.sum(F.when(F.col("statusText") == FAILED, 1).otherwise(0)).alias(
                    "failure"
                ),
            )
            .collect()[0]
        )
        return {
            "totalRecordCount": row["total"],
            "successCount": row["success"] or 0,
            "failureCount": row["failure"] or 0,
        }


def route(parsed: DataFrame) -> RoutedRecords:
    """Split a parsed frame (with statusText) into its outcome channels."""
    non_ignored = parsed.filter(F.col("statusText") != IGNORED)
    return RoutedRecords(
        success=non_ignored.filter(F.col("statusText") == SUCCESS),
        failed=non_ignored.filter(F.col("statusText") == FAILED),
        non_ignored=non_ignored,
    )


def route_native(scanned: DataFrame, corrupt_col: str = "_corrupt_record") -> RoutedRecords:
    """Router for the native CSV scan path: corrupt-record column NULL =>
    SUCCESS, non-NULL => FAILED (with the raw line as the error payload)."""
    parsed = scanned.withColumn(
        "statusText",
        F.when(F.col(corrupt_col).isNull(), F.lit(SUCCESS)).otherwise(F.lit(FAILED)),
    ).withColumn(
        "error",
        F.when(F.col(corrupt_col).isNotNull(), F.lit("Malformed CSV record")),
    )
    return route(parsed)
