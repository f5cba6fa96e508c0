"""Validation split: valid rows vs dead-letter rows (SURVEY.md §2.4 F1-F2, F12).

The reference rejects row-by-row, never the whole batch (CHANGELOG 0.0.40
"better error handling to not reject the entire batch for a single message"),
so validation is one computed error column — no task aborts on data errors.
The epoch plan reads that column in its single route projection
(``routing.route_or_dead_letter``); ``split_valid`` is the standalone pair of
complementary filters over it.

Exact error strings are part of the contract (the reference asserts exact
messages: Unit_FnDecompressor.kt:88-135).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_exchange_routing_spark.schemas import (
    ERR_BAD_OP,
    ERR_EMPTY_META,
    ERR_MISSING_STREAM_ID,
    ERR_MISSING_STREAM_ROUTE,
)

ERROR_COL = "_error"


def with_validation_error(df: DataFrame) -> DataFrame:
    """Compute the first failing predicate per row (short-circuit order mirrors
    the reference pipe: empty meta -> F1 (RouteIngestedFile.kt:117-119),
    missing keys -> F2 (:142-145), unknown op -> engine guard)."""
    meta = F.col("meta")
    return df.withColumn(
        ERROR_COL,
        F.when(meta.isNull() | (F.size(meta) == 0), F.lit(ERR_EMPTY_META))
        .when(
            F.coalesce(meta.getItem("data_stream_id"), F.lit("")) == "",
            F.lit(ERR_MISSING_STREAM_ID),
        )
        .when(
            F.coalesce(meta.getItem("data_stream_route"), F.lit("")) == "",
            F.lit(ERR_MISSING_STREAM_ROUTE),
        )
        .when(~F.col("op").isin("I", "U", "D"), F.lit(ERR_BAD_OP)),
    )


def split_valid(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Return (valid, dead_letter_rows). dead_letter rows carry the exact
    error and the stage name, shaped for the dead_letter table."""
    flagged = with_validation_error(df)
    valid = flagged.filter(F.col(ERROR_COL).isNull()).drop(ERROR_COL)
    dead = dead_letter_rows(flagged.filter(F.col(ERROR_COL).isNotNull()), ERROR_COL, "validate")
    return valid, dead


def dead_letter_rows(df: DataFrame, error_col: str, stage: str) -> DataFrame:
    """Rows shaped for the dead_letter table, with ``stage`` as their stage."""
    return df.select(
        F.col("url"),
        F.col("lsn"),
        F.col(error_col).alias("error"),
        F.lit(stage).alias("stage"),
        F.col("warc_ts"),
        F.col("meta"),
    )
