"""Route-config join + 1->N multicast routing (SURVEY.md §2.5 J1, §2.8 M1, §2.4 F3-F4).

Reference control flow: look up RouteConfig by key (RouteIngestedFile.kt:452-462,
miss -> dead-letter :177-182), skip invalid routes (:155-175, :194), then for
each valid route write a full copy with merged metadata (:190-268).

Spark plan: one broadcast hash join (config is a handful of rows) annotates
every event with its destination, and no event is shuffled by the routing
step itself. The epoch plan (``route_or_dead_letter``) then projects every
annotated row to its destination or to the dead-letter pseudo-destination in
one pass, so each event is read once however many routes and error stages
there are.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_exchange_routing_spark.operators.validate import ERROR_COL, dead_letter_rows
from data_exchange_routing_spark.schemas import ERR_INVALID_ROUTE, ERR_NO_ROUTE

ROUTED_COLS = ("destination_table", "destination_partition", "extra_meta", "is_valid")
DEAD_LETTER_DEST = "dead_letter"


def annotate_routes(
    events: DataFrame,
    route_config: DataFrame,
    route_key_col: str = "content_type",
    default_route_key: str | None = None,
) -> DataFrame:
    """Broadcast-left-join events to routes; adds destination columns plus a
    `_route_error` column (null when routed).

    ``default_route_key`` implements the deprecated C# fallback route
    (deprecated/IngestionRouter_CSharp/RouteIngestedFile.cs:39-45,
    fileconfigs.json:15-20): a miss falls back to that route instead of
    dead-lettering.
    """
    cfg = F.broadcast(route_config.select("route_key", *ROUTED_COLS))
    joined = events.join(cfg, events[route_key_col] == cfg["route_key"], "left").drop("route_key")

    if default_route_key is not None:
        dflt = route_config.filter(F.col("route_key") == default_route_key).limit(1).collect()
        if dflt:
            d = dflt[0]
            joined = (
                joined.withColumn(
                    "destination_table", F.coalesce("destination_table", F.lit(d["destination_table"]))
                )
                .withColumn(
                    "destination_partition",
                    F.coalesce("destination_partition", F.lit(d["destination_partition"])),
                )
                .withColumn("is_valid", F.coalesce("is_valid", F.lit(d["is_valid"])))
            )

    return joined.withColumn(
        "_route_error",
        F.when(F.col("destination_table").isNull(), F.lit(ERR_NO_ROUTE))
        .when(~F.col("is_valid"), F.lit(ERR_INVALID_ROUTE)),
    )


def _merged_meta() -> Column:
    """A routed row's meta: the route's extra_meta merged in (per-route
    static metadata merge, RouteIngestedFile.kt:205-209)."""
    return F.when(
        F.col("extra_meta").isNotNull(), F.map_concat(F.col("meta"), F.col("extra_meta"))
    ).otherwise(F.col("meta"))


def split_routed(annotated: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(routed, dead_letter_rows). Routed rows get extra_meta merged into meta."""
    routed = (
        annotated.filter(F.col("_route_error").isNull())
        .withColumn("meta", _merged_meta())
        .drop("_route_error", "extra_meta", "is_valid")
    )
    dead = dead_letter_rows(annotated.filter(F.col("_route_error").isNotNull()), "_route_error", "route")
    return routed, dead


def route_or_dead_letter(flagged: DataFrame, route_config: DataFrame) -> DataFrame:
    """The epoch's one projection: validate, route and dead-letter every row
    of ``flagged`` (``validate.with_validation_error`` output) in a single
    pass over one scan, not a filtered branch per outcome.

    Adds ``error`` (the validation error, else the route error) and
    ``stage`` (``validate`` / ``route``, null when routed), and sets
    ``destination_table`` to ``dead_letter`` for every row with an error.
    Routed rows get their route's extra_meta merged into meta; dead rows
    keep meta as it reached the route join.
    """
    valid = F.col(ERROR_COL).isNull()
    # invalid rows join on a null key: they match no route and stay ONE row
    # even when their content_type has several config rows (1->N multicast)
    keyed = flagged.withColumn("_route_key", F.when(valid, F.col("content_type")))
    annotated = annotate_routes(keyed, route_config, route_key_col="_route_key")
    route_error = F.col("_route_error")
    error = F.coalesce(F.col(ERROR_COL), route_error)
    return (
        annotated.withColumns(
            {
                "error": error,
                "stage": F.when(~valid, F.lit("validate")).when(
                    route_error.isNotNull(), F.lit("route")
                ),
                "destination_table": F.when(error.isNull(), F.col("destination_table"))
                .otherwise(F.lit(DEAD_LETTER_DEST)),
                "meta": F.when(error.isNull(), _merged_meta()).otherwise(F.col("meta")),
            }
        )
        .drop(ERROR_COL, "_route_key", "_route_error", "extra_meta", "is_valid")
    )


def destinations_in(routed: DataFrame) -> list[str]:
    """Distinct destination tables present in a batch (bounded by config size,
    so this collect is O(#routes), never O(rows))."""
    return [r["destination_table"] for r in routed.select("destination_table").distinct().collect()]
