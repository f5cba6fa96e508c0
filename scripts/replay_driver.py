#!/usr/bin/env python
"""Cluster entrypoint for the CDC replay engine.

    zip -qr engine.zip data_exchange_routing_spark
    spark-submit --master <master> --py-files engine.zip \
        scripts/replay_driver.py --events-dir EVENTS --warehouse WH \
        [--generate N_EVENTS N_URLS N_EPOCHS] [--compact-every K]

Replays all unapplied epochs from the partitioned event log and prints
per-table row counts. Re-running it is a no-op for already-committed epochs
(exactly-once guard). A live WAL is tailed by the same apply path: call
``streaming.ingest.stream_ingest`` on a schedule.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_exchange_routing_spark.pipeline import Warehouse, replay  # noqa: E402
from data_exchange_routing_spark.session import get_spark  # noqa: E402
from data_exchange_routing_spark.sources.configs import DESTINATION_TABLES  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events-dir", required=True)
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--n-buckets", type=int, default=32)
    ap.add_argument("--compact-every", type=int, default=None)
    ap.add_argument(
        "--generate",
        nargs=3,
        type=int,
        metavar=("N_EVENTS", "N_URLS", "N_EPOCHS"),
        help="synthesize a deterministic event log first (testing convenience)",
    )
    args = ap.parse_args()

    spark = get_spark("cdc-replay")
    if args.generate and not os.path.isdir(args.events_dir):
        from data_exchange_routing_spark.sources.datagen import write_change_events

        n_events, n_urls, n_epochs = args.generate
        write_change_events(spark, args.events_dir, n_events, n_urls, n_epochs=n_epochs)

    wh = Warehouse(spark, args.warehouse, n_buckets=args.n_buckets)
    result = replay(wh, args.events_dir, compact_every=args.compact_every)

    counts = {t: wh.table(t).read().count() for t in sorted(set(DESTINATION_TABLES))}
    counts["dead_letter"] = wh.table("dead_letter").read().count()
    counts["lineage_metrics"] = wh.table("lineage_metrics").read().count()
    print(json.dumps({**result, "table_rows": counts}))


if __name__ == "__main__":
    main()
