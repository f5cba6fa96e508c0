"""Seeded benchmark inputs and the independent reference they are checked
against.

An input is an epoch-partitioned change-event log written by the engine's own
generator (``sources.datagen.write_change_events``) with the workload seed in
``datagen.SEED``. Every run generates its input in its own session, after the
session start and before set-up, so every run warms its JVM the same way. The
generation time is reported as ``sources.datagen_s`` and is part of neither
set-up nor a timed phase.

The reference is the pure-Python last-writer-wins replay in ``tests/oracle.py``
(no Spark): per (destination, url) it keeps the max (warc_ts, lsn) event,
applies deletes and runs ``extract_text_py``.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import pandas as pd
import pyarrow.parquet as pq

@dataclass(frozen=True)
class LogSpec:
    """Shape of one generated change-event log."""

    name: str
    n_events: int
    n_urls: int
    n_epochs: int
    filler: int  # datagen filler_repeat: 1500 -> ~12 KB pages, 220 -> ~2 KB pages
    # rewrite each epoch into this many files, as a producer with that many
    # tasks would publish a WAL segment (None keeps the generator's layout)
    files_per_epoch: int | None = None


def generate_log(spark, path: str, spec: LogSpec, seed: int) -> float:
    """Write the log for (spec, seed) to ``path``; returns the seconds it
    took."""
    from data_exchange_routing_spark.sources import datagen

    saved = datagen.SEED
    datagen.SEED = seed
    try:
        t0 = time.perf_counter()
        datagen.write_change_events(
            spark, path, spec.n_events, spec.n_urls, n_epochs=spec.n_epochs, filler_repeat=spec.filler
        )
        if spec.files_per_epoch:
            for e in range(spec.n_epochs):
                _relayout(epoch_dir(path, e), spec.files_per_epoch)
        return time.perf_counter() - t0
    finally:
        datagen.SEED = saved


def _relayout(seg: str, n_files: int) -> None:
    """Rewrite one epoch directory as ``n_files`` contiguous row ranges,
    keeping the generator's row order."""
    table = pq.read_table(seg, partitioning=None)
    for name in os.listdir(seg):
        os.unlink(os.path.join(seg, name))
    n = table.num_rows
    for i in range(n_files):
        lo, hi = i * n // n_files, (i + 1) * n // n_files
        pq.write_table(table.slice(lo, hi - lo), os.path.join(seg, f"part-{i:05d}.parquet"))


def epoch_dir(log: str, epoch: int) -> str:
    return os.path.join(log, f"epoch_hint={epoch}")


def read_epochs(log: str, epochs: list[int]) -> pd.DataFrame:
    """Raw events of the given epochs, read with pyarrow (no Spark), in
    delivery order: a repeated epoch number is delivered twice."""
    frames = [pq.read_table(epoch_dir(log, e)).to_pandas() for e in epochs]
    return pd.concat(frames, ignore_index=True)


@dataclass
class Reference:
    """Expected results for everything delivered to one warehouse.

    ``batches`` are the delivery units in order (one per replay epoch or per
    streaming micro-batch); a redelivered segment appears twice."""

    batches: list[pd.DataFrame]
    states: dict[str, pd.DataFrame] = field(init=False)
    dead_letters: dict[str, int] = field(init=False)
    deleted: dict[str, list[str]] = field(init=False)

    def __post_init__(self) -> None:
        from tests.oracle import oracle_dead_letter_counts, oracle_final_states

        events = pd.concat(self.batches, ignore_index=True)
        self.states = oracle_final_states(events)
        self.dead_letters = oracle_dead_letter_counts(events)
        self.deleted = {}
        for dest, state in self.states.items():
            seen = set(self._routed(events, dest)["url"])
            self.deleted[dest] = sorted(seen - set(state["url"]))

    @staticmethod
    def _routed(events: pd.DataFrame, dest: str) -> pd.DataFrame:
        from tests.oracle import ROUTES, _as_dict, validation_error

        keep = [
            validation_error(_as_dict(m)) is None and ROUTES.get(ct) == dest
            for m, ct in zip(events["meta"], events["content_type"])
        ]
        return events[keep]

    def committed_rows(self, dest: str, batch: int) -> int:
        """Delta rows one batch commits to ``dest``: one row per distinct url
        routed there (last-writer-wins within the batch, tombstones
        included)."""
        return int(self._routed(self.batches[batch], dest)["url"].nunique())

    @property
    def n_events(self) -> int:
        return sum(len(b) for b in self.batches)
