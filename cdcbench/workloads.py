"""The two ingest workloads and the serving phase of the traced run.

Every run is a closed loop with a single client: the next call starts when
the previous one has returned. A run times exactly one ingest call.
``replay_bulk`` makes the session's first, cold replay of the whole log into
a fresh warehouse, as a batch job does. ``tail_segments`` publishes one new
WAL segment and drains it with ``stream_ingest(source="binlog")``, after
set-up has made the session's first stream call.

The traced run then serves for ``--seconds`` of time inside calls: seeded
point reads on Zipf-ranked, cold and deleted keys and resolved scan
aggregates over the merge-on-read warehouse the ingest left behind, then
change-feed reads, one ``compact()`` and scans of the compacted table. Both
workloads serve, so a write-layout change that speeds ingest but leaves
more files or deltas per bucket shows up in the read metrics.
"""

from __future__ import annotations

import functools
import hashlib
import math
import os
import random
import shutil
import time

import pandas as pd
from pyspark.sql import functions as F

from cdcbench.inputs import LogSpec, Reference, epoch_dir, read_epochs

N_BUCKETS = 8
SERVED = "web_pages"
POINTS_PER_CYCLE = 2
MIN_SERVE_CYCLES = 4  # >= 8 point reads and 4 scans
STREAM_TIMEOUT_S = 150


class Recorder:
    """Timings and failures of every operation of a run."""

    def __init__(self):
        self.samples: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.spent = 0.0  # seconds inside timed calls

    def op(self, kind: str, fn, check=None):
        """Time ``fn()``; ``check(result)`` returns a problem string or None."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            res = fn()
        except Exception as e:  # a failed call is counted and the run goes on
            self.spent += time.perf_counter() - t0
            self._fail(kind, f"{type(e).__name__}: {e}")
            return None
        dt = time.perf_counter() - t0
        self.spent += dt
        self.samples.setdefault(kind, []).append(dt)
        if check is not None:
            problem = check(res)
            if problem:
                self._fail(kind, problem)
        return res

    def verify(self, kind: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self._fail(kind, "; ".join(problems[:3]))

    def _fail(self, kind: str, msg: str) -> None:
        self.failed += 1
        self.errors.append(f"{kind}: {msg}"[:500])


# ----------------------------------------------------------------- checks

STATE_COLS = ["url", "warc_ts", "html", "text", "lang", "charset"]
_NULL = "\x00"
_SEP = "\x1f"


def _digest_col(df):
    """Per-row digest of the state columns: the first 60 bits of the md5 of
    their text forms (timestamps as UTC microseconds, bytes as hex)."""
    parts = []
    for c in STATE_COLS:
        if c not in df.columns:
            v = F.lit(None).cast("string")
        elif c == "warc_ts":
            v = F.unix_micros(F.col(c)).cast("string")
        elif c == "html":
            v = F.hex(F.col(c))
        else:
            v = F.col(c)
        parts.append(F.coalesce(v, F.lit(_NULL)))
    return F.conv(F.substring(F.md5(F.concat_ws(_SEP, *parts)), 1, 15), 16, 10).cast("decimal(38,0)")


def _py_digest(rec: dict) -> int:
    parts = []
    for c in STATE_COLS:
        v = rec.get(c)
        if v is None or (isinstance(v, float) and math.isnan(v)):
            parts.append(_NULL)
        elif c == "warc_ts":
            parts.append(str(pd.Timestamp(v).value // 1000))
        elif c == "html":
            parts.append(bytes(v).hex().upper())
        else:
            parts.append(v)
    return int(hashlib.md5(_SEP.join(parts).encode()).hexdigest()[:15], 16)


def state_digest(wh) -> dict[str, tuple[int, int]]:
    """{destination: (rows, sum of row digests)} of the resolved state and
    {"dead_letter/<stage>": (rows, 0)}, in one Spark job."""
    from data_exchange_routing_spark.sources.configs import DESTINATION_TABLES

    dfs = []
    for dest in DESTINATION_TABLES:
        df = wh.table(dest).read()
        dfs.append(df.select(F.lit(dest).alias("t"), _digest_col(df).alias("h")))
    dead = wh.table("dead_letter").read()
    dfs.append(
        dead.select(F.concat(F.lit("dead_letter/"), "stage").alias("t"), F.lit(0).cast("decimal(38,0)").alias("h"))
    )
    rows = functools.reduce(lambda a, b: a.unionByName(b), dfs).groupBy("t").agg(F.count("*"), F.sum("h")).collect()
    return {r[0]: (r[1], int(r[2])) for r in rows}


def reference_digest(ref: Reference) -> dict[str, tuple[int, int]]:
    out = {
        dest: (len(state), sum(_py_digest(rec) for rec in state.to_dict("records")))
        for dest, state in ref.states.items()
        if len(state)
    }
    out.update({f"dead_letter/{stage}": (n, 0) for stage, n in ref.dead_letters.items() if n})
    return out


def check_state(wh, ref: Reference, got: dict | None = None) -> list[str]:
    """Final per-destination state and dead-letter counts per stage
    (``got``: their digest, if already taken) against the reference;
    returns the mismatches."""
    got, want = got or state_digest(wh), reference_digest(ref)
    return [
        f"{k}: (rows, digest) {got.get(k)}, expected {want.get(k)}"
        for k in sorted(set(got) | set(want))
        if got.get(k) != want.get(k)
    ]


# ---------------------------------------------------------------- ingest


class Ingest:
    """Shared shape of the ingest workloads; ``ctx`` carries the session,
    directories, recorder, tracer and seed."""

    spec: LogSpec
    # calls the traced run makes after the timed one; the last one is traced
    traced_extra = 1

    def __init__(self, ctx, log: str, datagen_s: float):
        self.ctx = ctx
        self.log, self.datagen_s = log, datagen_s
        self.events_per_op: list[int] = []
        self.feeds: list[tuple[int, int]] = []  # (from_version, expected change rows)
        self.files_per_epoch: list[float] = []
        self.wh = None
        self.ref: Reference | None = None
        self.warm_s = 0.0  # untimed warm-up work, reported as part of set-up

    def warmup(self) -> None:
        """Untimed first calls before the ingest phase, reported as set-up."""

    def finish(self) -> None:
        """Checks after the ingest phase; sets ``ref`` and ``feeds``."""

    def run(self) -> None:
        """The timed ingest call. A traced run then makes ``traced_extra``
        more calls; the time of the last, traced one minus that of the
        untraced one before it is the tracing overhead."""
        n = 1 + (self.traced_extra if self.ctx.trace else 0)
        for i in range(n):
            self.ctx.tracer.enabled = self.ctx.trace and i == n - 1
            if not self.step(i):
                break


def _n_files(wh) -> int:
    return sum(len(wh.table(t).snapshot().files) for t in wh.list_tables())


class ReplayBulk(Ingest):
    """``pipeline.replay`` of a bulk log (~12 KB pages, 4 epochs) into a
    fresh warehouse. The timed replay is the session's first, cold one. The
    traced run adds two warm replays, untraced then traced, so that the
    tracing overhead compares like with like."""

    spec = LogSpec("bulk", n_events=8000, n_urls=800, n_epochs=4, filler=1500)
    traced_extra = 2

    def __init__(self, ctx, log: str, datagen_s: float):
        super().__init__(ctx, log, datagen_s)
        self.ref = Reference([read_epochs(self.log, [e]) for e in range(self.spec.n_epochs)])

    def step(self, i: int) -> bool:
        from data_exchange_routing_spark.pipeline import Warehouse, replay

        ctx = self.ctx
        wh = Warehouse(ctx.spark, os.path.join(ctx.run_dir, f"wh{i}"), n_buckets=N_BUCKETS)
        with ctx.tracer.span("pipeline.replay", "pipeline") as sp, ctx.tracer.fallback(sp):
            res = ctx.rec.op("ingest", lambda: replay(wh, self.log))
        if res is None:
            return False
        self.events_per_op.append(self.ref.n_events)
        if ctx.trace:
            self.files_per_epoch.append(_n_files(wh) / self.spec.n_epochs)
        ctx.rec.verify("replay_state", check_state(wh, self.ref))
        if self.wh is not None:
            shutil.rmtree(self.wh.root, ignore_errors=True)
        self.wh = wh
        return True

    def finish(self) -> None:
        # every epoch commits once after the create snapshot (version 1)
        self.feeds = [(1, sum(self.ref.committed_rows(SERVED, b) for b in range(len(self.ref.batches))))]

    def probe_input(self) -> str:
        return epoch_dir(self.log, 0)


class TailSegments(Ingest):
    """Scheduled WAL tail: one ~1k-event segment of ~2 KB pages (4 files) is
    published (files copied, then its ``_SUCCESS`` stamped) and drained per
    call by an availableNow ``stream_ingest(source="binlog",
    max_epochs_per_batch=1)``. Set-up drains a base segment into an empty
    warehouse. The timed call, and the traced run's extra one, each bring a
    new segment. The traced run then re-delivers an applied segment
    (at-least-once delivery), which must leave the state unchanged."""

    # base + 2 segments; the log stops before datagen.EVOLUTION_EPOCH, so no
    # segment adds a column
    spec = LogSpec("tail", n_events=3000, n_urls=800, n_epochs=3, filler=220, files_per_epoch=4)

    def __init__(self, ctx, log: str, datagen_s: float):
        super().__init__(ctx, log, datagen_s)
        self.wal = os.path.join(ctx.run_dir, "wal")
        self.ckpt = os.path.join(ctx.run_dir, "checkpoint")
        self.batches: list[pd.DataFrame] = []
        # (served-table version, batches delivered) after each drain
        self.marks: list[tuple[int, int]] = []

    def _publish(self, src_epoch: int) -> str:
        """Copy a source segment into the WAL; returns its _SUCCESS marker,
        still to stamp (stamping makes the segment visible to the tail)."""
        dst = os.path.join(self.wal, f"epoch_hint={len(self.batches)}")
        shutil.copytree(epoch_dir(self.log, src_epoch), dst, ignore=shutil.ignore_patterns("_*", ".*"))
        self.batches.append(read_epochs(self.log, [src_epoch]))
        return os.path.join(dst, "_SUCCESS")

    def _drain(self, marker: str) -> bool:
        from data_exchange_routing_spark.streaming.ingest import stream_ingest

        ctx = self.ctx
        open(marker, "w").close()
        with ctx.tracer.span("streaming.stream_ingest", "streaming") as sp, ctx.tracer.fallback(sp):
            q = stream_ingest(ctx.spark, self.wal, self.wh, self.ckpt, source="binlog", max_epochs_per_batch=1)
            if sp is not None:
                sp["stream_run_id"] = str(q.runId)
            if not q.awaitTermination(STREAM_TIMEOUT_S):
                q.stop()
                raise TimeoutError(f"stream_ingest did not finish in {STREAM_TIMEOUT_S}s")
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        self.marks.append((self.wh.table(SERVED).current_version(), len(self.batches)))
        return True

    def warmup(self) -> None:
        from data_exchange_routing_spark.pipeline import Warehouse

        t0 = time.perf_counter()
        self.wh = Warehouse(self.ctx.spark, os.path.join(self.ctx.run_dir, "wh"), n_buckets=N_BUCKETS)
        os.makedirs(self.wal)
        self._drain(self._publish(0))
        self.warm_s += time.perf_counter() - t0

    def step(self, i: int) -> bool:
        marker = self._publish(1 + i)
        before = _n_files(self.wh) if self.ctx.trace else 0
        if self.ctx.rec.op("ingest", lambda: self._drain(marker)) is None:
            return False
        self.events_per_op.append(len(self.batches[-1]))
        if self.ctx.trace:
            self.files_per_epoch.append(_n_files(self.wh) - before)
        return True

    def probe_input(self) -> str:
        return epoch_dir(self.log, 1)

    def finish(self) -> None:
        ctx = self.ctx
        got = state_digest(self.wh)
        ctx.rec.verify("tail_state", check_state(self.wh, Reference(self.batches), got))
        if ctx.trace:
            ctx.tracer.enabled = False
            self._drain(self._publish(1))
            again = state_digest(self.wh)
            # destination tables are upserted, so they must not change; the
            # dead-letter table is appended, so it gains the segment's rows
            # again, as the reference over every delivery counts them
            upserted = sorted(k for k in set(got) | set(again) if not k.startswith("dead_letter/"))
            ctx.rec.verify(
                "redelivery", [f"{k}: {again.get(k)}, expected {got.get(k)}" for k in upserted if got.get(k) != again.get(k)]
            )
            ctx.rec.verify("redelivery_state", check_state(self.wh, Reference(self.batches), again))
        self.ref = Reference(self.batches)
        # change feed from the end of each drain but the last
        n = len(self.batches)
        self.feeds = [(v, sum(self.ref.committed_rows(SERVED, c) for c in range(b, n))) for v, b in self.marks[:-1]]


WORKLOADS = {"replay_bulk": ReplayBulk, "tail_segments": TailSegments}


# ----------------------------------------------------------------- serve


class KeySampler:
    """Seeded key mix: 70% Zipf over urls ranked by event count (hot), 20%
    uniform over live keys (cold), 10% deleted keys."""

    def __init__(self, rng: random.Random, ref: Reference, dest: str):
        self.rng = rng
        counts = pd.concat(ref.batches)["url"].value_counts()
        self.ranked = sorted(counts.index, key=lambda u: (-counts[u], u))
        self.state = {r.url: r for r in ref.states[dest].itertuples(index=False)}
        self.live = sorted(self.state)
        self.deleted = ref.deleted[dest]

    def next(self):
        u = self.rng.random()
        if u < 0.1 and self.deleted:
            key = self.rng.choice(self.deleted)
        elif u < 0.3:
            key = self.rng.choice(self.live)
        else:
            rank = int(math.exp(self.rng.random() * math.log(len(self.ranked))))
            key = self.ranked[min(rank, len(self.ranked)) - 1]
        return key, self.state.get(key)


def _point_check(key, want):
    def check(rows):
        if want is None:
            return f"{key}: deleted/absent key returned {len(rows)} rows" if rows else None
        exp = (key, pd.Timestamp(want.warc_ts).value // 1000, want.text, want.lang)
        got = [tuple(r) for r in rows]
        return None if got == [exp] else f"{key}: got {str(got)[:200]}"

    return check


def serve(ctx, ingest: Ingest, budget_s: float) -> None:
    tbl = ingest.wh.table(SERVED)
    rec = ctx.rec
    ref = ingest.ref
    keys = KeySampler(random.Random(ctx.seed), ref, SERVED)
    exp_state = ref.states[SERVED]
    exp_scan = (len(exp_state), int(sum(len(t) for t in exp_state["text"] if isinstance(t, str))))
    hashes = set()
    # one untimed pass, so that the read path's first-use costs (code
    # generation, JIT) stay out of the samples
    with ctx.tracer.span("lake.warm_reads", "lake"):
        tbl.point_read(exp_state["url"].iloc[0]).collect()
        tbl.read().agg(F.count("*")).collect()

    def point_read():
        key, want = keys.next()

        def call():
            with ctx.tracer.span("lake.point_read", "lake"):
                df = tbl.point_read(key)
                return df.select("url", F.unix_micros("warc_ts"), "text", "lang").collect()

        rec.op("point_read", call, _point_check(key, want))

    def scan(kind):
        def call():
            with ctx.tracer.span(f"lake.read.{kind}", "lake"):
                return tbl.read().agg(
                    F.count("*"),
                    F.sum(F.length("text")),
                    F.sum(F.pmod(F.xxhash64("url", "warc_ts", "text", "lang"), F.lit(2**31))),
                ).collect()[0]

        def check(r):
            hashes.add(r[2])
            got = (r[0], r[1] or 0)
            return None if got == exp_scan else f"{kind}: (rows, chars) {got}, expected {exp_scan}"

        rec.op(kind, call, check)

    start, cycles = rec.spent, 0
    while cycles < MIN_SERVE_CYCLES or rec.spent - start < budget_s:
        for _ in range(POINTS_PER_CYCLE):
            point_read()
        scan("scan_mor")
        cycles += 1
    if not ctx.trace:
        return

    # maintenance-side reads, measured per layer in the traced run
    for i in range(MIN_SERVE_CYCLES):
        v, want = ingest.feeds[i % len(ingest.feeds)]

        def feed(v=v):
            with ctx.tracer.span("lake.read_changes", "lake"):
                return tbl.read_changes(v).count()

        rec.op("changefeed", feed, lambda n, v=v, want=want: None if n == want else f"from v{v}: {n} rows, expected {want}")

    def compact():
        with ctx.tracer.span("lake.compact", "lake"):
            return tbl.compact()

    rec.op("compact", compact, lambda r: "compaction skipped" if r.get("skipped") else None)
    for _ in range(MIN_SERVE_CYCLES):
        scan("scan_compacted")
    rec.verify("scan_compact_equal", [] if len(hashes) == 1 else [f"scan hash differs across compaction: {hashes}"])
