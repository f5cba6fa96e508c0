#!/usr/bin/env python3
"""CDC ingest benchmark for data_exchange_routing_spark.

Run from the root of a checkout:

    python3 cdcbench/run.py --workload replay_bulk --seed 1 --seconds 5 --trace 0

Workloads (see workloads.py): ``replay_bulk`` and ``tail_segments``; each
makes one timed ingest call. ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` runs the same workload with spans, the Spark UI's REST
counters and layer probes, then serves reads from the merge-on-read state
for ``--seconds``, prints the per-layer metrics and writes the spans to
``.cdcbench/traces/``. The last stdout line is the
result JSON; the line before it carries sample counts, failures and host
noise.

Everything the run writes (input, warehouses, WAL, Spark scratch, traces)
stays under ``.cdcbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time
from types import SimpleNamespace

CORES = 4
DRIVER_MEM = "2g"


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["replay_bulk", "tail_segments"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _configure_env(root: str, work: str) -> dict:
    """Process environment for the engine's session factory and Spark;
    returns extra Spark conf. Must run before pyspark starts a JVM."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    cores = min(CORES, len(os.sched_getaffinity(0)))
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_GRAFT_DRIVER_XMS": DRIVER_MEM,
            "SPARK_GRAFT_JAVA_OPTS": f"-Djava.io.tmpdir={tmp}",
            "SPARK_LOCAL_DIRS": local,
            "SPARK_LOCAL_IP": "127.0.0.1",
            "TMPDIR": tmp,
            "PYSPARK_PYTHON": sys.executable,
            # Python workers import the engine from this checkout
            "PYTHONPATH": os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
        }
    )
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    import tempfile

    tempfile.tempdir = tmp
    return {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.ui.showConsoleProgress": "false",
    }


class MemSampler:
    """Peak memory of the driver JVM and its Python workers (the JVM's
    process tree), sampled from /proc as proportional set size: pages the
    forked workers share are split among them, not counted once per worker."""

    def __init__(self, pid: int, period_s: float = 0.5):
        self.pid = pid
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _tree_pss(self) -> int:
        kids: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
        total, todo = 0, [self.pid]
        while todo:
            p = todo.pop()
            todo.extend(kids.get(p, []))
            try:
                with open(f"/proc/{p}/smaps_rollup") as f:
                    total += next(int(line.split()[1]) for line in f if line.startswith("Pss:")) * 1024
            except (OSError, StopIteration, ValueError):
                pass
        return total

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, self._tree_pss())
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, self._tree_pss())


def _stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


_T0 = time.perf_counter()


def _log(msg: str) -> None:
    print(f"cdcbench [{time.perf_counter() - _T0:6.1f}s]: {msg}", file=sys.stderr, flush=True)


def end_to_end(ctx, ingest, setup_s: float, peak_mem: int) -> dict:
    m = {
        "setup_s": (setup_s, "s"),
        "ingest_events_per_s": (sum(ingest.events_per_op) / sum(ctx.rec.samples["ingest"]), "events/s"),
        "peak_pss_mb": (peak_mem / 1e6, "MB"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def main(argv=None) -> int:
    args = _parse(argv)
    root = os.getcwd()
    for need in ("data_exchange_routing_spark/__init__.py", "tests/oracle.py", "bench.py"):
        if not os.path.isfile(os.path.join(root, need)):
            print(f"cdcbench: {need} not found; run from the root of a repository checkout", file=sys.stderr)
            return 2
    work = os.path.join(root, ".cdcbench")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    os.makedirs(run_dir)
    extra_conf = _configure_env(root, work)
    sys.path[:0] = [root]

    import data_exchange_routing_spark

    if os.path.dirname(os.path.abspath(data_exchange_routing_spark.__file__)) != os.path.join(root, "data_exchange_routing_spark"):
        print("cdcbench: engine imported from outside the checkout", file=sys.stderr)
        return 2

    from bench import _cpu_sample, _host_noise
    from cdcbench import trace as tr
    from cdcbench.inputs import generate_log
    from cdcbench.workloads import WORKLOADS, Recorder, serve
    from data_exchange_routing_spark.session import get_spark

    if args.trace:
        extra_conf.update(
            {"spark.ui.enabled": "true", "spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"}
        )

    workload = WORKLOADS[args.workload]
    t0 = time.perf_counter()
    spark = get_spark("cdcbench", cores=int(os.environ["SPARK_GRAFT_CPUS"]), extra_conf=extra_conf)
    spark.range(1).count()
    jvm_start_s = time.perf_counter() - t0
    _log(f"session started in {jvm_start_s:.1f}s")
    try:
        # generated in this session before set-up, so every run warms its
        # JVM the same way before its first measured call
        log = os.path.join(run_dir, "log")
        datagen_s = generate_log(spark, log, workload.spec, args.seed)
        _log(f"input generated in {datagen_s:.1f}s")
        rec = Recorder()
        tracer = tr.Tracer(spark.sparkContext, f"{args.workload}-{args.seed}-{os.getpid()}") if args.trace else tr.NullTracer()
        listener = None
        if args.trace:
            tracer.enabled = False
            listener = tr.ProgressListener()
            spark.streams.addListener(listener)
            tr.install_wrappers(tracer)
        ctx = SimpleNamespace(
            spark=spark, root=root, run_dir=run_dir, seed=args.seed, rec=rec, tracer=tracer, trace=bool(args.trace)
        )
        ingest = workload(ctx, log, datagen_s)
        ingest.warmup()
        _log(f"warm-up done in {ingest.warm_s:.1f}s")

        cpu0, load0 = _cpu_sample(), os.getloadavg()
        with MemSampler(spark.sparkContext._gateway.proc.pid) as mem:
            ingest.run()
        noise = {**_host_noise(cpu0, _cpu_sample()), "loadavg_1m": [load0[0], os.getloadavg()[0]]}
        ingest.finish()
        setup_s = jvm_start_s + ingest.warm_s
        _log(f"ingest phase done: {[round(x, 2) for x in rec.samples.get('ingest', [])]}; set-up {setup_s:.1f}s")

        if args.trace:
            from cdcbench.probes import run_probes

            tracer.enabled = True
            lake_before = lake_stats(ingest)
            serve(ctx, ingest, args.seconds)
            _log("serve phase done")
            probe = run_probes(
                spark, tracer, ingest.probe_input(), ingest.wh.known_promote_keys(),
                ingest.wh.n_buckets, run_dir,
            )
            metrics, report = per_layer(ctx, ingest, tracer, listener, jvm_start_s, lake_before, probe)
        else:
            metrics = end_to_end(ctx, ingest, setup_s, mem.peak)
            report = {}
    finally:
        _log("stopping")
        _stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        _log("stopped")

    info = {
        "workload": args.workload,
        "seed": args.seed,
        "samples": {k: len(v) for k, v in rec.samples.items()},
        "ingest_s": rec.samples.get("ingest", []),
        "errors": rec.errors[:10],
        "host_noise": noise,
        **report,
    }
    print(json.dumps({"cdcbench": info}))
    print(
        json.dumps(
            {"correct": rec.failed == 0, "attempted": rec.attempted, "failed": rec.failed, "metrics": metrics}
        )
    )
    return 0


# ------------------------------------------------------------ per-layer


def lake_stats(ingest) -> dict:
    """Manifest-level shape of the served table in its merge-on-read state."""
    from cdcbench.workloads import SERVED, KeySampler

    tbl = ingest.wh.table(SERVED)
    sampler = KeySampler(random.Random(ingest.ctx.seed), ingest.ref, SERVED)
    keys = sorted({sampler.next()[0] for _ in range(20)})
    # the files left in point_read's plan after its pruning
    per_key = [len(tbl.point_read(k).inputFiles()) for k in keys]
    deltas = tbl.bucket_delta_stats().values()
    return {
        "point_read_files": statistics.median(per_key),
        "delta_files": sum(d["n_delta_files"] for d in deltas),
        "delta_rows": sum(d["delta_rows"] for d in deltas),
        "snapshot_files": len(tbl.snapshot().files),
    }


def per_layer(ctx, ingest, tracer, listener, jvm_start_s: float, lake: dict, probe: dict):
    from cdcbench import trace as tr
    from cdcbench.workloads import SERVED

    sc = ctx.spark.sparkContext
    jobs, stages = tr.fetch_jobs_and_stages(sc)
    op_spans = [s for s in tracer.spans if s["name"] in ("pipeline.replay", "streaming.stream_ingest")]
    alias = {s["stream_run_id"]: s["id"] for s in op_spans if "stream_run_id" in s}
    idx = tr.SpanIndex(tracer.spans, jobs, stages, alias)
    ops = [s["id"] for s in op_spans]
    epochs = idx.named("pipeline.apply_epoch")
    cores = int(os.environ["SPARK_GRAFT_CPUS"])

    # the last ingest call ran traced, the one before it untraced
    lag = ctx.rec.samples["ingest"]
    untraced, traced = lag[-2], lag[-1]
    traced_events = ingest.events_per_op[-1]
    overhead = traced - untraced

    tot = {k: 0 for k in tr.STAGE_FIELDS}
    for sid in ops:
        for k, v in idx.counters(sid).items():
            tot[k] = tot.get(k, 0) + v
    n_ops = max(len(ops), 1)
    op_wall = sum(idx.duration(s) for s in ops)

    trigger, start_stop, input_rows = [], [], 0
    for s in op_spans:
        if "stream_run_id" not in s:
            continue
        batches = listener.batches_of(s["stream_run_id"])
        trig = sum(b["duration_ms"].get("triggerExecution", 0) for b in batches) / 1000
        add = sum(b["duration_ms"].get("addBatch", 0) for b in batches) / 1000
        trigger.append(trig - add)
        start_stop.append(idx.duration(s["id"]) - trig)
        input_rows += sum(b["num_input_rows"] for b in batches)
    reads_per_row = (input_rows if trigger else tot["inputRecords"]) / max(traced_events, 1)

    stage_passes = [
        sum(1 for c in idx.subtree(e) if idx.spans[c]["name"] == "lake.stage_multicast_delta") for e in epochs
    ]
    compact = [s for s in tracer.spans if s["name"] == "lake.compact"]
    tbl = ingest.wh.table(SERVED)
    compact_bytes = sum(f.get("bytes", 0) for f in tbl.snapshot().files if f.get("kind") == "base")

    values = {
        "session.jvm_start_s": (jvm_start_s, "s"),
        "sources.binlog_reads_per_row": (reads_per_row, "ratio"),
        "sources.datagen_s": (ingest.datagen_s, "s"),
        "streaming.trigger_overhead_s": (tr.median(trigger), "s"),
        "streaming.start_stop_s": (tr.median(start_stop), "s"),
        "pipeline.apply_epoch_s": (tr.median(idx.duration(e) for e in epochs), "s"),
        "pipeline.driver_only_s": (tr.median(idx.duration(e) - idx.job_covered(e) for e in epochs), "s"),
        "pipeline.jobs_per_epoch": (tr.median(len(idx.jobs(e)) for e in epochs), "count"),
        "pipeline.staging_passes": (tr.median(stage_passes), "count"),
        "operators.route_s": (probe["route_s"], "s"),
        "operators.dead_letter_frac": (probe["dead_letter_frac"], "ratio"),
        "operators.dedup_extract_s": (probe["dedup_extract_s"], "s"),
        "operators.dedup_keep_ratio": (probe["dedup_keep_ratio"], "ratio"),
        "functions.extract_s": (probe["extract_s"], "s"),
        "functions.extract_mb_per_s": (probe["extract_mb_per_s"], "MB/s"),
        "lake.staging_s": (probe["staging_s"], "s"),
        "lake.staged_bytes_per_event": (probe["staged_bytes_per_event"], "B"),
        "lake.files_per_epoch": (tr.median(ingest.files_per_epoch), "count"),
        "lake.point_read_files": (lake["point_read_files"], "count"),
        "lake.delta_files": (lake["delta_files"], "count"),
        "lake.delta_rows": (lake["delta_rows"], "count"),
        "lake.snapshot_files": (lake["snapshot_files"], "count"),
        "lake.point_read_s": (tr.median(ctx.rec.samples.get("point_read", [])), "s"),
        "lake.scan_mor_s": (tr.median(ctx.rec.samples.get("scan_mor", [])), "s"),
        "lake.changefeed_s": (tr.median(ctx.rec.samples.get("changefeed", [])), "s"),
        "lake.compact_s": (tr.median(ctx.rec.samples.get("compact", [])), "s"),
        "lake.scan_compacted_s": (tr.median(ctx.rec.samples.get("scan_compacted", [])), "s"),
        "lake.compact_bytes_written": (compact_bytes if compact else 0, "B"),
        "spark.shuffle_write_bytes_per_event": (tot["shuffleWriteBytes"] / max(traced_events, 1), "B"),
        "spark.input_bytes": (tot["inputBytes"] / n_ops, "B"),
        "spark.spill_bytes": ((tot["memoryBytesSpilled"] + tot["diskBytesSpilled"]) / n_ops, "B"),
        "spark.gc_s": (tot["jvmGcTime"] / 1000 / n_ops, "s"),
        "spark.executor_cpu_s": (tot["executorCpuTime"] / 1e9 / n_ops, "s"),
        "spark.executor_busy_frac": (tot["executorRunTime"] / 1000 / max(op_wall * cores, 1e-9), "ratio"),
        "spark.tasks": (tot["numCompleteTasks"] / n_ops, "count"),
        "trace.overhead_s": (overhead, "s"),
    }
    self_by_layer = idx.self_by_layer()
    spans_out = [
        {**s, "self_s": idx.self_time(s["id"]), "spark": idx.counters(s["id"])} for s in tracer.spans
    ]
    os.makedirs(os.path.join(ctx.root, ".cdcbench", "traces"), exist_ok=True)
    path = os.path.join(ctx.root, ".cdcbench", "traces", f"{tracer.run_id}.json")
    with open(path, "w") as f:
        json.dump(
            {
                "run_id": tracer.run_id,
                "spans": spans_out,
                "streaming_progress": listener.progress,
                "self_s_by_layer": self_by_layer,
                "per_layer": {k: v for k, (v, _u) in values.items()},
                "probe": probe,
                "ingest_untraced_s": untraced,
                "ingest_traced_s": traced,
            },
            f,
            indent=1,
            default=str,
        )
    # per-event work (route + dedup/extract + staging, timed alone on one
    # epoch by the probes), scaled to the traced call's events, as a share
    # of that call's wall time
    per_event_s = (probe["route_s"] + probe["dedup_extract_s"] + probe["staging_s"]) / probe["n_events"]
    report = {
        "trace_file": os.path.relpath(path, ctx.root),
        "self_s_by_layer": self_by_layer,
        "tracing_overhead_s": overhead,
        "per_event_work_share": per_event_s * traced_events / traced,
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}, report


if __name__ == "__main__":
    sys.exit(main())
