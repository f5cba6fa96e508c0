"""End-to-end CDC replay: final-table-state equality vs the pandas oracle
(the Spark analog of the reference's exact-output assertions,
Unit_FnDecompressor.kt:39-135), plus idempotency / resume convergence."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from data_exchange_routing_spark.pipeline import Warehouse, apply_epoch, replay
from data_exchange_routing_spark.sources.configs import DESTINATION_TABLES
from data_exchange_routing_spark.sources.datagen import write_change_events
from tests.oracle import oracle_dead_letter_counts, oracle_final_states

N_EVENTS = 4000
N_URLS = 400
N_EPOCHS = 6


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("events"))
    write_change_events(spark, d, N_EVENTS, N_URLS, n_epochs=N_EPOCHS)
    return d


@pytest.fixture(scope="module")
def events_pdf(spark, events_dir) -> pd.DataFrame:
    return spark.read.parquet(events_dir).toPandas()


def _redeliver(spark, wh: Warehouse, events_dir: str, epoch: int) -> dict:
    """At-least-once redelivery of one whole segment, straight through
    apply_epoch (replay itself skips epochs its lineage guard holds)."""
    events = spark.read.parquet(os.path.join(events_dir, f"epoch_hint={epoch}"))
    return apply_epoch(wh, events, epoch_id=epoch)


def _count_staging_passes(monkeypatch) -> list[int]:
    """Record each ``pipeline.stage_multicast_delta`` call (one per staged
    write) in the returned list."""
    import data_exchange_routing_spark.pipeline as P

    calls: list[int] = []
    orig = P.stage_multicast_delta

    def counting(*a, **k):
        calls.append(1)
        return orig(*a, **k)

    monkeypatch.setattr(P, "stage_multicast_delta", counting)
    return calls


def _assert_state_equal(spark, wh: Warehouse, events_pdf: pd.DataFrame):
    expected = oracle_final_states(events_pdf)
    for dest in sorted(set(DESTINATION_TABLES)):
        got = wh.table(dest).read().toPandas()
        exp = expected[dest]
        # align: charset may be absent if no evolution rows hit this table
        for col in exp.columns:
            if col not in got.columns:
                assert exp[col].isna().all(), f"{dest}: missing column {col}"
                got[col] = None
        got = got[exp.columns].sort_values("url").reset_index(drop=True)
        exp = exp.sort_values("url").reset_index(drop=True)
        assert len(got) == len(exp), f"{dest}: {len(got)} rows vs oracle {len(exp)}"
        for col in exp.columns:
            g, e = got[col], exp[col]
            if col == "html":
                g = g.map(lambda b: bytes(b) if b is not None else None)
            if col == "text":
                # byte-identity contract
                ge = g.map(lambda s: s.encode("utf-8", "surrogatepass") if s is not None else None)
                ee = e.map(lambda s: s.encode("utf-8", "surrogatepass") if s is not None else None)
                assert ge.equals(ee), f"{dest}.{col} differs"
            else:
                assert g.where(pd.notna(g), None).equals(e.where(pd.notna(e), None)), f"{dest}.{col} differs"


def test_full_replay_matches_oracle(spark, events_dir, events_pdf, tmpdir_path):
    wh = Warehouse(spark, os.path.join(tmpdir_path, "wh"), n_buckets=8)
    res = replay(wh, events_dir)
    assert res["applied_epochs"] == list(range(N_EPOCHS))
    _assert_state_equal(spark, wh, events_pdf)

    # dead-letter counts (duplicates included) + exact stage labels
    dl = wh.table("dead_letter").read().toPandas()
    exp_counts = oracle_dead_letter_counts(events_pdf)
    got_counts = dl.groupby("stage").size().to_dict()
    assert got_counts.get("validate", 0) == exp_counts["validate"]
    assert got_counts.get("route", 0) == exp_counts["route"]

    # lineage rows exist for every committed (epoch, destination); routed
    # commits are SUCCESS, dead-letter rows carry FAILURE (PSReportEnvelope
    # StageStatus analog)
    lm = wh.table("lineage_metrics").read().toPandas()
    routed_lm = lm[lm["destination_table"] != "dead_letter"]
    assert (routed_lm["status"] == "SUCCESS").all()
    assert (lm[lm["destination_table"] == "dead_letter"]["status"] == "FAILURE").all()
    assert lm["rows_applied"].sum() > 0

    # schema evolution actually happened: charset column present on web_pages
    assert "charset" in [f.name for f in wh.table("web_pages").snapshot().schema().fields]


def test_replay_is_idempotent(spark, events_dir, events_pdf, tmpdir_path):
    """Redelivering every epoch after a full replay (at-least-once delivery)
    changes nothing: epoch guards skip every commit, and a re-run replay
    has nothing left to apply."""
    wh = Warehouse(spark, os.path.join(tmpdir_path, "wh"), n_buckets=8)
    replay(wh, events_dir)
    tables = set(DESTINATION_TABLES) | {"dead_letter", "lineage_metrics"}
    v_before = {d: wh.table(d).current_version() for d in tables}
    for e in range(N_EPOCHS):
        stats = _redeliver(spark, wh, events_dir, e)
        assert all(r["skipped"] for r in stats["destinations"].values())
    assert replay(wh, events_dir)["applied_epochs"] == []
    for d in tables:
        assert wh.table(d).current_version() == v_before[d], f"{d} re-committed"
    _assert_state_equal(spark, wh, events_pdf)


def test_epoch_applied_outside_replay_is_not_restaged(
    spark, events_dir, tmpdir_path, monkeypatch
):
    """An epoch whose commits all landed is done, even when replay never
    saw it finish (a crash right after its lineage commit): replay reads
    progress from the lineage guard, so it neither re-applies nor re-stages
    that epoch, and it keeps no per-epoch progress file of its own."""
    wh = Warehouse(spark, os.path.join(tmpdir_path, "wh_precommitted"), n_buckets=8)
    wh.init_tables()
    _redeliver(spark, wh, events_dir, 0)

    calls = _count_staging_passes(monkeypatch)
    res = replay(wh, events_dir, stop_after_epoch=1, max_concurrent_epochs=1)
    assert res["applied_epochs"] == [1] and res["skipped_epochs"] == [0]
    assert len(calls) == 1, f"expected 1 staging pass (epoch 1 only), got {len(calls)}"
    assert os.listdir(os.path.join(wh.root, "_checkpoints")) == ["promoted_meta_keys.json"]


def test_replay_applies_only_stamped_segments(spark, tmpdir_path):
    """A live WAL without a root _SUCCESS: a segment that has files but no
    _SUCCESS of its own is still being copied, so replay must neither apply
    it nor mark it done, nor apply any segment after it. Once stamped, it and
    the segments behind it are applied."""
    log = os.path.join(tmpdir_path, "wal")
    write_change_events(spark, log, 400, 40, n_epochs=3)
    os.unlink(os.path.join(log, "_SUCCESS"))
    for e in (0, 2):
        open(os.path.join(log, f"epoch_hint={e}", "_SUCCESS"), "w").close()
    assert any(n.endswith(".parquet") for n in os.listdir(os.path.join(log, "epoch_hint=1")))

    wh = Warehouse(spark, os.path.join(tmpdir_path, "wh"), n_buckets=4)
    assert replay(wh, log)["applied_epochs"] == [0]
    assert wh.completed_epochs() == {0}

    open(os.path.join(log, "epoch_hint=1", "_SUCCESS"), "w").close()
    res = replay(wh, log)
    assert res["applied_epochs"] == [1, 2] and res["skipped_epochs"] == [0]


def test_resume_from_checkpoint_converges(spark, events_dir, events_pdf, tmpdir_path):
    """Kill after epoch 2, resume — final state identical (T3 replay)."""
    wh = Warehouse(spark, os.path.join(tmpdir_path, "wh"), n_buckets=8)
    res1 = replay(wh, events_dir, stop_after_epoch=2)
    assert res1["applied_epochs"] == [0, 1, 2]
    res2 = replay(wh, events_dir)
    assert res2["applied_epochs"] == [3, 4, 5]
    _assert_state_equal(spark, wh, events_pdf)


def test_compaction_preserves_state(spark, events_dir, events_pdf, tmpdir_path):
    wh = Warehouse(spark, os.path.join(tmpdir_path, "wh"), n_buckets=8)
    replay(wh, events_dir, compact_every=3)
    _assert_state_equal(spark, wh, events_pdf)
    # after final-epoch compaction the table is all base files
    snap = wh.table("web_pages").snapshot()
    assert all(f["kind"] == "base" for f in snap.files)


def test_local_fused_dedup_equivalent(spark, events_dir, events_pdf, tmpdir_path):
    """The one-shuffle fused path (repartition (dest,bucket) -> local sort ->
    adjacency dedup + extraction in one Arrow pass) must reach the identical
    final state, including dead letters kept at-least-once and file/bucket
    manifest invariants."""
    wh = Warehouse(spark, os.path.join(tmpdir_path, "wh"), n_buckets=8)
    replay(wh, events_dir)
    _assert_state_equal(spark, wh, events_pdf)
    snap = wh.table("web_pages").snapshot()
    # one-file-per-(dest,bucket)-per-epoch survives the direct write
    per_epoch_bucket: dict = {}
    for f in snap.files:
        if f["kind"] != "base":
            per_epoch_bucket.setdefault((f.get("epoch_id"), f["bucket"]), 0)
            per_epoch_bucket[(f.get("epoch_id"), f["bucket"])] += 1
    assert snap.files and all(0 <= f["bucket"] < 8 for f in snap.files)


def test_pipeline_commits_carry_real_buckets(spark, events_dir, events_pdf, tmpdir_path):
    """Regression: the staged-write manifest entries must record the actual
    bucket (the bucket dir is `_b=K`; a filter once dropped underscore
    components and recorded -1, silently defeating manifest pruning)."""
    wh = Warehouse(spark, os.path.join(tmpdir_path, "wh"), n_buckets=8)
    replay(wh, events_dir, stop_after_epoch=0)
    snap = wh.table("web_pages").snapshot()
    assert snap.files and all(0 <= f["bucket"] < 8 for f in snap.files)
    # bucket-selective read returns a strict subset
    full = wh.table("web_pages").read().count()
    part = wh.table("web_pages").read(buckets=[0]).count()
    assert 0 < part < full


def test_warehouse_health_probe(spark, tmpdir_path):
    """Health probe: ok=True with per-table stats on a live warehouse,
    ok=False naming the missing table on a broken one; zero Spark jobs."""
    from data_exchange_routing_spark.pipeline import Warehouse, apply_epoch, warehouse_health
    from data_exchange_routing_spark.sources.datagen import generate_change_events

    wh = Warehouse(spark, tmpdir_path + "/wh", n_buckets=4)
    wh.init_tables()
    apply_epoch(wh, generate_change_events(spark, 200, 40, n_epochs=1), epoch_id=0)
    h = warehouse_health(wh)
    assert h["ok"] and h["tables"]["web_pages"]["rows"] > 0
    assert h["tables"]["web_pages"]["version"] >= 2

    broken = Warehouse(spark, tmpdir_path + "/nope", n_buckets=4)
    hb = warehouse_health(broken)
    assert not hb["ok"] and "error" in hb["tables"]["web_pages"]


def test_incremental_maintenance_bounds_work(spark, events_dir, events_pdf, tmpdir_path):
    """maintain() compacts only the worst-K buckets per cycle (manifest-only
    selection, untouched buckets keep their exact files) and repeated cycles
    converge the whole table — the O(selected), never O(table), ops loop."""
    from data_exchange_routing_spark.pipeline import Warehouse, maintain, replay

    wh = Warehouse(spark, os.path.join(tmpdir_path, "wh"), n_buckets=8)
    replay(wh, events_dir)
    t = wh.table("web_pages")
    before_stats = t.bucket_delta_stats()
    dirty = [b for b, s in before_stats.items() if s["n_delta_files"] > 0]
    assert len(dirty) > 2
    before_files = {f["path"]: f for f in t.snapshot().files}

    rep = maintain(wh, max_buckets_per_table=2)
    done = rep["web_pages"]["compacted_buckets"]
    assert len(done) == 2
    after_stats = t.bucket_delta_stats()
    for b in done:
        assert after_stats[b]["n_delta_files"] == 0
    # untouched buckets keep their exact files (no O(table) rewrite)
    for f in t.snapshot().files:
        if f["bucket"] not in done:
            assert before_files[f["path"]] == f
    # cycles converge; state stays equal to the oracle throughout
    for _ in range(6):
        maintain(wh, max_buckets_per_table=2)
    assert all(s["n_delta_files"] == 0 for b, s in t.bucket_delta_stats().items() if b >= 0)
    _assert_state_equal(spark, wh, events_pdf)


def test_maintenance_auto_grows_bucket_count(spark, events_dir, events_pdf, tmpdir_path):
    """target_rows_per_bucket triggers a rebucket to the next power of two
    that restores rows/bucket <= target; state stays oracle-equal and the
    next cycle (now under target) performs no further rewrite."""
    from data_exchange_routing_spark.pipeline import Warehouse, maintain, replay

    wh = Warehouse(spark, os.path.join(tmpdir_path, "wh"), n_buckets=2)
    replay(wh, events_dir)
    t = wh.table("web_pages")
    live = t.read().count()
    target = max(1, live // 7)  # forces growth 2 -> 16 (next pow2 over 14x)

    # fresh replay = all delta files: growth is deferred (delta row counts
    # include superseded versions/tombstones and must not inflate the
    # trigger); this cycle compacts instead
    rep0 = maintain(wh, target_rows_per_bucket=target)
    assert "rebucket" not in rep0["web_pages"]
    assert rep0["web_pages"]["compacted_buckets"]

    # with base files measuring live rows, the next cycle grows
    rep = maintain(wh, target_rows_per_bucket=target)
    rb = rep["web_pages"]["rebucket"]
    assert rb["skipped"] is False
    new_n = t.snapshot().n_buckets
    assert new_n >= 8 and new_n & (new_n - 1) == 0  # grew, power of two
    assert live <= target * new_n  # target restored
    # report shape stays uniform for ops consumers
    assert rep["web_pages"]["compacted_buckets"] == []
    _assert_state_equal(spark, wh, events_pdf)

    # already under target -> no rebucket on the next cycle
    rep2 = maintain(wh, target_rows_per_bucket=target)
    assert "rebucket" not in rep2["web_pages"]


def test_maintenance_minor_fold_keeps_state(spark, events_dir, events_pdf, tmpdir_path):
    """minor=True folds every bucket's deltas to one file (base untouched),
    state stays oracle-equal, and the big selective compaction still runs."""
    from data_exchange_routing_spark.pipeline import Warehouse, maintain, replay

    wh = Warehouse(spark, os.path.join(tmpdir_path, "wh"), n_buckets=4)
    replay(wh, events_dir)
    t = wh.table("web_pages")
    rep = maintain(wh, max_buckets_per_table=1, minor=True)
    assert rep["web_pages"]["minor"]["skipped"] is False
    per_bucket = {}
    for f in t.snapshot().files:
        if f["kind"] == "delta":
            per_bucket[f["bucket"]] = per_bucket.get(f["bucket"], 0) + 1
    assert all(v == 1 for v in per_bucket.values())
    _assert_state_equal(spark, wh, events_pdf)


def test_staging_vacuum_reclaims_redelivery_leak(spark, events_dir, tmpdir_path):
    """Round-3 gap: a REDELIVERED epoch (at-least-once) stages its full
    batch before every per-table commit is guard-skipped — nothing ever
    references that staging dir, so each redelivery leaked an epoch of
    parquet forever. vacuum_staging removes exactly the unreferenced dirs
    (age-gated for in-flight safety) and committed epochs' zero-copy
    staged files survive with reads intact."""
    import os

    from data_exchange_routing_spark.pipeline import Warehouse, maintain, replay

    wh = Warehouse(spark, f"{tmpdir_path}/wh", n_buckets=4)
    replay(wh, events_dir, max_concurrent_epochs=1)
    staging = os.path.join(wh.root, "_staging")
    committed_dirs = set(os.listdir(staging))
    want = sorted(tuple(r) for r in wh.table("web_pages").read().collect())

    # redeliver every epoch: guards skip all commits, staging dirs leak
    for e in range(N_EPOCHS):
        stats = _redeliver(spark, wh, events_dir, e)
        assert all(r["skipped"] for r in stats["destinations"].values())
    leaked = set(os.listdir(staging)) - committed_dirs
    assert leaked, "redelivery should have staged fresh dirs"

    res = wh.vacuum_staging(min_age_s=0)
    assert res["dirs_removed"] == len(leaked)
    assert set(os.listdir(staging)) == committed_dirs  # zero-copy data kept
    assert sorted(tuple(r) for r in wh.table("web_pages").read().collect()) == want

    # idempotent + rides the maintenance cycle
    assert wh.vacuum_staging(min_age_s=0)["dirs_removed"] == 0
    rep = maintain(wh, staging_min_age_s=0)
    assert rep["staging_vacuum"]["dirs_removed"] == 0
    # exact in-flight protection: a dir whose .inflight marker is live is
    # never touched (regardless of references) until the crash age-out
    inflight = os.path.join(staging, "epoch-99999999-aaaaaaaa")
    os.makedirs(inflight)
    with open(inflight + ".inflight", "w") as f:
        f.write("")
    assert wh.vacuum_staging()["dirs_removed"] == 0
    assert os.path.isdir(inflight)
    # crash age-out: marker older than min_age_s -> reclaimed, marker too
    assert wh.vacuum_staging(min_age_s=0)["dirs_removed"] == 1
    assert not os.path.exists(inflight) and not os.path.exists(inflight + ".inflight")


def test_cold_registry_single_staging_pass(spark, events_dir, tmpdir_path, monkeypatch):
    """A fresh warehouse stages each epoch once (one stage_multicast_delta
    call per epoch): the cold registry knows no key, so the keys the staged
    files carry are promoted on the driver by rewriting those files, and
    the registry absorbs them. A genuinely-new key arriving on a WARM
    registry takes the same path (test_late_key_rewrites_only_its_files)."""
    calls = _count_staging_passes(monkeypatch)
    wh = Warehouse(spark, os.path.join(tmpdir_path, "wh_coldpass"), n_buckets=8)
    res = replay(wh, events_dir, stop_after_epoch=1, max_concurrent_epochs=2)
    assert res["applied_epochs"] == [0, 1]
    # one staged write per epoch, whatever the registry held
    assert len(calls) == 2, f"expected 2 staging passes (1/epoch), got {len(calls)}"
    assert wh.known_promote_keys() != []


def test_no_promotable_key_stages_once_and_rewrites_nothing(spark, tmpdir_path, monkeypatch):
    """A warehouse whose batches carry no promotable meta key stages each
    epoch once, rewrites no staged file and promotes no column."""
    import data_exchange_routing_spark.pipeline as P
    from data_exchange_routing_spark.schemas import ROUTE_CONFIG
    from data_exchange_routing_spark.sources.configs import DEFAULT_ROUTES
    from data_exchange_routing_spark.sources.datagen import generate_change_events

    calls = _count_staging_passes(monkeypatch)
    no_extra_meta = spark.createDataFrame(
        [
            {
                "route_key": k,
                "destination_table": t,
                "destination_partition": p,
                "extra_meta": None,
                "is_valid": v,
            }
            for (k, t, p, _, v) in DEFAULT_ROUTES
        ],
        ROUTE_CONFIG,
    )
    events = generate_change_events(spark, 200, 40, n_epochs=1)
    wh = Warehouse(spark, os.path.join(tmpdir_path, "wh_empty_registry"), n_buckets=4)
    wh.init_tables()
    for epoch in (0, 1):
        stats = P.apply_epoch(wh, events, epoch_id=epoch, route_config=no_extra_meta)
        assert stats["promoted_columns"] == []
    assert len(calls) == 2, f"expected one staging pass per epoch, got {len(calls)}"
    assert wh.known_promote_keys() == []
    # every staged file is as the Spark write left it: its open-meta column
    # (all null) is still there, so none was rewritten
    files = [f for d in DESTINATION_TABLES for f in _file_schemas(wh, d).values()]
    assert files and all(P.OPEN_META_COL in names for names in files)


def _file_schemas(wh: Warehouse, name: str) -> dict[str, list[str]]:
    """{absolute path: column names} of a table's current data files."""
    import pyarrow.parquet as pq

    t = wh.table(name)
    paths = [os.path.normpath(os.path.join(t.path, f["path"])) for f in t.snapshot().files]
    return {p: pq.read_schema(p).names for p in paths}


def test_late_key_rewrites_only_its_files(spark, events_dir, events_pdf, tmpdir_path, monkeypatch):
    """A key the registry has never seen (``charset``, from epoch 3 of the
    generator on) costs no second staging pass: epoch 3 stages once, and
    only its own staged files whose live rows carry the key are rewritten
    with the new column, which reads back with the oracle's values."""
    import pyarrow.parquet as pq

    import data_exchange_routing_spark.pipeline as P
    from data_exchange_routing_spark.sources.datagen import EVOLUTION_EPOCH

    assert EVOLUTION_EPOCH == 3
    wh = Warehouse(spark, os.path.join(tmpdir_path, "wh_late_key"), n_buckets=8)
    replay(wh, events_dir, stop_after_epoch=2)
    assert "charset" not in wh.known_promote_keys()
    tables = sorted(set(DESTINATION_TABLES)) + ["dead_letter"]
    before = {}
    for name in tables:
        for p in _file_schemas(wh, name):
            st = os.stat(p)
            before[p] = (st.st_size, st.st_mtime_ns)

    calls = _count_staging_passes(monkeypatch)
    stats = _redeliver(spark, wh, events_dir, 3)
    assert len(calls) == 1, f"expected 1 staging pass, got {len(calls)}"
    assert "charset" in stats["promoted_columns"]
    assert "charset" in wh.known_promote_keys()
    assert "charset" in wh.table("web_pages").snapshot().schema().fieldNames()
    _assert_state_equal(spark, wh, events_pdf[events_pdf["epoch_hint"] <= 3])

    # the files of epochs 0-2 are untouched
    for p, was in before.items():
        st = os.stat(p)
        assert (st.st_size, st.st_mtime_ns) == was, f"{p} rewritten"
    # epoch 3's staged files: rewritten (open-meta column replaced by the
    # charset column) exactly where live rows carry charset
    rewritten, kept = [], []
    for name in tables:
        for p, names in _file_schemas(wh, name).items():
            if p in before:
                continue
            carries = (
                name != "dead_letter"
                and "charset" in names
                and pq.read_table(p, columns=["charset"]).column(0).null_count
                < pq.ParquetFile(p).metadata.num_rows
            )
            assert (P.OPEN_META_COL not in names) == carries, (name, p, names)
            if not carries:
                open_meta = pq.read_table(p, columns=[P.OPEN_META_COL]).column(0)
                assert open_meta.null_count == len(open_meta), p
            (rewritten if carries else kept).append(p)
    assert rewritten and kept
    # a rewrite keeps every other column's type (timestamps included) and
    # the codec of the Spark write it came from
    def layout(p, drop):
        f = pq.ParquetFile(p)
        cols = [c for c in f.schema_arrow if c.name != drop]
        return cols, f.metadata.row_group(0).column(0).compression

    assert all(layout(p, "charset") == layout(kept[0], P.OPEN_META_COL) for p in rewritten)


def test_apply_epoch_stages_once_by_construction():
    """Spark-free guard: ``apply_epoch`` has one staging call site, and
    ``pipeline.py`` keeps no second mechanism to decide promoted columns
    (no staging Observation, no pre-scan of the batch's meta keys)."""
    import ast
    import inspect

    import data_exchange_routing_spark.pipeline as P

    tree = ast.parse(inspect.getsource(P))
    fn = next(
        n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "apply_epoch"
    )
    stage_calls = [
        n
        for n in ast.walk(fn)
        if isinstance(n, ast.Call)
        and getattr(n.func, "id", getattr(n.func, "attr", None)) == "stage_multicast_delta"
    ]
    assert len(stage_calls) == 1
    names = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    names |= {n.attr for n in ast.walk(tree) if isinstance(n, ast.Attribute)}
    names |= {a.name for n in ast.walk(tree) if isinstance(n, ast.ImportFrom) for a in n.names}
    names |= {n.name for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)}
    assert not names & {"Observation", "detect_promotable_meta_keys"}
