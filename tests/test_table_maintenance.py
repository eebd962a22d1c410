"""Incremental compaction, schema-evolution compaction, vacuum, and the
canonical dedup reduction."""

from __future__ import annotations

from pathlib import Path

from omop_meds_spark.table import BUCKET_COL, SnapshotTable, bucket_expr

KEYS = ["repo", "path"]


def _delta(spark, rows, n_buckets=4, schema="repo string, path string, seq_no long, op string"):
    df = spark.createDataFrame(rows, schema)
    return df.withColumn(BUCKET_COL, bucket_expr(KEYS, n_buckets))


def _touched(df):
    return sorted({r[BUCKET_COL] for r in df.select(BUCKET_COL).distinct().collect()})


def _live_rows(spark, t):
    df = t.read_live(spark)
    cols = sorted(df.columns)
    return {tuple(r[c] for c in cols) for r in df.collect()}


def test_incremental_compaction_only_rewrites_hot_buckets(spark, tmpdir_path):
    t = SnapshotTable(tmpdir_path, KEYS, n_buckets=4)
    # one cold key committed once…
    cold = _delta(spark, [("cold", "p", 1, "U")])
    t.commit_delta(cold, 0, _touched(cold), 1)
    cold_bucket = _touched(cold)[0]
    # …then a hot key hammered with 8 delta generations
    hot_bucket = None
    for i in range(1, 9):
        d = _delta(spark, [("hot", "p", 10 + i, "U")])
        hot_bucket = _touched(d)[0]
        t.commit_delta(d, i, _touched(d), 10 + i)
    assert hot_bucket != cold_bucket, "fixture needs distinct buckets"

    before = _live_rows(spark, t)
    m0 = t.latest()
    cold_files_before = list(m0["files"][str(cold_bucket)])
    assert t.hot_buckets(8) == [hot_bucket]

    assert t.compact(spark, buckets=[hot_bucket])
    m1 = t.latest()
    # hot bucket folded to one generation; cold bucket's files untouched
    assert len(m1["files"][str(hot_bucket)]) == 1
    assert m1["files"][str(cold_bucket)] == cold_files_before
    assert _live_rows(spark, t) == before
    assert t.hot_buckets(8) == []


def test_compaction_across_schema_evolution_boundary(spark, tmpdir_path):
    """A bucket whose delta generations span a schema widening (added
    column) must compact losslessly: old-generation rows surface the new
    column as null, and the LWW winner set is unchanged."""
    t = SnapshotTable(tmpdir_path, KEYS, n_buckets=2)
    for i in range(4):  # generation era 1: v0 schema
        d = _delta(spark, [(f"r{j}", "p", i * 10 + j, "U") for j in range(6)], n_buckets=2)
        t.commit_delta(d, i, _touched(d), i * 10 + 5)
    wide = "repo string, path string, seq_no long, op string, size_bytes long"
    for i in range(4, 8):  # era 2: widened schema
        d = _delta(
            spark,
            [(f"r{j}", "p", i * 10 + j, "U", 100 + j) for j in range(3)],
            n_buckets=2,
            schema=wide,
        )
        t.commit_delta(d, i, _touched(d), i * 10 + 2)

    before = _live_rows(spark, t)
    assert any(len(fs) >= 8 for fs in t.latest()["files"].values())
    assert t.compact(spark, buckets=t.hot_buckets(2))
    after = _live_rows(spark, t)
    assert after == before
    # winners: r0..r2 overwritten in era 2 (size_bytes set), r3..r5 still
    # era-1 (size_bytes null)
    live = {r["repo"]: r["size_bytes"] for r in t.read_live(spark).collect()}
    assert live == {"r0": 100, "r1": 101, "r2": 102, "r3": None, "r4": None, "r5": None}
    assert all(len(fs) == 1 for fs in t.latest()["files"].values())


def test_vacuum_retention_window(spark, tmpdir_path):
    t = SnapshotTable(tmpdir_path, KEYS, n_buckets=2)
    for i in range(5):
        d = _delta(spark, [("r1", "p", i, "U")], n_buckets=2)
        t.commit_delta(d, i, _touched(d), i)
    v_latest = t.version
    fp_latest = _live_rows(spark, t)
    prev_live = t.read_live(spark, version=v_latest - 1)
    fp_prev = {tuple(r[c] for c in sorted(prev_live.columns)) for r in prev_live.collect()}

    n_files_before = len(list(Path(tmpdir_path, "data").rglob("*.parquet")))
    out = t.vacuum(keep_versions=2)
    # old manifests drop, but every delta file is still referenced by the
    # kept manifests (commit_delta appends) — no data deleted yet
    assert out["dropped_manifests"] == 3 and out["deleted_files"] == 0
    # time travel inside the window still works…
    assert _live_rows(spark, t) == fp_latest
    inside = t.read_live(spark, version=v_latest - 1)
    assert {tuple(r[c] for c in sorted(inside.columns)) for r in inside.collect()} == fp_prev
    # …and pre-window versions are cleanly gone, not dangling
    assert t.manifest_at(0) is None
    assert t.read(spark, version=0) is None

    # compaction orphans the old generations; a tight vacuum reclaims them
    t.compact(spark)
    out2 = t.vacuum(keep_versions=1)
    assert out2["deleted_files"] == n_files_before  # every delta generation reclaimed
    assert len(list(Path(tmpdir_path, "_log").glob("v*.json"))) == 1
    assert _live_rows(spark, t) == fp_latest
    # the latest-vs-previous row sets recorded before vacuum were distinct
    assert fp_latest != fp_prev


def test_manifest_cost_bounded_over_many_commits(spark, tmpdir_path):
    """The round-2 format rewrote the FULL file listing (plus the unbounded
    committed list and all history) on every commit — O(table + commits)
    manifest bytes on the hot path. The delta log must keep per-commit
    manifest bytes O(batch): over 120 commits, late delta manifests are no
    bigger than early ones, checkpoints appear on cadence, and a cold
    process reconstructs the exact same state."""
    t = SnapshotTable(tmpdir_path, KEYS, n_buckets=4, checkpoint_every=16)
    for i in range(120):
        d = _delta(spark, [(f"r{i % 7}", "p", i, "U")], n_buckets=4)
        t.commit_delta(d, i, _touched(d), i)
    log = Path(tmpdir_path, "_log")
    deltas = sorted(log.glob("v*-delta.json"))
    ckpts = sorted(log.glob("v*-ckpt.json"))
    assert len(ckpts) == 8 and len(deltas) == 112  # v0,16,...,112 ckpt
    sizes = {int(p.name[1:9]): p.stat().st_size for p in deltas}
    early = [sizes[v] for v in sorted(sizes) if v < 16]
    late = [sizes[v] for v in sorted(sizes) if v > 100]
    # identical-shape batches → identical-shape deltas; allow tiny jitter
    assert max(late) <= max(early) * 1.2, (max(early), max(late))
    # the committed representation is bounded: contiguous ids fold into the
    # high-watermark, no ever-growing list
    m = t.latest()
    assert m["committed_hwm"] == 119 and m["committed_extra"] == []
    # cold reader (fresh instance, no cache) reconstructs the same state
    t2 = SnapshotTable(tmpdir_path, KEYS, n_buckets=4)
    assert t2.latest() == m
    assert t2.is_committed(77) and not t2.is_committed(120)
    assert _live_rows(spark, t2) == _live_rows(spark, t)


def test_out_of_order_commit_ids_bounded_exception_set(spark, tmpdir_path):
    """Batch ids applied out of order park in committed_extra and fold back
    into the watermark once the gap fills."""
    t = SnapshotTable(tmpdir_path, KEYS, n_buckets=2)
    for i in (0, 2, 3):
        d = _delta(spark, [("r", "p", i, "U")], n_buckets=2)
        t.commit_delta(d, i, _touched(d), i)
    m = t.latest()
    assert m["committed_hwm"] == 0 and m["committed_extra"] == [2, 3]
    assert t.is_committed(2) and not t.is_committed(1)
    d = _delta(spark, [("r", "p", 1, "U")], n_buckets=2)
    t.commit_delta(d, 1, _touched(d), 1)
    m = t.latest()
    assert m["committed_hwm"] == 3 and m["committed_extra"] == []


def test_vacuum_across_checkpoint_promotion(spark, tmpdir_path):
    """Vacuum whose oldest kept version is a delta must promote it to a
    checkpoint so the retained window stays materializable."""
    t = SnapshotTable(tmpdir_path, KEYS, n_buckets=2, checkpoint_every=50)
    for i in range(10):
        d = _delta(spark, [("r", "p", i, "U")], n_buckets=2)
        t.commit_delta(d, i, _touched(d), i)
    live = _live_rows(spark, t)
    out = t.vacuum(keep_versions=3)
    assert out["dropped_manifests"] == 7
    log = Path(tmpdir_path, "_log")
    assert (log / "v00000007-ckpt.json").exists()
    assert not (log / "v00000007-delta.json").exists()
    t2 = SnapshotTable(tmpdir_path, KEYS, n_buckets=2)  # cold reader
    assert _live_rows(spark, t2) == live
    assert t2.manifest_at(6) is None
    assert t2.manifest_at(8)["version"] == 8


def test_dedup_events_canonical_prefers_populated_copy(spark):
    """Non-byte-identical redelivery (schema-era straddle): the canonical
    reduction keeps the most-populated copy, independent of partitioning."""
    from omop_meds_spark.operators.upsert import dedup_events_canonical

    schema = "repo string, path string, seq_no long, event_id long, size_bytes long"
    rows = [
        ("r1", "p", 5, 100, None),   # pre-widening copy
        ("r1", "p", 5, 100, 777),    # post-widening copy (populated)
        ("r2", "p", 6, 200, None),   # only one copy
    ]
    for reparts in (1, 7):
        df = spark.createDataFrame(rows, schema).repartition(reparts)
        got = {(r["event_id"], r["size_bytes"])
               for r in dedup_events_canonical(df).collect()}
        assert got == {(100, 777), (200, None)}


def test_runner_dedup_flag_matches_default_on_clean_wal(spark, tmpdir_path):
    """On a contract-respecting WAL the opt-in dedup changes nothing."""
    from omop_meds_spark import verify
    from omop_meds_spark.runner import CDCRunner
    from omop_meds_spark.sources.gen import generate_wal

    cols = ["repo", "path", "commit", "lang", "size_bytes", "content_sha256", "seq_no"]
    wal = f"{tmpdir_path}/wal"
    generate_wal(wal, n_events=3000, n_repos=8, paths_per_repo=20, n_files=4, seed=41)
    r1 = CDCRunner(spark, wal, f"{tmpdir_path}/t1", n_buckets=8, files_per_batch=2)
    r1.run()
    r2 = CDCRunner(spark, wal, f"{tmpdir_path}/t2", n_buckets=8, files_per_batch=2,
                   dedup=True)
    r2.run()
    assert verify.state_fingerprint(r1.final_state(), cols) == \
        verify.state_fingerprint(r2.final_state(), cols)


def test_read_live_fast_path_after_compaction(spark, tmpdir_path):
    """A fully-compacted table's read_live plan carries NO exchange (scan +
    tombstone filter only) and returns the same rows as the reduce path."""
    t = SnapshotTable(tmpdir_path, KEYS, n_buckets=2)
    for i in range(4):
        d = _delta(spark, [(f"r{j}", "p", i * 10 + j, "U" if j else "D")
                           for j in range(5)], n_buckets=2)
        t.commit_delta(d, i, _touched(d), i * 10 + 4)
    before = _live_rows(spark, t)
    multi_plan = t.read_live(spark)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in multi_plan  # multi-generation: reduce shuffle present

    t.compact(spark)
    after_df = t.read_live(spark)
    assert _live_rows(spark, t) == before
    fast_plan = after_df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in fast_plan  # single-generation: zero exchanges


# --------------------------------------------------------------------------
# round-3 ADVICE regressions: vacuum vs checkpoint() interactions + the
# writer lease that turns the single-writer assumption into a checked error
# --------------------------------------------------------------------------

def test_vacuum_after_manual_checkpoint_preserves_live_data(spark, tmpdir_path):
    """ADVICE r3 (high): a checkpoint()-promoted manifest used to carry no
    files_add, so vacuum's forward replay dropped that commit's files from
    the referenced set and unlinked LIVE parquet. Exact repro from the
    advice: commits v0-v2, checkpoint(), commits v3-v4,
    vacuum(keep_versions=4) -> read_live must still materialize."""
    t = SnapshotTable(tmpdir_path, KEYS, n_buckets=2)
    for i in range(3):
        d = _delta(spark, [(f"r{i}", "p", i, "U")], n_buckets=2)
        t.commit_delta(d, i, _touched(d), i)
    assert t.checkpoint() == 2
    assert t.checkpoint() == 2  # idempotent: already checkpointed
    for i in range(3, 5):
        d = _delta(spark, [(f"r{i}", "p", i, "U")], n_buckets=2)
        t.commit_delta(d, i, _touched(d), i)
    fp = _live_rows(spark, t)
    t.vacuum(keep_versions=4)
    assert _live_rows(spark, t) == fp  # was: PATH_NOT_FOUND on v2's file
    # a cold process replays to the identical state
    t2 = SnapshotTable(tmpdir_path, KEYS, n_buckets=2)
    assert _live_rows(spark, t2) == fp


def test_vacuum_unlinks_both_kinds_of_dual_version(spark, tmpdir_path):
    """ADVICE r3 (medium): dropping a version present as BOTH ckpt and delta
    (checkpoint() keeps the companion delta on disk) must unlink both files;
    a stale below-floor delta used to resurface in the log and turn
    manifest_at/read into RuntimeError instead of a clean None, defeating
    read_changes' vacuum-hole detection."""
    import pytest

    t = SnapshotTable(tmpdir_path, KEYS, n_buckets=2)
    for i in range(3):
        d = _delta(spark, [(f"r{i}", "p", i, "U")], n_buckets=2)
        t.commit_delta(d, i, _touched(d), i)
    t.checkpoint()  # v2 now dual-kind (ckpt + companion delta)
    for i in range(3, 7):
        d = _delta(spark, [(f"r{i}", "p", i, "U")], n_buckets=2)
        t.commit_delta(d, i, _touched(d), i)
    fp = _live_rows(spark, t)
    t.vacuum(keep_versions=2)  # floor v5: drops v0..v4 incl. dual v2
    log = Path(tmpdir_path, "_log")
    assert not list(log.glob("v00000002-*.json"))  # BOTH kinds gone
    # below-floor versions are cleanly absent, not dangling
    assert t.manifest_at(2) is None
    assert t.read(spark, version=2) is None
    # hole detection still fires for a range that spans the vacuumed gap
    with pytest.raises(ValueError, match="vacuumed"):
        t.read_changes(spark, since_version=1, to_version=4)
    assert _live_rows(spark, t) == fp


def test_writer_lease_blocks_live_foreign_writer(spark, tmpdir_path):
    """A lease held by a LIVE foreign pid blocks publish and vacuum with a
    clear error (instead of a silent race that corrupts the sweep)."""
    import json as _json

    import pytest

    t = SnapshotTable(tmpdir_path, KEYS, n_buckets=2)
    d = _delta(spark, [("a", "p", 0, "U")], n_buckets=2)
    t.commit_delta(d, 0, _touched(d), 0)
    lock = Path(tmpdir_path, "_log", "WRITER")
    lock.write_text(_json.dumps({"pid": 1, "token": "foreign", "acquired_at": 0}))
    with pytest.raises(RuntimeError, match="locked by live writer"):
        t.vacuum(keep_versions=1)
    d2 = _delta(spark, [("b", "p", 1, "U")], n_buckets=2)
    with pytest.raises(RuntimeError, match="locked by live writer"):
        t.commit_delta(d2, 1, _touched(d2), 1)
    lock.unlink()  # owner releases -> this process can write again
    t.commit_delta(d2, 1, _touched(d2), 1)
    assert t.version == 1  # v0, v1


def test_writer_lease_steals_from_dead_pid_and_same_pid(spark, tmpdir_path):
    """Crash-resume contract: a lease left by a DEAD process is taken over
    silently, and two instances in the SAME process coexist (test fixtures,
    reader-turned-writer) — no manual cleanup step."""
    import json as _json
    import subprocess

    proc = subprocess.run(["sh", "-c", "echo $$"], capture_output=True, text=True)
    dead_pid = int(proc.stdout.strip())  # shell already exited

    t = SnapshotTable(tmpdir_path, KEYS, n_buckets=2)
    lock = Path(tmpdir_path, "_log", "WRITER")
    lock.parent.mkdir(parents=True, exist_ok=True)
    lock.write_text(_json.dumps({"pid": dead_pid, "token": "stale", "acquired_at": 0}))
    d = _delta(spark, [("a", "p", 0, "U")], n_buckets=2)
    t.commit_delta(d, 0, _touched(d), 0)  # steals the stale lease
    assert t.version == 0

    t2 = SnapshotTable(tmpdir_path, KEYS, n_buckets=2)  # same pid, new token
    d2 = _delta(spark, [("b", "p", 1, "U")], n_buckets=2)
    t2.commit_delta(d2, 1, _touched(d2), 1)  # same-pid takeover allowed
    assert t2.version == 1
    t2.release_writer()
    assert not lock.exists()


def test_bucket_layout_persisted_and_validated(spark, tmpdir_path):
    """The bucket layout is table state: re-opening with n_buckets=None
    adopts the stored layout (the CLI maintenance path), and an explicit
    contradictory n_buckets or key_cols raises instead of silently
    corrupting the per-bucket LWW reduce."""
    import pytest

    t = SnapshotTable(tmpdir_path, KEYS, n_buckets=8)
    d = _delta(spark, [("a", "p", 0, "U")], n_buckets=8)
    t.commit_delta(d, 0, _touched(d), 0)

    t2 = SnapshotTable(tmpdir_path, KEYS)  # None -> adopt stored
    assert t2.n_buckets == 8
    assert _live_rows(spark, t2) == _live_rows(spark, t)

    with pytest.raises(ValueError, match="n_buckets=8"):
        SnapshotTable(tmpdir_path, KEYS, n_buckets=32)
    with pytest.raises(ValueError, match="key_cols"):
        SnapshotTable(tmpdir_path, ["repo"], n_buckets=8)


# ---------------------------------------------------------------- tags

def test_tag_pins_snapshot_through_vacuum(spark, tmpdir_path):
    t = SnapshotTable(tmpdir_path, KEYS, n_buckets=2)
    for i in range(6):
        d = _delta(spark, [("r1", "p", i, "U")], n_buckets=2)
        t.commit_delta(d, i, _touched(d), i)
    # tag an early version, then compact (orphans old generations)
    tagged_v = 1
    t.tag("audit-2026q1", tagged_v)
    want = {tuple(r[c] for c in sorted(t.read_live(spark, version=tagged_v).columns))
            for r in t.read_live(spark, version=tagged_v).collect()}
    t.compact(spark)
    # a tight vacuum would normally keep 1 version; the tag drags the
    # retention floor down to v1 — the tagged read must still work
    t.vacuum(keep_versions=1)
    assert t.manifest_at(tagged_v) is not None
    got_df = t.read_live(spark, ref="audit-2026q1")
    got = {tuple(r[c] for c in sorted(got_df.columns)) for r in got_df.collect()}
    assert got == want
    # pre-tag versions are still reclaimed
    assert t.manifest_at(0) is None
    # drop the tag: the next vacuum reclaims everything below the window
    assert t.drop_tag("audit-2026q1") is True
    t.vacuum(keep_versions=1)
    assert t.manifest_at(tagged_v) is None
    assert len(list(Path(tmpdir_path, "_log").glob("v*.json"))) == 1


def test_tag_validation_and_ref_resolution(spark, tmpdir_path):
    import pytest

    t = SnapshotTable(tmpdir_path, KEYS, n_buckets=2)
    d = _delta(spark, [("r1", "p", 0, "U")], n_buckets=2)
    t.commit_delta(d, 0, _touched(d), 0)
    v = t.tag("rel")                      # defaults to current version
    assert v == t.version and t.tags() == {"rel": v}
    t.tag("rel", v)                        # same-version re-tag: no-op
    with pytest.raises(ValueError):        # moving a tag is an error
        d2 = _delta(spark, [("r1", "p", 1, "U")], n_buckets=2)
        t.commit_delta(d2, 1, _touched(d2), 1)
        t.tag("rel", t.version)
    with pytest.raises(ValueError):        # never-committed version
        t.tag("nope", 99)
    with pytest.raises(KeyError):          # unknown ref on read
        t.read_live(spark, ref="ghost")
    with pytest.raises(ValueError):        # version= and ref= are exclusive
        t.read(spark, version=0, ref="rel")
    assert t.drop_tag("ghost") is False    # idempotent drop


# ---------------------------------------------------------------- fsck

def test_fsck_reports_and_reclaims_crashed_write_residue(spark, tmpdir_path):
    t = SnapshotTable(tmpdir_path, KEYS, n_buckets=2)
    for i in range(3):
        d = _delta(spark, [("r1", "p", i, "U")], n_buckets=2)
        t.commit_delta(d, i, _touched(d), i)
    want = _live_rows(spark, t)
    # clean table: nothing to report
    assert t.fsck() == {"orphan_files": [], "missing_files": [],
                        "torn_manifests": [], "removed": 0}
    # simulate a writer that crashed after staging parquet but before its
    # manifest publish: an unreferenced file in a bucket dir + a torn tmp
    # manifest in the log
    some_bucket = next(Path(tmpdir_path, "data").rglob("*.parquet")).parent
    orphan = some_bucket / "part-crashed.parquet"
    orphan.write_bytes(b"not really parquet")
    (Path(tmpdir_path, "_log") / ".tmp.v99-delta.json").write_text("{}")
    # report-only: finds both, touches nothing, reads unaffected
    rep = t.fsck()
    assert len(rep["orphan_files"]) == 1 and "part-crashed" in rep["orphan_files"][0]
    assert rep["torn_manifests"] == [".tmp.v99-delta.json"]
    assert rep["removed"] == 0 and orphan.exists()
    assert _live_rows(spark, t) == want
    # remove: unlinks both; a second pass is clean and state is intact
    rep2 = t.fsck(remove=True)
    assert rep2["removed"] == 2 and not orphan.exists()
    assert t.fsck() == {"orphan_files": [], "missing_files": [],
                        "torn_manifests": [], "removed": 0}
    assert _live_rows(spark, t) == want


def test_fsck_never_flags_referenced_files_across_maintenance(spark, tmpdir_path):
    """After compaction + vacuum + rebucket, fsck over the surviving log
    must consider every still-referenced generation reachable — zero
    orphans on a healthy table regardless of maintenance history."""
    t = SnapshotTable(tmpdir_path, KEYS, n_buckets=2)
    for i in range(5):
        d = _delta(spark, [("r1", f"p{i % 2}", i, "U")], n_buckets=2)
        t.commit_delta(d, i, _touched(d), i)
    t.compact(spark)
    t.vacuum(keep_versions=2)
    t.rebucket(spark, 4)
    want = _live_rows(spark, t)
    rep = t.fsck()
    assert rep["orphan_files"] == [] and rep["torn_manifests"] == []
    assert _live_rows(spark, t) == want


# -------------------------------------------------------------- restore

def test_restore_is_a_forward_diff_commit(spark, tmpdir_path):
    sch = "repo string, path string, val long, seq_no long, op string"

    def dd(rows):
        df = spark.createDataFrame(rows, sch)
        return df.withColumn(BUCKET_COL, bucket_expr(KEYS, 2))

    t = SnapshotTable(tmpdir_path, KEYS, n_buckets=2)
    t.commit_delta_auto(dd([("r1", "a", 1, 0, "U"), ("r1", "b", 2, 1, "U")]), 0)
    v0 = t.version
    t.tag("before-mess")
    # later batches: update a, delete b, create c
    t.commit_delta_auto(dd([("r1", "a", 10, 2, "U"), ("r1", "b", 0, 3, "D")]), 1)
    t.commit_delta_auto(dd([("r1", "c", 30, 4, "U")]), 2)
    feed_before = t.version

    def content():
        df = t.read_live(spark)
        return {(r["repo"], r["path"], r["val"]) for r in df.collect()}

    assert content() == {("r1", "a", 10), ("r1", "c", 30)}
    out = t.restore(spark, ref="before-mess")
    assert out["restored"] and out["changed"] == 3  # a reverted, b revived, c tombstoned
    assert content() == {("r1", "a", 1), ("r1", "b", 2)}
    # forward commit: history intact, feed shows the restore as real changes
    assert t.version == feed_before + 1
    assert t.read(spark, version=feed_before) is not None
    feed = t.read_changes(spark, since_version=feed_before)
    got_ops = {(r["path"], r["op"]) for r in feed.collect()}
    assert got_ops == {("a", "U"), ("b", "U"), ("c", "D")}
    # lineage records the provenance; a second restore is a no-op
    bid = max(t.committed_batches())
    assert t.batch_lineage(bid)["restore_of_version"] == v0
    again = t.restore(spark, version=v0)
    assert again == {"restored": False, "changed": 0, "version": t.version}
    # restored rows keep winning: LWW seq is above the old watermark
    assert t.watermark() > 3


def test_history_describes_retained_commits(spark, tmpdir_path):
    t = SnapshotTable(tmpdir_path, KEYS, n_buckets=2)
    for i in range(3):
        d = _delta(spark, [("r1", "p", i, "U")], n_buckets=2)
        t.commit_delta(d, i, _touched(d), i)
    t.compact(spark)
    h = t.history(spark).collect()
    assert [r["version"] for r in h] == [3, 2, 1, 0]          # newest first
    assert [r["batch_id"] for r in h] == [2, 2, 1, 0]          # compact reuses last batch ctx
    assert h[0]["buckets_replaced"] > 0                         # the compaction
    assert all(r["committed_at"] is not None for r in h)
    import json as _json
    assert all(isinstance(_json.loads(r["lineage"]), dict) for r in h)
    t.vacuum(keep_versions=2)
    assert [r["version"] for r in t.history(spark).collect()] == [3, 2]


def test_files_metadata_table(spark, tmpdir_path):
    """Iceberg `.files` analogue: one row per live data file, carrying the
    footer row count, byte size, writing generation, and the manifest's
    zone-map stats — time-travel consistent and compaction-aware."""
    import json as _json

    t = SnapshotTable(tmpdir_path, KEYS, n_buckets=2, stats_cols=["seq_no"])
    assert t.files(spark) is None                       # empty table
    for i in range(3):
        d = _delta(spark, [("r1", "p", i, "U"), (f"r{i}", "q", 10 + i, "U")],
                   n_buckets=2)
        t.commit_delta(d, i, _touched(d), i)
    m = t.latest()
    listed = {(int(b), p) for b, fs in m["files"].items() for p in fs}
    rows = t.files(spark).collect()
    assert {(r["bucket"], r["path"]) for r in rows} == listed
    # footer row counts sum to the full multi-generation row count
    assert sum(r["rows"] for r in rows) == t.read(spark).count()
    assert all(r["bytes"] > 0 and r["row_groups"] >= 1 for r in rows)
    # recorded zone-map bounds surface verbatim as JSON
    stats = m.get("file_stats", {})
    for r in rows:
        assert _json.loads(r["stats"]) == stats.get(r["path"], {})
        assert r["generation"].startswith("b")      # b{batch_id:06d}
    pre_version = m["version"]
    t.compact(spark)
    # post-compaction: every bucket reads back at generation depth 1
    gens: dict[int, set] = {}
    for r in t.files(spark).collect():
        gens.setdefault(r["bucket"], set()).add(r["generation"])
    assert gens and all(len(g) == 1 for g in gens.values())
    # time travel resolves the PRE-compaction file list
    old = t.files(spark, version=pre_version).collect()
    assert {(r["bucket"], r["path"]) for r in old} == listed


# -------------------------------------------------------------------------
# round-4 review regressions: restore sequencing / schema evolution, the
# foreign-log destructive-sweep guard, and z-order sign-bit safety
# -------------------------------------------------------------------------

_EV_SCH = ("repo string, path string, val long, seq_no long, "
           "event_id string, op string")


def _evd(spark, rows, n_buckets=2):
    df = spark.createDataFrame(rows, _EV_SCH)
    return df.withColumn(BUCKET_COL, bucket_expr(KEYS, n_buckets))


def test_restore_loses_to_the_next_real_event(spark, tmpdir_path):
    """The source's NEXT event (seq watermark+1) must beat a prior restore:
    restore used to mint seq=watermark+1 itself and win the tie via its
    synthetic tiebreak, silently discarding the real newer update. It must
    also not steal the WAL's next batch id (resume would skip the batch)."""
    t = SnapshotTable(tmpdir_path, KEYS, n_buckets=2)
    t.commit_delta_auto(_evd(spark, [("r", "a", 1, 0, "e0", "U")]), 0)
    t.tag("v0")
    t.commit_delta_auto(_evd(spark, [("r", "a", 2, 1, "e1", "U")]), 1)
    out = t.restore(spark, ref="v0")
    assert out["restored"]
    assert t.watermark() == 1  # NOT advanced past the source's sequence
    assert not t.is_committed(2)  # WAL batch id 2 still free
    # restored content wins over the live rows it superseded...
    live = {(r["path"], r["val"]) for r in t.read_live(spark).collect()}
    assert live == {("a", 1)}
    # ...but the next REAL event (seq 2) beats the restore row
    t.commit_delta_auto(_evd(spark, [("r", "a", 3, 2, "e2", "U")]), 2)
    live = {(r["path"], r["val"]) for r in t.read_live(spark).collect()}
    assert live == {("a", 3)}


def test_stacked_restores_are_ordered(spark, tmpdir_path):
    """restore(v1) after restore(v0) emits rows at the SAME seq (watermark);
    the version-stamped tiebreak must make the later restore win."""
    t = SnapshotTable(tmpdir_path, KEYS, n_buckets=2)
    t.commit_delta_auto(_evd(spark, [("r", "a", 1, 0, "e0", "U")]), 0)
    v_one = t.version
    t.commit_delta_auto(_evd(spark, [("r", "a", 2, 1, "e1", "U")]), 1)
    v_two = t.version
    assert t.restore(spark, version=v_one)["restored"]  # back to val=1
    assert t.restore(spark, version=v_two)["restored"]  # forward to val=2
    live = {(r["path"], r["val"]) for r in t.read_live(spark).collect()}
    assert live == {("a", 2)}


def test_restore_nulls_columns_added_after_target(spark, tmpdir_path):
    """Schema evolution: a column added after the target version is part of
    the diff — keys whose ONLY post-target change is that column still get
    reverted (to NULL), not silently kept at the newer value."""
    t = SnapshotTable(tmpdir_path, KEYS, n_buckets=2)
    t.commit_delta_auto(_evd(spark, [("r", "a", 1, 0, "e0", "U"),
                                     ("r", "b", 5, 1, "e1", "U")]), 0)
    t.tag("narrow")
    wide = ("repo string, path string, val long, extra string, seq_no long, "
            "event_id string, op string")
    df = spark.createDataFrame(
        # a: only the NEW column changes; b: untouched entirely
        [("r", "a", 1, "added", 2, "e2", "U")], wide
    ).withColumn(BUCKET_COL, bucket_expr(KEYS, 2))
    t.commit_delta_auto(df, 1)
    rows = {(r["path"], r["val"], r["extra"])
            for r in t.read_live(spark).collect()}
    assert rows == {("a", 1, "added"), ("b", 5, None)}
    out = t.restore(spark, ref="narrow")
    assert out["restored"] and out["changed"] == 1  # only a differs
    rows = {(r["path"], r["val"], r["extra"])
            for r in t.read_live(spark).collect()}
    assert rows == {("a", 1, None), ("b", 5, None)}


def test_destructive_sweeps_refuse_foreign_logs(spark, tmpdir_path):
    """fsck(remove=True)/vacuum on a _log written by an unrecognized format
    must refuse rather than classify every live data file as an orphan."""
    import pytest

    t = SnapshotTable(tmpdir_path, KEYS, n_buckets=2)
    d = _delta(spark, [("r", "p", 1, "U")], n_buckets=2)
    t.commit_delta(d, 0, _touched(d), 1)
    legacy = Path(tmpdir_path) / "_log" / "v00000000.json"
    legacy.write_text("{}")  # legacy/foreign manifest name
    with pytest.raises(RuntimeError, match="foreign"):
        t.fsck(remove=True)
    with pytest.raises(RuntimeError, match="foreign"):
        t.vacuum()
    legacy.unlink()
    t.release_writer()
    assert t.fsck(remove=True)["removed"] == 0  # healthy table sweeps fine


def test_zorder_never_sets_the_sign_bit(spark):
    """4 cluster columns put bit index j*k+i at 63 before the cap: rows with
    the top quantized bit of the 4th column set sorted FIRST (negative z).
    The effective-bits cap must keep every z-value non-negative and keep
    all-max above all-min."""
    from pyspark.sql import functions as F

    from omop_meds_spark.table import zorder_value

    df = spark.range(2).select(
        *[(F.when(F.col("id") == 1, F.lit(65535)).otherwise(F.lit(0)))
          .alias(f"q{i}") for i in range(4)])
    qs = [F.col(f"q{i}") for i in range(4)]
    out = {r["id"]: r["z"] for r in
           df.select((F.col("q0") * 0 + F.monotonically_increasing_id())
                     .alias("id"), zorder_value(qs).alias("z")).collect()}
    zs = sorted(out.values())
    assert all(z >= 0 for z in zs)
    assert zs[0] == 0 and zs[1] > 0  # all-min sorts before all-max


def test_prepartitioned_commit_matches_default_path(spark, tmpdir_path):
    """commit_delta_auto(prepartitioned=True) — the runner's exchange-free
    hot path (the winners cache is already bucket-hash-partitioned) — must
    produce a byte-equivalent table to the default path: same live rows,
    same one-file-per-write-task layout, same per-bucket offsets/watermark."""
    import pytest
    from pyspark.sql import functions as F

    rows = [(f"r{i % 7}", f"p{i}", i + 1, "U") for i in range(60)]
    ta = SnapshotTable(Path(tmpdir_path) / "a", KEYS, n_buckets=4)
    tb = SnapshotTable(Path(tmpdir_path) / "b", KEYS, n_buckets=4)

    # default path: no bucket column, commit computes + repartitions itself
    plain = spark.createDataFrame(rows, "repo string, path string, seq_no long, op string")
    sa = ta.commit_delta_auto(plain, 0)

    # prepartitioned path: the table's own helper, exactly as the runners use
    pre = tb.prepartition_delta(plain)
    sb = tb.commit_delta_auto(pre, 0, prepartitioned=True)

    assert _live_rows(spark, ta) == _live_rows(spark, tb)
    assert sa == sb  # n_keys / seq_min / seq_max
    ma, mb = ta.latest(), tb.latest()
    assert ma["offsets"] == mb["offsets"]
    assert ma["watermark_seq"] == mb["watermark_seq"]
    fa, fb = ma["files"], mb["files"]
    assert {b: len(v) for b, v in fa.items()} == {b: len(v) for b, v in fb.items()}
    # one file per write task survives the skipped repartition
    assert all(len(v) == 1 for v in fb.values())

    # guard: the caller's contract is BUCKET_COL present
    with pytest.raises(ValueError, match="bucket"):
        tb.commit_delta_auto(plain, 1, prepartitioned=True)

    # guard: bucket ids from a STALE layout (n_buckets changed by rebucket
    # between stamp and commit) must fail the commit, not corrupt the table
    stale = plain.withColumn(BUCKET_COL, bucket_expr(KEYS, 64)).repartition(
        4, F.col(BUCKET_COL))
    with pytest.raises(ValueError, match="out-of-range"):
        tb.commit_delta_auto(stale, 1, prepartitioned=True)
    # guard: a frame not hash-partitioned on the bucket splits a bucket
    # across the commit's files once the commit writes more than one
    # (input_bytes sized for every write task)
    scattered = plain.withColumn(BUCKET_COL, bucket_expr(KEYS, 4)).repartition(16)
    with pytest.raises(ValueError, match="split across files"):
        tb.commit_delta_auto(scattered, 1, prepartitioned=True,
                             input_bytes=1 << 40)
    assert tb.version == 0  # nothing published, staging cleaned
    assert _live_rows(spark, tb) == _live_rows(spark, ta)


def test_write_tasks_follow_input_bytes(spark, tmpdir_path):
    """A delta commit writes one level-0 file per
    ``spark.sql.files.maxPartitionBytes`` of input, capped at
    ``delta_partitions()``; a caller that states no size (a restore) is
    sized by the files its frame reads."""
    key = "spark.sql.files.maxPartitionBytes"
    t = SnapshotTable(Path(tmpdir_path) / "t", KEYS, n_buckets=8)
    cap = t.delta_partitions(spark)
    split = 16 << 20  # get_spark's setting
    assert spark.conf.get(key) == "16m"
    assert [t.write_tasks_for(spark, n) for n in (0, 1, split)] == [1, 1, 1]
    assert t.write_tasks_for(spark, split + 1) == min(2, cap)
    assert t.write_tasks_for(spark, 1 << 40) == cap

    rows = [(f"r{i % 7}", f"p{i}", i + 1, "U") for i in range(300)]
    schema = "repo string, path string, seq_no long, op string"
    t.commit_delta_auto(spark.createDataFrame(rows, schema), 0)
    t.commit_delta_auto(spark.createDataFrame(
        [(r, p, s + 1000, "D") for r, p, s, _ in rows[::3]], schema), 1)
    before = {f for fs in t.latest()["files"].values() for f in fs}
    assert len(before) == 2  # in-memory frames read no files: one task
    spark.conf.set(key, "1k")
    try:
        assert t.restore(spark, version=0)["restored"]
    finally:
        spark.conf.set(key, "16m")
    added = {f for fs in t.latest()["files"].values() for f in fs} - before
    assert 1 < len(added) <= cap
    live = {(r["repo"], r["path"]) for r in t.read_live(spark).collect()}
    assert live == {(r, p) for r, p, _, _ in rows}


def test_partitions_metadata_table(spark, tmpdir_path):
    """Iceberg `.partitions` analogue: per-bucket rollup of files() —
    file count, generation depth (the compaction-debt signal), footer row
    total, byte total — time-travel consistent."""
    t = SnapshotTable(tmpdir_path, KEYS, n_buckets=2)
    assert t.partitions(spark) is None                  # empty table
    for i in range(3):
        d = _delta(spark, [("r1", "p", i, "U"), (f"r{i}", "q", 10 + i, "U")],
                   n_buckets=2)
        t.commit_delta(d, i, _touched(d), i)
    pre_version = t.latest()["version"]
    parts = {r["bucket"]: r for r in t.partitions(spark).collect()}
    files = t.files(spark).collect()
    for b, r in parts.items():
        mine = [f for f in files if f["bucket"] == b]
        assert r["n_files"] == len(mine)
        assert r["n_generations"] == len({f["generation"] for f in mine})
        assert r["rows"] == sum(f["rows"] for f in mine)
        assert r["bytes"] == sum(f["bytes"] for f in mine)
    # generation depth agrees with the compaction trigger's own count
    for b in t.hot_buckets(2):
        assert parts[b]["n_generations"] >= 2
    t.compact(spark)
    assert all(r["n_generations"] == 1
               for r in t.partitions(spark).collect())
    # time travel resolves the pre-compaction rollup
    old = {r["bucket"]: r for r in
           t.partitions(spark, version=pre_version).collect()}
    assert old == parts


def test_version_as_of_timestamp_time_travel(spark, tmpdir_path):
    """Wall-clock time travel: version_as_of(ts) resolves the state a
    reader at that instant saw; instants before retention resolve None."""
    import time as _time

    t = SnapshotTable(tmpdir_path, KEYS, n_buckets=2)
    t0 = _time.time()
    assert t.version_as_of(t0) is None                  # nothing committed
    stamps = []
    for i in range(3):
        d = _delta(spark, [("r1", "p", i, "U")], n_buckets=2)
        t.commit_delta(d, i, _touched(d), i)
        stamps.append(_time.time())
        _time.sleep(0.02)
    # at each recorded instant the resolved version replays exactly the
    # state that was current then
    for i, ts in enumerate(stamps):
        v = t.version_as_of(ts)
        assert v is not None
        got = t.read_live(spark, version=v).collect()
        assert {r["seq_no"] for r in got} == {i}        # LWW winner at t_i
    assert t.version_as_of(t0) is None                  # predates v0
    assert t.version_as_of(_time.time()) == t.version   # "now" = head
