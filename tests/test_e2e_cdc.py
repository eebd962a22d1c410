"""End-to-end CDC replay: generated WAL → engine → fingerprint == oracle.

The analogue of the reference's offline e2e demo test
(reference: tests/e2e_demo_test.py:16-87), with the stronger final-state
sha256-fingerprint equality required by the north rule.
"""

from __future__ import annotations

from omop_meds_spark import verify
from omop_meds_spark.runner import CDCRunner
from omop_meds_spark.sources.gen import generate_wal, meds_replay_oracle, replay_oracle

FP_COLS = [
    "repo", "path", "commit", "lang", "size_bytes", "content_sha256", "seq_no",
    # convert-stage derived columns (runner.normalize_events), independently
    # recomputed by the pandas oracle
    "token_count", "lang_pred", "n_lines", "max_line_len", "lang_code",
]
MEDS_FP_COLS = ["subject_id", "time", "code", "numeric_value", "text_value", "seq_no"]


def _oracle_fp(wal_dir):
    pdf = replay_oracle(wal_dir)
    pdf["size_bytes"] = pdf["size_bytes"].astype("Int64")
    return verify.pandas_fingerprint(pdf, FP_COLS)


def _meds_oracle_fp(wal_dir):
    return verify.pandas_fingerprint(meds_replay_oracle(wal_dir), MEDS_FP_COLS)


def test_full_replay_matches_oracle(spark, tmpdir_path):
    wal = f"{tmpdir_path}/wal"
    generate_wal(wal, n_events=8000, n_repos=15, paths_per_repo=40, n_files=8, seed=11)
    r = CDCRunner(spark, wal, f"{tmpdir_path}/table", n_buckets=8, files_per_batch=3)
    metrics = r.run()
    assert len(metrics) == 3  # ceil(8/3)
    assert all(m["committed"] for m in metrics)
    fp = verify.state_fingerprint(r.final_state(), FP_COLS)
    assert fp == _oracle_fp(wal)
    # the MEDS-shaped target converged too (subject_id/time/code/numeric)
    meds_fp = verify.state_fingerprint(r.final_meds(), MEDS_FP_COLS)
    assert meds_fp == _meds_oracle_fp(wal)


def test_resume_mid_stream(spark, tmpdir_path):
    """Kill after 2 batches; a fresh runner resumes from the commit log and
    converges to the identical final state (exactly-once)."""
    wal = f"{tmpdir_path}/wal"
    generate_wal(wal, n_events=6000, n_repos=10, paths_per_repo=30, n_files=6, seed=13)

    r1 = CDCRunner(spark, wal, f"{tmpdir_path}/table", n_buckets=8, files_per_batch=2)
    batches = r1.reader.plan_batches()
    for b in batches[:2]:
        r1.apply_batch(b)
    assert r1.table.committed_batches() == {0, 1}

    # new runner (fresh registry, fresh process in spirit) resumes
    r2 = CDCRunner(spark, wal, f"{tmpdir_path}/table", n_buckets=8, files_per_batch=2)
    applied = r2.run()
    assert [m["batch_id"] for m in applied] == [2]

    fp = verify.state_fingerprint(r2.final_state(), FP_COLS)
    assert fp == _oracle_fp(wal)


def test_replay_whole_wal_twice_is_noop(spark, tmpdir_path):
    wal = f"{tmpdir_path}/wal"
    generate_wal(wal, n_events=3000, n_repos=8, paths_per_repo=20, n_files=4, seed=17)
    r = CDCRunner(spark, wal, f"{tmpdir_path}/table", n_buckets=8, files_per_batch=2)
    r.run()
    v = r.table.version
    fp1 = verify.state_fingerprint(r.final_state(), FP_COLS)
    again = r.run()
    assert again == []  # every batch skipped
    assert r.table.version == v
    assert verify.state_fingerprint(r.final_state(), FP_COLS) == fp1


def test_crash_between_dual_commits(spark, tmpdir_path):
    """Crash after the state commit but before the MEDS commit: resume
    re-applies only the missing target and both tables converge."""
    from pathlib import Path

    wal = f"{tmpdir_path}/wal"
    generate_wal(wal, n_events=3000, n_repos=8, paths_per_repo=20, n_files=4, seed=43)
    table = f"{tmpdir_path}/table"
    r1 = CDCRunner(spark, wal, table, n_buckets=8, files_per_batch=2)
    r1.run()
    fp_meds = verify.state_fingerprint(r1.final_meds(), MEDS_FP_COLS)

    # simulate the crash: drop the MEDS table's newest manifest
    last = sorted(Path(table, "meds", "_log").glob("v*.json"))[-1]
    last.unlink()
    r2 = CDCRunner(spark, wal, table, n_buckets=8, files_per_batch=2)
    applied = r2.run()
    assert len(applied) == 1  # only the half-committed batch re-ran
    assert verify.state_fingerprint(r2.final_meds(), MEDS_FP_COLS) == fp_meds
    assert verify.state_fingerprint(r2.final_meds(), MEDS_FP_COLS) == _meds_oracle_fp(wal)


def test_per_partition_offsets_checkpointed(spark, tmpdir_path):
    """The manifest carries per-bucket replay offsets (north rule:
    per-partition offsets, not one global watermark) that only advance."""
    wal = f"{tmpdir_path}/wal"
    generate_wal(wal, n_events=4000, n_repos=10, paths_per_repo=25, n_files=4, seed=41)
    r = CDCRunner(spark, wal, f"{tmpdir_path}/table", n_buckets=8, files_per_batch=2)
    batches = r.reader.plan_batches()
    r.apply_batch(batches[0])
    off1 = r.table.offsets()
    assert off1 and all(0 <= b < 8 for b in off1)
    r.apply_batch(batches[1])
    off2 = r.table.offsets()
    assert set(off1) <= set(off2)
    assert all(off2[b] >= s for b, s in off1.items())
    assert max(off2.values()) == r.table.watermark()


def test_time_travel_reads_prefix_state(spark, tmpdir_path):
    """Snapshot time travel: state at version k equals a replay of only the
    first k+1 batches (immutable data files + append-only manifests)."""
    wal = f"{tmpdir_path}/wal"
    generate_wal(wal, n_events=4000, n_repos=8, paths_per_repo=20, n_files=4, seed=59)
    r = CDCRunner(spark, wal, f"{tmpdir_path}/table", n_buckets=8, files_per_batch=2)
    batches = r.reader.plan_batches()
    r.apply_batch(batches[0])
    # version 0 predates the size_bytes schema evolution — fingerprint the
    # snapshot with its OWN schema's columns (align-on-read semantics)
    cols_v0 = [c for c in FP_COLS if c != "size_bytes"]
    fp_v0 = verify.state_fingerprint(r.final_state(), cols_v0)
    r.apply_batch(batches[1])
    # as-of read of version 0 still returns the batch-0-only state
    asof = r.table.read_live(spark, version=0)
    assert verify.state_fingerprint(asof, cols_v0) == fp_v0
    # and the head moved on
    assert verify.state_fingerprint(r.final_state(), cols_v0) != fp_v0
    assert verify.state_fingerprint(r.final_state(), FP_COLS) == _oracle_fp(wal)


def test_compaction_preserves_state(spark, tmpdir_path):
    """Merge-on-read: compaction folds delta generations to one per bucket
    without changing the live state."""
    wal = f"{tmpdir_path}/wal"
    generate_wal(wal, n_events=4000, n_repos=8, paths_per_repo=20, n_files=8, seed=47)
    r = CDCRunner(spark, wal, f"{tmpdir_path}/table", n_buckets=4,
                  files_per_batch=1, compact_every=1000)  # no auto-compact
    r.run()
    assert r.table.max_files_per_bucket() > 1  # several delta generations
    fp = verify.state_fingerprint(r.final_state(), FP_COLS)
    assert r.table.compact(spark)
    assert r.table.max_files_per_bucket() == 1
    assert verify.state_fingerprint(r.final_state(), FP_COLS) == fp
    assert fp == _oracle_fp(wal)
    # committed batches unchanged — compaction is not a batch
    assert r.table.committed_batches() == {b.batch_id for b in r.reader.plan_batches()}


def test_auto_compaction_during_replay(spark, tmpdir_path):
    wal = f"{tmpdir_path}/wal"
    generate_wal(wal, n_events=4000, n_repos=8, paths_per_repo=20, n_files=8, seed=53)
    r = CDCRunner(spark, wal, f"{tmpdir_path}/table", n_buckets=4,
                  files_per_batch=1, compact_every=3)
    r.run()
    assert r.table.max_files_per_bucket() <= 3
    assert verify.state_fingerprint(r.final_state(), FP_COLS) == _oracle_fp(wal)


def test_schema_evolution_recorded(spark, tmpdir_path):
    wal = f"{tmpdir_path}/wal"
    generate_wal(wal, n_events=5000, n_repos=8, paths_per_repo=20, n_files=10, seed=19)
    r = CDCRunner(spark, wal, f"{tmpdir_path}/table", n_buckets=8, files_per_batch=2)
    r.run()
    # registry saw v0 -> +size_bytes -> (rename handled, no new col)
    assert r.registry.version >= 1
    assert "size_bytes" in [f.name for f in r.registry.target.fields]
    assert "language" not in [f.name for f in r.registry.target.fields]
    # lineage carries per-batch schema versions, monotonically increasing
    # (batch keys are numeric; compaction records use "compact_v*" keys)
    lin = r.table.lineage_log()
    batch_keys = sorted(int(k) for k in lin if k.isdigit())
    versions = [lin[str(b)]["schema_version"] for b in batch_keys]
    assert versions == sorted(versions)


def test_apply_batch_restores_adaptive_conf(spark, tmpdir_path):
    """apply_batch pins AQE off for the fixed-shape micro-batch plan (its
    stage barriers are pure serial driver cost there) but must hand the
    session back exactly as it found it — ad-hoc analytics on the same
    session rely on AQE."""
    from pathlib import Path

    wal = str(Path(tmpdir_path) / "wal_aqe")
    generate_wal(wal, n_events=400, n_repos=4, paths_per_repo=6, n_files=2, seed=7)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    r = CDCRunner(spark, wal, str(Path(tmpdir_path) / "t_aqe"), n_buckets=4,
                  files_per_batch=2)
    r.run()
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_resume_after_vacuum(spark, tmpdir_path):
    """Retention cleanup mid-stream must not break exactly-once resume:
    vacuum drops old manifests/files, but the committed-batch watermark
    and per-bucket offsets live in the CURRENT state, so a fresh runner
    still skips applied batches and converges to the oracle state."""
    wal = f"{tmpdir_path}/wal"
    generate_wal(wal, n_events=6000, n_repos=10, paths_per_repo=30, n_files=6, seed=29)

    r1 = CDCRunner(spark, wal, f"{tmpdir_path}/table", n_buckets=8, files_per_batch=2)
    for b in r1.reader.plan_batches()[:2]:
        r1.apply_batch(b)
    # ops event: aggressive retention on BOTH targets between batches
    for tbl in (r1.table, r1.meds_table):
        res = tbl.vacuum(keep_versions=1)
        assert res["dropped_manifests"] >= 1

    r2 = CDCRunner(spark, wal, f"{tmpdir_path}/table", n_buckets=8, files_per_batch=2)
    applied = r2.run()
    assert [m["batch_id"] for m in applied] == [2]
    assert r2.table.committed_batches() == {0, 1, 2}

    fp = verify.state_fingerprint(r2.final_state(), FP_COLS)
    assert fp == _oracle_fp(wal)
    # replaying the whole WAL once more after the vacuum stays a no-op
    assert r2.run() == []


def test_generate_wal_worker_count_invariant(tmpdir_path):
    """The WAL generator must emit byte-identical files at any parallelism:
    all randomness is drawn in the parent before the per-file fan-out, and
    every payload column is a pure function of (repo_i, path_i, seq_no).
    (Spark-free; guards the parallel generation path used for the 12M-event
    bench WAL.)"""
    import hashlib
    from pathlib import Path

    def fingerprint(d):
        return {f.name: hashlib.sha256(f.read_bytes()).hexdigest()
                for f in sorted(Path(d).glob("*.parquet"))}

    kw = dict(n_events=5000, n_repos=8, paths_per_repo=20, n_files=5, seed=97)
    m1 = generate_wal(f"{tmpdir_path}/w1", workers=1, **kw)
    m4 = generate_wal(f"{tmpdir_path}/w4", workers=4, **kw)
    assert m1["files"] == m4["files"]
    f1, f4 = fingerprint(f"{tmpdir_path}/w1"), fingerprint(f"{tmpdir_path}/w4")
    assert f1 == f4 and len(f1) == 5
