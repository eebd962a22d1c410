"""Structured Streaming ingest: same final state as the batch runner and
the pandas replay oracle; exactly-once across checkpoint loss."""

from __future__ import annotations

import shutil

from omop_meds_spark import verify
from omop_meds_spark.sources.gen import generate_wal, replay_oracle
from omop_meds_spark.streaming.stream_runner import StreamingCDCRunner

FP_COLS = ["repo", "path", "commit", "lang", "size_bytes", "content_sha256", "seq_no"]


def _oracle_fp(wal_dir):
    pdf = replay_oracle(wal_dir)
    pdf["size_bytes"] = pdf["size_bytes"].astype("Int64")
    return verify.pandas_fingerprint(pdf, FP_COLS)


def test_streaming_replay_matches_oracle(spark, tmpdir_path):
    wal = f"{tmpdir_path}/wal"
    generate_wal(wal, n_events=6000, n_repos=12, paths_per_repo=30, n_files=6, seed=23)
    r = StreamingCDCRunner(spark, wal, f"{tmpdir_path}/table", n_buckets=8, files_per_batch=2)
    metrics = r.run_available()
    assert len(metrics) >= 1
    fp = verify.state_fingerprint(r.final_state(), FP_COLS)
    assert fp == _oracle_fp(wal)
    # schema evolution happened online, no restart
    assert "size_bytes" in [f.name for f in r.registry.target.fields]
    # MEDS-shaped target converged too
    from omop_meds_spark.sources.gen import meds_replay_oracle

    meds_cols = ["subject_id", "time", "code", "numeric_value", "text_value", "seq_no"]
    assert verify.state_fingerprint(r.final_meds(), meds_cols) == \
        verify.pandas_fingerprint(meds_replay_oracle(wal), meds_cols)


def test_streaming_rerun_is_noop(spark, tmpdir_path):
    wal = f"{tmpdir_path}/wal"
    generate_wal(wal, n_events=3000, n_repos=8, paths_per_repo=20, n_files=4, seed=29)
    r1 = StreamingCDCRunner(spark, wal, f"{tmpdir_path}/table", n_buckets=8, files_per_batch=2)
    r1.run_available()
    v = r1.table.version
    fp1 = verify.state_fingerprint(r1.final_state(), FP_COLS)

    # second streaming run over the same checkpoint: no new pointers → no-op
    r2 = StreamingCDCRunner(spark, wal, f"{tmpdir_path}/table", n_buckets=8, files_per_batch=2)
    r2.run_available()
    assert r2.table.version == v
    assert verify.state_fingerprint(r2.final_state(), FP_COLS) == fp1


def test_streaming_checkpoint_loss_is_exactly_once(spark, tmpdir_path):
    """Wipe the streaming checkpoint: Spark redelivers every micro-batch
    (batch ids restart at 0); the snapshot log makes each a no-op."""
    wal = f"{tmpdir_path}/wal"
    generate_wal(wal, n_events=3000, n_repos=8, paths_per_repo=20, n_files=4, seed=31)
    table = f"{tmpdir_path}/table"
    r1 = StreamingCDCRunner(spark, wal, table, n_buckets=8, files_per_batch=2)
    r1.run_available()
    v = r1.table.version
    fp1 = verify.state_fingerprint(r1.final_state(), FP_COLS)

    shutil.rmtree(f"{table}/_stream_checkpoint")
    r2 = StreamingCDCRunner(spark, wal, table, n_buckets=8, files_per_batch=2)
    r2.run_available()
    assert r2.table.version == v  # no duplicate application
    assert verify.state_fingerprint(r2.final_state(), FP_COLS) == fp1


def test_batch_and_streaming_agree(spark, tmpdir_path):
    from omop_meds_spark.runner import CDCRunner

    wal = f"{tmpdir_path}/wal"
    generate_wal(wal, n_events=4000, n_repos=10, paths_per_repo=25, n_files=5, seed=37)
    rb = CDCRunner(spark, wal, f"{tmpdir_path}/t_batch", n_buckets=8, files_per_batch=3)
    rb.run()
    rs = StreamingCDCRunner(spark, wal, f"{tmpdir_path}/t_stream", n_buckets=8,
                            files_per_batch=2)  # different batching on purpose
    rs.run_available()
    assert verify.state_fingerprint(rb.final_state(), FP_COLS) == \
        verify.state_fingerprint(rs.final_state(), FP_COLS)


def test_streaming_auto_compaction(spark, tmpdir_path):
    """The streaming runner compacts at the constructor's threshold, like
    the batch runner it inherits apply_batch from."""
    wal = f"{tmpdir_path}/wal"
    generate_wal(wal, n_events=4000, n_repos=8, paths_per_repo=20, n_files=8, seed=53)
    r = StreamingCDCRunner(spark, wal, f"{tmpdir_path}/table", n_buckets=4,
                           files_per_batch=1, compact_every=3)
    r.run_available()
    assert len(r.metrics) == 8
    assert r.table.max_files_per_bucket() <= 3
    assert verify.state_fingerprint(r.final_state(), FP_COLS) == _oracle_fp(wal)


def test_streaming_dedup_matches_batch(spark, tmpdir_path):
    from omop_meds_spark.runner import CDCRunner

    wal = f"{tmpdir_path}/wal"
    generate_wal(wal, n_events=3000, n_repos=8, paths_per_repo=20, n_files=4, seed=41)
    rb = CDCRunner(spark, wal, f"{tmpdir_path}/t_batch", n_buckets=8,
                   files_per_batch=3, dedup=True)
    rb.run()
    rs = StreamingCDCRunner(spark, wal, f"{tmpdir_path}/t_stream", n_buckets=8,
                            files_per_batch=2, dedup=True)
    rs.run_available()
    fp = verify.state_fingerprint(rs.final_state(), FP_COLS)
    assert fp == verify.state_fingerprint(rb.final_state(), FP_COLS)
    assert fp == _oracle_fp(wal)


def test_committed_batch_id_with_different_fileset_fails_loudly(spark, tmpdir_path):
    """ADVICE: after checkpoint loss, a renumbered batch colliding with a
    committed batch_id but holding DIFFERENT files must raise, not be
    silently skipped (that would permanently drop the new files)."""
    import pytest

    wal = f"{tmpdir_path}/wal"
    generate_wal(wal, n_events=3000, n_repos=8, paths_per_repo=20, n_files=4, seed=43)
    table = f"{tmpdir_path}/table"
    r1 = StreamingCDCRunner(spark, wal, table, n_buckets=8, files_per_batch=2)
    r1.run_available()

    # simulate checkpoint loss + changed batching: batch 0 now spans 3 files
    files = sorted(str(p) for p in r1.reader.list_files())
    r2 = StreamingCDCRunner(spark, wal, table, n_buckets=8, files_per_batch=3)
    with pytest.raises(RuntimeError, match="different\\s+fileset"):
        r2._apply_files(files[:3], 0)

    # identical fileset replays stay a clean no-op
    v = r2.table.version
    r2._apply_files(files[:2], 0)
    assert r2.table.version == v


def test_streaming_maintains_views_per_microbatch(spark, tmpdir_path):
    """The streaming runner refreshes attached incremental views inside
    foreachBatch (the streaming twin of CDCRunner(views=)): after the
    stream drains, the aggregate view equals a full recompute over the
    live state and the SCD2 view's open intervals equal the live rows."""
    from pyspark.sql import functions as F

    from omop_meds_spark.operators.incremental import IncrementalAggView, SCD2View

    wal = f"{tmpdir_path}/wal"
    generate_wal(wal, n_events=5000, n_repos=10, paths_per_repo=24,
                 n_files=6, seed=31)
    r = StreamingCDCRunner(spark, wal, f"{tmpdir_path}/table", n_buckets=8,
                           files_per_batch=2)
    agg = IncrementalAggView(f"{tmpdir_path}/mv", r.table, dims=["lang"],
                             sum_cols=["token_count"], n_buckets=4)
    hist = SCD2View(f"{tmpdir_path}/hist", r.table, n_buckets=8)
    r.views += [agg, hist]
    assert r.run_available()
    # both views are exactly at the head — refreshed per micro-batch
    assert agg.cursor == r.table.version and hist.cursor == r.table.version
    got = {(x["lang"], x["n_rows"]) for x in agg.read(spark).collect()}
    want = {(x["lang"], x["n"]) for x in r.final_state().groupBy("lang")
            .agg(F.count("*").alias("n")).collect()}
    assert got == want
    open_rows = {(x["repo"], x["path"], x["content_sha256"])
                 for x in hist.read_intervals(spark)
                 .filter(F.col("is_current")).collect()}
    live = {(x["repo"], x["path"], x["content_sha256"])
            for x in r.final_state().collect()}
    assert open_rows == live
