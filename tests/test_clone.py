"""Shallow clone (zero-copy branch): independent history over shared data
files, with maintenance structurally unable to cross the table boundary."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from omop_meds_spark.table import BUCKET_COL, SnapshotTable, bucket_expr


def _df(spark, rows):
    df = spark.createDataFrame(rows, "repo string, path string, seq_no long, op string")
    return df.withColumn(BUCKET_COL, bucket_expr(["repo", "path"], 4))


def _seed(spark, root):
    t = SnapshotTable(root, ["repo", "path"], n_buckets=4)
    t.commit_delta_auto(_df(spark, [("r1", "p1", 1, "U"), ("r2", "p2", 2, "U")]), 0)
    t.commit_delta_auto(_df(spark, [("r1", "p1", 5, "U"), ("r3", "p3", 3, "U")]), 1)
    return t


def _live(spark, t):
    return sorted((r["repo"], r["path"], r["seq_no"])
                  for r in t.read_live(spark).collect())


def test_clone_is_zero_copy_and_reads_identically(spark, tmpdir_path):
    src = _seed(spark, f"{tmpdir_path}/src")
    clone = src.clone_to(f"{tmpdir_path}/dev")
    assert _live(spark, clone) == _live(spark, src)
    # zero copy: the clone's data dir holds no parquet
    from pathlib import Path

    assert list(Path(f"{tmpdir_path}/dev/data").rglob("*.parquet")) == []
    # exactly-once cursors carried over: replaying a committed batch no-ops
    assert clone.is_committed(0) and clone.is_committed(1)
    assert clone.watermark() == src.watermark()
    assert clone.offsets() == src.offsets()


def test_branches_diverge_independently(spark, tmpdir_path):
    src = _seed(spark, f"{tmpdir_path}/src")
    clone = src.clone_to(f"{tmpdir_path}/dev")
    clone.commit_delta_auto(_df(spark, [("r1", "p1", 9, "U")]), 2)
    src.commit_delta_auto(_df(spark, [("r2", "p2", 8, "D")]), 2)
    assert _live(spark, clone) == [("r1", "p1", 9), ("r2", "p2", 2),
                                   ("r3", "p3", 3)]
    assert _live(spark, src) == [("r1", "p1", 5), ("r3", "p3", 3)]


def test_clone_maintenance_never_touches_source_files(spark, tmpdir_path):
    src = _seed(spark, f"{tmpdir_path}/src")
    clone = src.clone_to(f"{tmpdir_path}/dev")
    # compaction localizes the clone: after it, no absolute source refs
    assert clone.compact(spark)
    m = clone.latest()
    assert all(not f.startswith("/") or f"{tmpdir_path}/dev" in f
               for fs in m["files"].values() for f in fs)
    clone.commit_delta_auto(_df(spark, [("r1", "p1", 11, "U")]), 2)
    clone.vacuum(keep_versions=1)
    assert clone.fsck()["orphan_files"] == []
    # source untouched and still fully readable
    assert src.fsck()["orphan_files"] == []
    assert _live(spark, src) == [("r1", "p1", 5), ("r2", "p2", 2),
                                 ("r3", "p3", 3)]
    assert _live(spark, clone) == [("r1", "p1", 11), ("r2", "p2", 2),
                                   ("r3", "p3", 3)]


def test_clone_carries_layout_and_stats_config(spark, tmpdir_path):
    src = SnapshotTable(f"{tmpdir_path}/src", ["repo", "path"], n_buckets=8,
                        stats_cols=["seq_no"], bloom_cols=["repo"])
    src.commit_delta_auto(
        _df(spark, [(f"r{i}", f"p{i}", i, "U") for i in range(16)])
        .withColumn(BUCKET_COL, bucket_expr(["repo", "path"], 8)), 0)
    # the one delta file's bucket range travels with the clone
    l0 = src.clone_to(f"{tmpdir_path}/l0")
    for b in range(8):
        assert l0.read(spark, buckets=[b]).count() == \
            src.read(spark, buckets=[b]).count()
    src.compact(spark)  # one file per bucket: the Bloom filters prune
    clone = src.clone_to(f"{tmpdir_path}/dev")
    assert clone.n_buckets == 8
    assert clone.stats_cols == ["seq_no"] and clone.bloom_cols == ["repo"]
    # inherited Bloom filters prune on the clone too
    hit = clone.read(spark, eq=("repo", "r7"))
    assert [r["path"] for r in hit.collect()] == ["p7"]
    n_files = sum(len(fs) for fs in clone.latest()["files"].values())
    assert len(hit.inputFiles()) < n_files
    # branch-point lineage is recorded under the clone manifest
    assert clone.manifest_at(0)["lineage"]["clone"]["clone_source_version"] == 1


def test_clone_refuses_nonempty_target_and_empty_source(spark, tmpdir_path):
    src = _seed(spark, f"{tmpdir_path}/src")
    src.clone_to(f"{tmpdir_path}/dev")
    with pytest.raises(RuntimeError, match="not empty"):
        src.clone_to(f"{tmpdir_path}/dev")
    empty = SnapshotTable(f"{tmpdir_path}/none", ["repo", "path"], n_buckets=4)
    with pytest.raises(RuntimeError, match="empty"):
        empty.clone_to(f"{tmpdir_path}/dev2")
