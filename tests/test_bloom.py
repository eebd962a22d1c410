"""Manifest Bloom filters: equality file-skipping for high-cardinality
columns, LWW-safe (never applied across multi-generation buckets)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from omop_meds_spark.table import BUCKET_COL, SnapshotTable, bucket_expr


def _df(spark, rows):
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, seq_no long, op string")
    return df.withColumn(BUCKET_COL, bucket_expr(["repo", "path"], 8))


def _table(root):
    return SnapshotTable(root, ["repo", "path"], n_buckets=8,
                         bloom_cols=["commit"])


def test_bloom_prunes_files_and_finds_every_present_value(spark, tmpdir_path):
    t = _table(tmpdir_path)
    rows = [(f"r{i % 4}", f"p{i}", f"sha{i:04d}", i, "U") for i in range(64)]
    t.commit_delta_auto(_df(spark, rows), 0)
    # one delta file spanning the buckets: its filter is the OR of theirs,
    # and still finds every present value
    m = t.latest()
    assert sum(len(fs) for fs in m["files"].values()) == 1
    for r in t.read_live(spark).select("path", "commit").collect():
        got = t.read(spark, eq=("commit", r["commit"]))
        assert [x["path"] for x in got.collect()] == [r["path"]]
    t.compact(spark)  # one file per bucket: the filters now prune
    m = t.latest()
    n_files = sum(len(fs) for fs in m["files"].values())
    assert n_files > 1
    # a present value: found, and the scan opened FEWER files than exist
    hit = t.read(spark, eq=("commit", "sha0007"))
    assert [r["path"] for r in hit.collect()] == ["p7"]
    assert len(hit.inputFiles()) < n_files
    # an absent value with in-range lexicographic bounds (zone maps can't
    # prune it; the Bloom filter proves absence in every file)
    miss = t.read(spark, eq=("commit", "sha0007x"))
    assert miss is None or miss.count() == 0
    # exhaustive: no false exclusion for any present value
    live = t.read_live(spark)
    for r in live.select("path", "commit").collect():
        got = t.read_live(spark, eq=("commit", r["commit"])).collect()
        assert [x["path"] for x in got] == [r["path"]]


def test_bloom_never_resurrects_stale_generations(spark, tmpdir_path):
    t = _table(tmpdir_path)
    t.commit_delta_auto(_df(spark, [("r1", "p1", "aaa", 1, "U"),
                                    ("r2", "p2", "bbb", 1, "U")]), 0)
    # p1's winner moves to commit ccc in a second generation
    t.commit_delta_auto(_df(spark, [("r1", "p1", "ccc", 2, "U")]), 1)
    # probing the STALE value must not return the loser row
    stale = t.read_live(spark, eq=("commit", "aaa"))
    assert stale is None or stale.count() == 0
    # probing the winner finds it across generations
    got = t.read_live(spark, eq=("commit", "ccc")).collect()
    assert [(r["repo"], r["seq_no"]) for r in got] == [("r1", 2)]


def test_bloom_survives_reopen_and_compaction(spark, tmpdir_path):
    t = _table(tmpdir_path)
    rows = [(f"r{i % 4}", f"p{i}", f"sha{i:04d}", i, "U") for i in range(64)]
    t.commit_delta_auto(_df(spark, rows), 0)
    t.commit_delta_auto(_df(spark, [("r0", "p0", "zzz", 99, "U")]), 1)
    assert t.compact(spark)
    # fresh handle: bloom_cols adopted from _table.json, filters from the
    # manifest written by compact
    t2 = SnapshotTable(tmpdir_path, ["repo", "path"])
    assert t2.bloom_cols == ["commit"]
    m = t2.latest()
    n_files = sum(len(fs) for fs in m["files"].values())
    hit = t2.read(spark, eq=("commit", "sha0033"))
    assert [r["path"] for r in hit.collect()] == ["p33"]
    assert len(hit.inputFiles()) < n_files
    got = t2.read_live(spark, eq=("commit", "zzz")).collect()
    assert [(r["path"], r["seq_no"]) for r in got] == [("p0", 99)]


def test_eq_and_between_are_mutually_exclusive(spark, tmpdir_path):
    t = _table(tmpdir_path)
    t.commit_delta_auto(_df(spark, [("r1", "p1", "aaa", 1, "U")]), 0)
    with pytest.raises(ValueError, match="not both"):
        t.read(spark, eq=("commit", "aaa"), between=("seq_no", 0, 5))
    with pytest.raises(ValueError, match="non-null"):
        t.read(spark, eq=("commit", None))


def test_tables_without_bloom_cols_record_nothing_and_still_answer(
        spark, tmpdir_path):
    t = SnapshotTable(tmpdir_path, ["repo", "path"], n_buckets=8)
    t.commit_delta_auto(_df(spark, [("r1", "p1", "aaa", 1, "U")]), 0)
    assert all("__bloom__" not in st
               for st in t.latest().get("file_stats", {}).values())
    got = t.read_live(spark, eq=("commit", "aaa")).collect()
    assert [r["path"] for r in got] == ["p1"]
