"""Incremental change feed (read_changes) + manifest-pruned point lookups.

The feed is the Delta-CDF / Iceberg-incremental-scan analogue over the
snapshot log: O(changed data in the version range), never a table scan.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from omop_meds_spark.table import BUCKET_COL, SnapshotTable, _file_buckets, bucket_expr


def _delta(spark, rows):
    return spark.createDataFrame(
        rows, "repo string, path string, seq_no long, op string"
    )


def _commit(t, spark, rows, batch_id):
    t.commit_delta_auto(_delta(spark, rows), batch_id)


def test_change_feed_by_version_range(spark, tmpdir_path):
    t = SnapshotTable(tmpdir_path, ["repo", "path"], n_buckets=4)
    _commit(t, spark, [("r1", "p1", 1, "U"), ("r2", "p2", 2, "U")], 0)
    _commit(t, spark, [("r1", "p1", 3, "U")], 1)
    _commit(t, spark, [("r2", "p2", 4, "D")], 2)

    # full history from before the first commit
    all_rows = t.read_changes(spark, since_version=-1).collect()
    assert len(all_rows) == 4
    by_version = {}
    for r in all_rows:
        by_version.setdefault(r["_commit_version"], set()).add(
            (r["repo"], r["seq_no"], r["op"])
        )
    assert by_version[0] == {("r1", 1, "U"), ("r2", 2, "U")}
    assert by_version[1] == {("r1", 3, "U")}
    assert by_version[2] == {("r2", 4, "D")}  # tombstones are part of the feed
    assert {r["_commit_batch_id"] for r in all_rows} == {0, 1, 2}

    # incremental tail: only the commits after the consumer's cursor
    tail = t.read_changes(spark, since_version=0).collect()
    assert {(r["repo"], r["seq_no"]) for r in tail} == {("r1", 3), ("r2", 4)}
    # empty / inverted ranges
    assert t.read_changes(spark, since_version=t.version) is None
    with pytest.raises(ValueError, match="beyond head"):
        t.read_changes(spark, since_version=0, to_version=99)


def test_change_feed_scans_only_range_files(spark, tmpdir_path):
    t = SnapshotTable(tmpdir_path, ["repo", "path"], n_buckets=4)
    _commit(t, spark, [(f"r{i}", f"p{i}", i, "U") for i in range(20)], 0)
    _commit(t, spark, [("r1", "p1", 100, "U")], 1)
    df = t.read_changes(spark, since_version=0)
    # manifest-driven: only batch 1's files are in the scan, not the table
    m = t.latest()
    batch1_files = {f for fs in m["files"].values() for f in fs if "b000001" in f}
    scanned = {f.removeprefix("file://") for f in df.inputFiles()}
    assert scanned == {str(t.root / f) for f in batch1_files}


def test_change_feed_survives_periodic_checkpoint(spark, tmpdir_path):
    # checkpoint_every=2 → version 2 is written as a ckpt manifest, which
    # must still carry its own commit's files_add for the feed
    t = SnapshotTable(tmpdir_path, ["repo", "path"], n_buckets=4,
                      checkpoint_every=2)
    for i in range(4):
        _commit(t, spark, [("r1", f"p{i}", i + 1, "U")], i)
    kinds = {v: k for v, k, _ in t._log_entries()}
    assert "ckpt" in kinds.values()  # the periodic checkpoint happened
    rows = t.read_changes(spark, since_version=-1).collect()
    assert {(r["path"], r["_commit_version"]) for r in rows} == {
        (f"p{i}", i) for i in range(4)
    }


def test_change_feed_skips_compaction_and_flags_cow(spark, tmpdir_path):
    t = SnapshotTable(tmpdir_path, ["repo", "path"], n_buckets=4)
    _commit(t, spark, [("r1", "p1", 1, "U")], 0)
    _commit(t, spark, [("r1", "p1", 2, "U")], 1)
    assert t.compact(spark)  # v2: pure rewrite, no logical change
    rows = t.read_changes(spark, since_version=-1).collect()
    assert {(r["seq_no"], r["_commit_version"]) for r in rows} == {(1, 0), (2, 1)}
    assert t.read_changes(spark, since_version=1) is None  # only compaction

    # a CoW data commit is not row-extractable
    cow = _delta(spark, [("r9", "p9", 9, "U")]).withColumn(
        BUCKET_COL, bucket_expr(["repo", "path"], 4)
    )
    b = [r[BUCKET_COL] for r in cow.select(BUCKET_COL).collect()]
    assert t.commit_merged(cow, 2, sorted(set(b)), 9)
    with pytest.raises(ValueError, match="copy-on-write"):
        t.read_changes(spark, since_version=2)
    assert t.read_changes(spark, since_version=2, ignore_cow=True) is None


def test_change_feed_raises_on_vacuumed_range(spark, tmpdir_path):
    t = SnapshotTable(tmpdir_path, ["repo", "path"], n_buckets=4)
    for i in range(5):
        _commit(t, spark, [("r1", f"p{i}", i + 1, "U")], i)
    t.vacuum(keep_versions=2)
    with pytest.raises(ValueError, match="vacuumed"):
        t.read_changes(spark, since_version=-1)
    # the retained tail still reads
    rows = t.read_changes(spark, since_version=3).collect()
    assert {r["path"] for r in rows} == {"p4"}


def test_change_feed_spans_schema_evolution(spark, tmpdir_path):
    t = SnapshotTable(tmpdir_path, ["repo", "path"], n_buckets=4)
    _commit(t, spark, [("r1", "p1", 1, "U")], 0)
    wide = spark.createDataFrame(
        [("r1", "p2", 2, "U", "extra")],
        "repo string, path string, seq_no long, op string, note string",
    )
    t.commit_delta_auto(wide, 1)
    rows = t.read_changes(spark, since_version=-1).collect()
    assert {(r["path"], r["note"]) for r in rows} == {("p1", None), ("p2", "extra")}


def test_point_lookup_scans_one_bucket(spark, tmpdir_path):
    t = SnapshotTable(tmpdir_path, ["repo", "path"], n_buckets=8)
    _commit(t, spark, [(f"r{i}", f"p{i}", i, "U") for i in range(40)], 0)
    key = {"repo": "r7", "path": "p7"}
    b = t.key_bucket(spark, key)
    # the driver-computed bucket matches the engine's own bucket column
    expected_b = (
        _delta(spark, [("r7", "p7", 7, "U")])
        .select(bucket_expr(["repo", "path"], 8).alias("b")).collect()[0]["b"]
    )
    assert b == expected_b

    got = t.lookup(spark, key)
    assert [(r["repo"], r["path"], r["seq_no"]) for r in got.collect()] == [
        ("r7", "p7", 7)
    ]
    # scan is pruned to the files that hold the key's bucket: the one
    # delta file holds it (and others); after compaction, the bucket's
    # own file
    m = t.latest()
    (l0,) = [f for fs in m["files"].values() for f in fs]
    assert b in _file_buckets(m, "0", l0)
    assert {f.removeprefix("file://") for f in got.inputFiles()} == {str(t.root / l0)}
    t.compact(spark)
    got = t.lookup(spark, key)
    assert [(r["repo"], r["seq_no"]) for r in got.collect()] == [("r7", 7)]
    m = t.latest()
    bucket_files = {str(t.root / f) for f in m["files"][str(b)]}
    assert len(bucket_files) == 1
    assert {f.removeprefix("file://") for f in got.inputFiles()} == bucket_files

    with pytest.raises(ValueError, match="missing key columns"):
        t.key_bucket(spark, {"repo": "r7"})
    # a deleted key returns no rows
    t.commit_delta_auto(_delta(spark, [("r7", "p7", 50, "D")]), 1)
    assert t.lookup(spark, key).count() == 0


def test_key_bucket_casts_to_table_schema(spark, tmpdir_path):
    """xxhash64(int32) != xxhash64(int64): with a recorded schema the key
    literal must be cast to the stored type before hashing, else a Python
    int (inferred bigint) hashes into the wrong bucket for int keys."""
    from pyspark.sql import functions as F2

    t = SnapshotTable(tmpdir_path, ["uid"], n_buckets=16)
    df = spark.createDataFrame([(i, i * 10, "U") for i in range(50)],
                               "uid int, seq_no long, op string")
    t.commit_delta_auto(df, 0, schema_json=df.schema.json())
    for probe in (7, 23):
        b = t.key_bucket(spark, {"uid": probe})
        expected = df.filter(F2.col("uid") == probe).select(
            bucket_expr(["uid"], 16).alias("b")).collect()[0]["b"]
        assert b == expected
        assert [r["seq_no"] for r in t.lookup(spark, {"uid": probe}).collect()] \
            == [probe * 10]


def test_change_feed_survives_vacuum_checkpoint_promotion(spark, tmpdir_path):
    """vacuum promotes the oldest kept version's delta to a checkpoint; the
    promoted manifest must keep that commit's files_add — otherwise a
    consumer whose cursor predates it silently loses the commit's rows
    (the hole check passes because the version still exists)."""
    t = SnapshotTable(tmpdir_path, ["repo", "path"], n_buckets=4)
    for i in range(5):
        _commit(t, spark, [("r1", f"p{i}", i + 1, "U")], i)
    t.vacuum(keep_versions=2)  # keeps v3 (promoted to ckpt) + v4
    kinds = {v: k for v, k, _ in t._log_entries()}
    assert kinds[3] == "ckpt"
    rows = t.read_changes(spark, since_version=2).collect()
    assert {(r["path"], r["_commit_version"]) for r in rows} == {
        ("p3", 3), ("p4", 4)
    }


def test_lookup_works_without_explicit_schema_json(spark, tmpdir_path):
    """commit_delta_auto must auto-record the commit's schema: without it,
    an int-keyed table's point lookups hash the Python literal as bigint
    and probe the wrong bucket (~15/16 of keys silently missing)."""
    t = SnapshotTable(tmpdir_path, ["uid"], n_buckets=16)
    df = spark.createDataFrame([(i, i * 10, "U") for i in range(50)],
                               "uid int, seq_no long, op string")
    t.commit_delta_auto(df, 0)  # schema_json defaulted — must auto-record
    assert t._load_state().get("schema")
    hits = sum(
        1 for probe in range(50)
        if [r["seq_no"] for r in t.lookup(spark, {"uid": probe}).collect()]
        == [probe * 10]
    )
    assert hits == 50


def test_change_feed_drives_incremental_near_dup(spark, tmpdir_path):
    """Composition of the two pillars: the CDC change feed supplies the
    batch side of the incremental LSH probe. A documents table receives
    commits; the consumer tails read_changes from its cursor, probes the
    corpus' LSH bucket index with ONLY the changed rows, and flags
    near-dups of pre-existing content — without ever re-pairing (or even
    re-reading) the unchanged corpus."""
    from omop_meds_spark.operators.dedup import minhash_lsh_probe

    base = ("the quick brown fox jumps over the lazy dog beside "
            "the old stone bridge on a cold morning")
    t = SnapshotTable(tmpdir_path, ["repo", "path"], n_buckets=4)

    def docs(rows):
        return spark.createDataFrame(
            rows, "repo string, path string, seq_no long, op string, text string")

    # batch 0: the initial corpus
    t.commit_delta_auto(
        docs([("r1", "a.txt", 1, "U", base),
              ("r1", "b.txt", 2, "U", "totally different content about parquet footers")]),
        batch_id=0)
    cursor = t.version
    corpus = t.read_live(spark).withColumn(
        "doc_id", F.concat_ws("/", "repo", "path"))

    # batch 1: one near-dup of a.txt arrives, plus one fresh doc
    t.commit_delta_auto(
        docs([("r2", "copy.txt", 3, "U", base + " indeed"),
              ("r2", "new.txt", 4, "U", "unrelated fresh text with no twin zqxv")]),
        batch_id=1)
    changed = t.read_changes(spark, since_version=cursor).filter(
        F.col("op") != "D").withColumn(
        "doc_id", F.concat_ws("/", "repo", "path"))
    assert changed.count() == 2  # only batch 1's rows, never the corpus

    hits = {(r.new_id, r.corpus_id)
            for r in minhash_lsh_probe(changed, corpus, "doc_id", "text").collect()}
    assert hits == {("r2/copy.txt", "r1/a.txt")}
