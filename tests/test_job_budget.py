"""Spark work of the tail's read and fold paths: ``key_bucket`` hashes on
the driver (bit-for-bit Spark ``xxhash64``, no job), a manifest-driven
read of more than 32 files launches no parallel file-listing job, reads
take the recorded file schema instead of a schema-merge job (also across
a column add and an int -> bigint widening, before and after compaction,
and across a struct widening inside an SCD2 view's history),
a point lookup and one incremental view fold stay within their measured
job budgets, and a one-file batch writes one data file per table. Jobs
are counted per call with ``setJobGroup`` + ``statusTracker``."""

from __future__ import annotations

import json
import os
import random
import uuid

from pyspark.sql import functions as F

from omop_meds_spark.operators.incremental import IncrementalAggView, SCD2View
from omop_meds_spark.table import (BUCKET_COL, SnapshotTable, bucket_expr,
                                   spark_xxhash64)

SCHEMA = "k string, grp string, val double, seq_no long, op string"

# jobs of one fold over the fixture below (32 buckets, two generations),
# as measured with the fold committed as a per-group delta generation;
# 10 when it merged the delta into the view's current rows, 13 with a
# schema-merge job per read, and 21 for the two-read fold before that
REFRESH_JOB_BUDGET = 4
# jobs of a point lookup over two generations, as measured with the
# reduce in one partition; 2 when the reduce shuffled on the key, 3 with
# a schema-merge job per read
LOOKUP_JOB_BUDGET = 1


def _jobs(spark, fn) -> tuple[object, list[str]]:
    """``fn()`` and the descriptions of the Spark jobs it launched."""
    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status store fills from the listener bus, asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    descs = []
    for j in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        d = store.job(j).description()
        descs.append(d.get() if d.isDefined() else "")
    return out, descs


def _values(rng: random.Random, n: int) -> list[tuple]:
    pool = "abcxyz09 _-/éß漢字😀\u0000"

    def s():
        if rng.random() < 0.05:
            return None
        return "".join(rng.choice(pool) for _ in range(rng.choice(
            [0, 1, 3, 4, 7, 8, 15, 31, 32, 33, 64, 100])))

    def i(bits):
        if rng.random() < 0.05:
            return None
        return rng.randint(-(1 << (bits - 1)), (1 << (bits - 1)) - 1)

    rows = [(s(), i(32), i(64), i(8), i(16),
             None if rng.random() < 0.05 else rng.random() < 0.5)
            for _ in range(n)]
    # extremes and the empty string
    rows.append(("", -(1 << 31), -(1 << 63), -128, -(1 << 15), False))
    rows.append(("x" * 1000, (1 << 31) - 1, (1 << 63) - 1, 127, (1 << 15) - 1, True))
    return rows


def test_python_xxhash64_matches_spark(spark):
    types = ["string", "int", "bigint", "tinyint", "smallint", "boolean"]
    names = ["s", "i", "b", "t", "sm", "bo"]
    rows = _values(random.Random(7), 2000)
    df = spark.createDataFrame(rows, ", ".join(
        f"{n} {t}" for n, t in zip(names, types)))
    combos = [[n] for n in names] + [["s", "i"], ["i", "s", "b"], names]
    got = df.select(*[F.xxhash64(*c).alias(f"h{j}")
                      for j, c in enumerate(combos)]).collect()
    for row, vals in zip(got, rows):
        for j, c in enumerate(combos):
            idx = [names.index(x) for x in c]
            assert spark_xxhash64([vals[x] for x in idx],
                                  [types[x] for x in idx]) == row[f"h{j}"], (c, vals)
    # a literal that needs Spark's cast is not hashed in Python
    assert spark_xxhash64(["5"], ["int"]) is None
    assert spark_xxhash64([1 << 40], ["int"]) is None
    assert spark_xxhash64([1.5], ["double"]) is None


def test_key_bucket_runs_no_spark_job(spark, tmpdir_path):
    t = SnapshotTable(f"{tmpdir_path}/t", ["r", "n"], n_buckets=32)
    df = spark.createDataFrame(
        [(f"repo{i % 7}", i, i, "U") for i in range(200)],
        "r string, n int, seq_no long, op string")
    t.commit_delta_auto(df, 0)
    want = {(x["r"], x["n"]): x["b"] for x in df.select(
        "r", "n", bucket_expr(["r", "n"], 32).alias("b")).collect()}
    got, jobs = _jobs(spark, lambda: {
        k: t.key_bucket(spark, {"r": k[0], "n": k[1]}) for k in want})
    assert got == want  # the stored int type, not Python's bigint
    assert jobs == []


def test_wide_read_launches_no_listing_job(spark, tmpdir_path):
    t = SnapshotTable(f"{tmpdir_path}/t", ["k"], n_buckets=32)
    for b in range(2):  # one file per bucket and generation: 64 files
        d = spark.createDataFrame(
            [(f"k{i}", "g", 1.0, b * 1000 + i, "U") for i in range(400)],
            SCHEMA).withColumn(BUCKET_COL, bucket_expr(["k"], 32))
        t.commit_delta(d, b, list(range(32)), b * 1000 + 399)
    assert sum(len(fs) for fs in t.latest()["files"].values()) > 32
    live, jobs = _jobs(spark, lambda: t.read_live(spark).count())
    assert live == 400
    assert not [d for d in jobs if d.startswith("Listing leaf files")], jobs


def test_refresh_job_budget(spark, tmpdir_path):
    t = SnapshotTable(f"{tmpdir_path}/src", ["k"], n_buckets=32)
    view = IncrementalAggView(f"{tmpdir_path}/view", t, dims=["grp"],
                              sum_cols=["val"])
    t.commit_delta_auto(spark.createDataFrame(
        [(f"k{i}", f"g{i % 5}", float(i), i, "U") for i in range(800)],
        SCHEMA), 0)
    assert view.refresh(spark)
    t.commit_delta_auto(spark.createDataFrame(
        [(f"k{i}", f"g{i % 7}", float(i), 1000 + i, "U")
         for i in range(0, 800, 2)], SCHEMA), 1)
    assert t.hot_buckets(2) == list(range(32))  # two generations each
    ok, jobs = _jobs(spark, lambda: view.refresh(spark))
    assert ok
    assert len(jobs) <= REFRESH_JOB_BUDGET, jobs
    want = {(r["grp"], r["n"], r["s"]) for r in t.read_live(spark).groupBy("grp")
            .agg(F.count("*").alias("n"), F.sum("val").alias("s")).collect()}
    assert {(r["grp"], r["n_rows"], float(r["sum_val"]))
            for r in view.read(spark).collect()} == want


def test_lookup_job_budget(spark, tmpdir_path):
    t = SnapshotTable(f"{tmpdir_path}/t", ["k"], n_buckets=32)
    for b in range(2):
        t.commit_delta_auto(spark.createDataFrame(
            [(f"k{i}", "g", float(b), b * 1000 + i, "U") for i in range(400)],
            SCHEMA), b)
    rows, jobs = _jobs(spark, lambda: t.lookup(spark, {"k": "k7"}).collect())
    assert [(r["k"], r["val"]) for r in rows] == [("k7", 1.0)]
    assert len(jobs) <= LOOKUP_JOB_BUDGET, jobs


def test_small_batch_file_budget(spark, tmpdir_path):
    """A one-WAL-file batch over a preloaded 32-bucket table writes one
    level-0 file per table, though it touches every bucket of both (one
    file per touched bucket wrote 64)."""
    from omop_meds_spark.runner import CDCRunner
    from omop_meds_spark.sources.gen import generate_wal

    wal = f"{tmpdir_path}/wal"
    generate_wal(wal, n_events=6000, n_repos=20, paths_per_repo=100,
                 n_files=6, seed=29)
    r = CDCRunner(spark, wal, f"{tmpdir_path}/t", n_buckets=32,
                  files_per_batch=5)
    preload, segment = r.reader.plan_batches()
    assert len(segment.files) == 1
    r.apply_batch(preload)

    def data_files():
        return {p for t in (r.table, r.meds_table)
                for p in (t.root / "data").rglob("*.parquet")}

    before = data_files()
    wal_bytes = sum(os.path.getsize(f) for f in segment.files)
    assert r.table.write_tasks_for(spark, wal_bytes) == 1
    r.apply_batch(segment)
    assert len(data_files() - before) == 2
    for t in (r.table, r.meds_table):
        assert t.changed_buckets(t.version - 1) == list(range(32))
        listed = [f for fs in t.latest()["files"].values() for f in fs]
        assert len(listed) == len(set(listed)) == 2


def _schema_of(df) -> dict:
    return {f.name: f.dataType.simpleString() for f in df.schema.fields
            if f.name != BUCKET_COL}


def test_reads_widen_generations_without_a_schema_merge_job(spark, tmpdir_path):
    t = SnapshotTable(f"{tmpdir_path}/t", ["k"], n_buckets=4)
    t.commit_delta_auto(spark.createDataFrame(
        [(f"k{i}", i, i, "U") for i in range(20)],
        "k string, n int, seq_no long, op string"), 0)
    # a column add and an int -> bigint widening, over the same keys
    t.commit_delta_auto(spark.createDataFrame(
        [(f"k{i}", (1 << 40) + i, "x", 100 + i, "U") for i in range(0, 20, 2)],
        "k string, n bigint, note string, seq_no long, op string"), 1)
    want = {f"k{i}": ((1 << 40) + i, "x") if i % 2 == 0 else (i, None)
            for i in range(20)}
    types = {"k": "string", "n": "bigint", "seq_no": "bigint",
             "op": "string", "note": "string"}
    assert json.loads(t.latest()["data_schema"])  # recorded
    for when in ("before compact", "after compact"):
        # building the frame is where a schema merge would run its job
        live, jobs = _jobs(spark, lambda: t.read_live(spark))
        assert jobs == [], (when, jobs)
        assert _schema_of(live) == types, when
        assert {r["k"]: (r["n"], r["note"]) for r in live.collect()} == want, when
        assert t.read(spark).count() == (30 if when == "before compact"
                                         else 20), when
        if when == "before compact":
            assert t.compact(spark)
    # the change feed reads each version with what that version wrote
    ch, jobs = _jobs(spark, lambda: t.read_changes(spark, since_version=-1,
                                                   to_version=1))
    assert jobs == []
    assert _schema_of(ch.drop("_commit_version", "_commit_batch_id")) == types
    got = {(r["_commit_version"], r["k"]): r["n"] for r in ch.collect()}
    assert got[(0, "k3")] == 3 and got[(1, "k4")] == (1 << 40) + 4
    # compaction rewrote every bucket: the record is what it wrote
    assert _schema_of(t.read(spark)) == types


def test_data_schema_carried_or_cleared_by_maintenance(spark, tmpdir_path):
    t = SnapshotTable(f"{tmpdir_path}/t", ["k"], n_buckets=4)
    for b in range(3):
        t.commit_delta_auto(spark.createDataFrame(
            [(f"k{i}", "g", float(b), b * 100 + i, "U") for i in range(30)],
            SCHEMA), b)
    rec = t.latest()["data_schema"]
    assert rec is not None
    # checkpoint promotion keeps the version's own record for the feed
    v = t.checkpoint()
    assert t.manifest_at(v)["data_schema"] == rec
    assert t.read_changes(spark, v - 1, v).count() == 30
    # restore and rebucket write through the commit paths and record
    assert t.restore(spark, version=0)["restored"]
    assert t.rebucket(spark, 8)
    assert t.latest()["data_schema"] is not None
    assert {r["k"]: r["val"] for r in t.read_live(spark).collect()} == {
        f"k{i}": 0.0 for i in range(30)}
    clone = t.clone_to(f"{tmpdir_path}/c")
    assert clone.latest()["data_schema"] == t.latest()["data_schema"]
    # a type the reader cannot widen (string over double) clears the
    # record, and the read falls back to the parquet schema merge
    t.commit_delta_auto(spark.createDataFrame(
        [("k1", "g", "text", 10_000, "U")],
        "k string, grp string, val string, seq_no long, op string"), 3)
    assert t.latest()["data_schema"] is None


def test_scd2_view_read_after_struct_widening_runs_no_job(spark, tmpdir_path):
    """A source column add widens the struct inside the SCD2 view's
    ``array<struct>`` history; the view table keeps its file-schema record
    and reads its old and new generations without a schema-merge job."""
    keys = ["k"]
    narrow = "k string, event_id string, seq_no long, attr string, op string"
    src = SnapshotTable(f"{tmpdir_path}/src", keys, n_buckets=4)
    view = SCD2View(f"{tmpdir_path}/view", src, n_buckets=4)
    src.commit_delta_auto(spark.createDataFrame(
        [("A", "e1", 10, "x", "U")], narrow), 0)
    view.refresh(spark)
    src.commit_delta_auto(spark.createDataFrame(
        [("A", "e2", 20, "y", "U", 7)], narrow + ", extra long"), 1)
    view.refresh(spark)
    assert view.table.latest()["data_schema"] is not None
    _, jobs = _jobs(spark, lambda: view.table.read(spark))
    assert jobs == []
    got = {(r["seq"], r["attr"], r["extra"])
           for r in view.read_intervals(spark).collect()}
    assert got == {(10, "x", None), (20, "y", 7)}
