"""Snapshot-log table: atomic commit, exactly-once idempotence, pruned reads."""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import functions as F

from omop_meds_spark.table import (
    BUCKET_COL,
    BUCKETS_STAT,
    SnapshotTable,
    _file_buckets,
    bucket_expr,
)


def _df(spark, rows):
    df = spark.createDataFrame(rows, "repo string, path string, seq_no long, op string")
    return df.withColumn(BUCKET_COL, bucket_expr(["repo", "path"], 4))


def test_commit_and_read(spark, tmpdir_path):
    t = SnapshotTable(tmpdir_path, ["repo", "path"], n_buckets=4)
    df = _df(spark, [("r1", "p1", 1, "U"), ("r2", "p2", 2, "U")])
    touched = sorted({r[BUCKET_COL] for r in df.select(BUCKET_COL).collect()})
    assert t.commit_merged(df, batch_id=0, touched_buckets=touched, watermark_seq=2)
    assert t.version == 0
    assert t.watermark() == 2
    got = {(r["repo"], r["path"]) for r in t.read_live(spark).collect()}
    assert got == {("r1", "p1"), ("r2", "p2")}


def test_idempotent_recommit(spark, tmpdir_path):
    t = SnapshotTable(tmpdir_path, ["repo", "path"], n_buckets=4)
    df = _df(spark, [("r1", "p1", 1, "U")])
    assert t.commit_merged(df, 0, [0, 1, 2, 3], 1)
    # replaying the same batch is a no-op — no new snapshot, no data write
    assert not t.commit_merged(df, 0, [0, 1, 2, 3], 1)
    assert t.version == 0
    assert t.read_live(spark).count() == 1


def test_untouched_buckets_survive(spark, tmpdir_path):
    t = SnapshotTable(tmpdir_path, ["repo", "path"], n_buckets=4)
    d1 = _df(spark, [("r1", "p1", 1, "U"), ("r2", "p2", 1, "U")])
    t.commit_merged(d1, 0, sorted({r[BUCKET_COL] for r in d1.select(BUCKET_COL).collect()}), 1)
    # second commit touches only r1's bucket
    d2 = _df(spark, [("r1", "p1", 5, "U")])
    b2 = sorted({r[BUCKET_COL] for r in d2.select(BUCKET_COL).collect()})
    t.commit_merged(d2, 1, b2, 5)
    rows = {(r["repo"], r["seq_no"]) for r in t.read_live(spark).collect()}
    assert rows == {("r1", 5), ("r2", 1)}


def test_bucket_pruned_read(spark, tmpdir_path):
    t = SnapshotTable(tmpdir_path, ["repo", "path"], n_buckets=4)
    df = _df(spark, [(f"r{i}", f"p{i}", i, "U") for i in range(20)])
    touched = sorted({r[BUCKET_COL] for r in df.select(BUCKET_COL).collect()})
    t.commit_merged(df, 0, touched, 19)
    m = t.latest()
    one_bucket = int(next(iter(m["files"])))
    pruned = t.read(spark, buckets=[one_bucket])
    # only that bucket's files are scanned
    assert {f.removeprefix("file://") for f in pruned.inputFiles()} == {
        str(Path(tmpdir_path) / f) for f in m["files"][str(one_bucket)]
    }
    assert pruned.select(BUCKET_COL).distinct().collect()[0][0] == one_bucket


def test_tombstones_hidden_from_live(spark, tmpdir_path):
    t = SnapshotTable(tmpdir_path, ["repo", "path"], n_buckets=4)
    df = _df(spark, [("r1", "p1", 1, "U"), ("r2", "p2", 2, "D")])
    t.commit_merged(df, 0, [0, 1, 2, 3], 2)
    assert t.read(spark).count() == 2  # tombstone retained in state
    assert t.read_live(spark).count() == 1  # hidden from queries


def test_torn_commit_invisible(spark, tmpdir_path):
    """A crashed writer leaves only a tmp manifest — readers never see it."""
    t = SnapshotTable(tmpdir_path, ["repo", "path"], n_buckets=4)
    t.commit_merged(_df(spark, [("r1", "p1", 1, "U")]), 0, [0, 1, 2, 3], 1)
    (Path(tmpdir_path) / "_log" / ".tmp.partial").write_text('{"version": 99}')
    assert t.version == 0
    assert t.committed_batches() == {0}
    assert t.read_live(spark).count() == 1


def test_manifest_is_atomic_and_versioned(spark, tmpdir_path):
    t = SnapshotTable(tmpdir_path, ["repo", "path"], n_buckets=4)
    for i in range(3):
        t.commit_merged(_df(spark, [("r1", "p1", i, "U")]), i, [0, 1, 2, 3], i)
    logs = sorted(Path(tmpdir_path, "_log").glob("v*.json"))
    assert [json.loads(p.read_text())["version"] for p in logs] == [0, 1, 2]
    assert t.committed_batches() == {0, 1, 2}


def test_latest_returns_isolated_copy(spark, tmpdir_path):
    """latest()/manifest_at() must not hand out the in-process cache by
    reference — a caller mutating the returned manifest (e.g. popping a
    bucket while post-processing) must not poison subsequent reads or the
    next commit."""
    t = SnapshotTable(tmpdir_path, ["repo", "path"], n_buckets=4)
    df = _df(spark, [(f"r{i}", f"p{i}", i, "U") for i in range(10)])
    touched = sorted({r[BUCKET_COL] for r in df.select(BUCKET_COL).collect()})
    t.commit_merged(df, 0, touched, 9)
    m = t.latest()
    m["files"].clear()
    m["committed_extra"].append(99)
    m["offsets"]["0"] = -5
    m2 = t.latest()
    assert m2["files"] and m2["committed_extra"] != [99]
    assert t.read_live(spark).count() == 10
    assert not t.is_committed(99)


# --------------------------------------------------------------------------
# mixed file levels: delta (L0) files spanning many buckets beside
# per-bucket (L1) files, every read and maintenance path against an LWW
# oracle

MIX = "repo string, path string, seq_no long, op string, val string"
MIX_N = 8


def _mix_bucket(key) -> int:
    from omop_meds_spark.table import spark_xxhash64

    return spark_xxhash64(list(key), ["string", "string"]) % MIX_N


def _mix_keys(buckets, n, start=0) -> list[tuple]:
    """``n`` keys, in key order, whose buckets are all in ``buckets``."""
    out, i = [], start
    while len(out) < n:
        k = (f"r{i % 5}", f"p{i}")
        if _mix_bucket(k) in buckets:
            out.append(k)
        i += 1
    return out


class _Oracle:
    """LWW state per key: key -> (seq_no, op, val)."""

    def __init__(self):
        self.state: dict[tuple, tuple] = {}

    def apply(self, rows):
        for r, p, seq, op, val in rows:
            cur = self.state.get((r, p))
            if cur is None or seq > cur[0]:
                self.state[(r, p)] = (seq, op, val)

    def live(self, pred=lambda k, v: True) -> set:
        return {(*k, v[0], v[2]) for k, v in self.state.items()
                if v[1] != "D" and pred(k, v)}


def _live(df) -> set:
    return set() if df is None else {
        (r["repo"], r["path"], r["seq_no"], r["val"])
        for r in df.select("repo", "path", "seq_no", "val").collect()}


def test_mixed_file_levels_match_lww_oracle(spark, tmpdir_path):
    t = SnapshotTable(Path(tmpdir_path) / "t", ["repo", "path"], n_buckets=MIX_N,
                      stats_cols=["seq_no"], bloom_cols=["val"])
    o, snaps = _Oracle(), {}

    def commit(rows, batch_id, per_bucket=False):
        df = spark.createDataFrame(rows, MIX)
        if per_bucket:  # a delta written one file per touched bucket
            df = df.withColumn(BUCKET_COL, bucket_expr(["repo", "path"], MIX_N))
            t.commit_delta(df, batch_id, sorted({_mix_bucket(r[:2]) for r in rows}),
                           max(r[2] for r in rows))
        else:
            assert t.commit_delta_auto(df, batch_id)
        o.apply(rows)
        snaps[t.version] = dict(o.state)

    keys = _mix_keys(range(MIX_N), 60)
    commit([(*k, i + 1, "U", f"a{i}") for i, k in enumerate(keys)], 0)
    commit([(*k, 100 + i, "D" if i % 6 == 0 else "U", f"b{i}")
            for i, k in enumerate(keys[::2])], 1)
    m = t.latest()
    assert sum(len(fs) for fs in m["files"].values()) == 2  # two L0 files
    assert t.compact(spark, buckets=[0])  # closure: every bucket they span
    v_l1 = t.version
    snaps[v_l1] = dict(o.state)
    assert all(_mix_bucket(k) < MIX_N for k in keys)
    assert sorted(int(b) for b in t.latest()["files"]) == sorted(
        {_mix_bucket(k) for k in keys})
    # a delta over buckets 2, 3 and 5 (not 4), a per-bucket delta, a delta
    # over 6..7
    mid = _mix_keys({2, 3, 5}, 12)
    assert {_mix_bucket(k) for k in mid} == {2, 3, 5}
    commit([(*k, 200 + i, "U", f"c{i}") for i, k in enumerate(mid)], 2)
    edge = _mix_keys({0, 6}, 4, start=1000)
    commit([(*k, 300 + i, "U", f"d{i}") for i, k in enumerate(edge)], 3,
           per_bucket=True)
    hi_keys = _mix_keys({6, 7}, 6, start=2000) + _mix_keys({7}, 2)
    commit([(*k, 400 + i, "D" if i == 7 else "U", f"e{i}")
            for i, k in enumerate(hi_keys)], 4)
    v_mixed = t.version

    m = t.latest()
    listed = [f for fs in m["files"].values() for f in fs]
    assert len(listed) == len(set(listed))  # each live file exactly once
    spanning = {f: _file_buckets(m, b, f) for b, fs in m["files"].items()
                for f in fs if BUCKETS_STAT in m["file_stats"].get(f, {})}
    assert sorted(spanning.values()) == [[2, 3, 5], [6, 7]]
    assert sorted(r["buckets"] for r in t.files(spark).collect()
                  if len(r["buckets"]) > 1) == [[2, 3, 5], [6, 7]]
    # the exact bucket set prunes: bucket 4 lies inside the 2..5 delta's
    # min/max but is not among its buckets, so its read never opens it
    (mid_file,) = [f for f, bs in spanning.items() if bs == [2, 3, 5]]
    opened = {f.removeprefix("file://")
              for f in t.read(spark, buckets=[4]).inputFiles()}
    assert opened and str(t.root / mid_file) not in opened

    # read(buckets=S): exactly the rows of S; read_live(buckets=S) = oracle
    for s in ([3], [4], [0, 6], [5, 6], [1, 7]):
        raw = t.read(spark, buckets=s)
        got = set() if raw is None else {
            r[BUCKET_COL] for r in raw.select(BUCKET_COL).distinct().collect()}
        assert got <= set(s)
        assert _live(t.read_live(spark, buckets=s)) == o.live(
            lambda k, v: _mix_bucket(k) in s), s
    assert _live(t.read_live(spark)) == o.live()
    # point lookups: in a spanning file, in a per-bucket delta, deleted, absent
    for k in (mid[3], edge[0], hi_keys[7], keys[0], ("r0", "nope")):
        want = o.live(lambda kk, v: kk == k)
        assert _live(t.lookup(spark, {"repo": k[0], "path": k[1]})) == want, k
    # ranged and equality reads filter the LWW winner
    assert _live(t.read_live(spark, between=("seq_no", 150, 450))) == o.live(
        lambda k, v: 150 <= v[0] <= 450)
    for val in ("c3", "a1", "b2", "e0", "zz"):
        assert _live(t.read_live(spark, eq=("val", val))) == o.live(
            lambda k, v: v[2] == val), val
    # changed_buckets covers every changed row's bucket, within the spans
    assert t.changed_buckets(v_l1, v_l1 + 1) == [2, 3, 5]
    ch = t.changed_buckets(v_l1, v_mixed)
    rows = t.read_changes(spark, v_l1, v_mixed).collect()
    assert {_mix_bucket((r["repo"], r["path"])) for r in rows} <= set(ch)
    assert set(ch) <= {0, 2, 3, 4, 5, 6, 7}

    # compaction: the closure of bucket 3 is {2, 3, 5}; bucket 3 is merged
    # into one file, 2 and 5 keep their older file beside a split file of
    # the retired delta's rows; 4 and 6..7 stay
    before = t.latest()["files"]
    assert t.compact(spark, buckets=[3])
    m = t.latest()
    assert [st[BUCKETS_STAT] for st in m["file_stats"].values()
            if BUCKETS_STAT in st] == [[[6, 7]]]
    assert m["files"]["4"] == before["4"]  # outside the closure: untouched
    assert len(m["files"]["3"]) == 1
    for b in ("2", "5"):
        assert before[b][0] in m["files"][b] and len(m["files"][b]) == 2
    assert t.hot_buckets(2) == sorted(
        {2, 5, 6, 7} | {_mix_bucket(k) for k in edge})
    snaps[t.version] = dict(o.state)
    for v, state in snaps.items():  # time travel before and after
        want = {(*k, s[0], s[2]) for k, s in state.items() if s[1] != "D"}
        assert _live(t.read_live(spark, version=v)) == want, v

    # purge: keys in the 6..7 span and in per-bucket files vanish from every
    # generation; nothing else changes and nothing stale resurfaces
    gone = [hi_keys[0], edge[0], keys[5]]
    out = t.purge_keys(spark, spark.createDataFrame(gone, "repo string, path string"))
    assert out["purged_keys"] == 3
    for k in gone:
        o.state.pop(k)
    raw = {(r["repo"], r["path"]) for r in t.read(spark).collect()}
    assert not raw & set(gone)
    assert _live(t.read_live(spark)) == o.live()
    v_purged = t.version
    snaps[v_purged] = dict(o.state)

    # restore to the mixed version: a forward delta commit
    res = t.restore(spark, version=v_mixed)
    assert res["restored"]
    content = {(r["repo"], r["path"], r["val"]) for r in t.read_live(spark).collect()}
    assert content == {(k[0], k[1], s[2]) for k, s in snaps[v_mixed].items()
                       if s[1] != "D"}
    want_purged = {(*k, s[0], s[2]) for k, s in snaps[v_purged].items() if s[1] != "D"}
    assert _live(t.read_live(spark, version=v_purged)) == want_purged

    # rebucket and clone keep the content; time travel crosses the rebucket
    v_pre = t.version
    assert t.rebucket(spark, 4)
    assert {(r["repo"], r["path"], r["val"])
            for r in t.read_live(spark).collect()} == content
    assert {(r["repo"], r["path"], r["val"])
            for r in t.read_live(spark, version=v_pre).collect()} == content
    assert _live(t.read_live(spark, version=v_purged)) == want_purged
    c = t.clone_to(Path(tmpdir_path) / "clone")
    assert {(r["repo"], r["path"], r["val"])
            for r in c.read_live(spark).collect()} == content
    assert c.fsck()["missing_files"] == [] and t.fsck()["orphan_files"] == []


def test_commit_merged_over_a_spanning_delta_file(spark, tmpdir_path):
    """A copy-on-write commit of one bucket that a delta file shares with
    others compacts that file's buckets first: the other buckets keep
    their rows, the touched bucket holds exactly the merged rows."""
    t = SnapshotTable(tmpdir_path, ["repo", "path"], n_buckets=MIX_N)
    keys = _mix_keys(range(MIX_N), 24)
    t.commit_delta_auto(spark.createDataFrame(
        [(*k, i, "U", f"a{i}") for i, k in enumerate(keys)], MIX), 0)
    b = _mix_bucket(keys[0])
    merged = spark.createDataFrame([(*keys[0], 50, "U", "new")], MIX) \
        .withColumn(BUCKET_COL, bucket_expr(["repo", "path"], MIX_N))
    assert t.commit_merged(merged, 1, [b], 50)
    want = {(*k, i, f"a{i}") for i, k in enumerate(keys) if _mix_bucket(k) != b}
    assert _live(t.read_live(spark)) == want | {(*keys[0], 50, "new")}
    m = t.latest()
    assert not any(BUCKETS_STAT in st for st in m["file_stats"].values())
    assert len(m["files"][str(b)]) == 1


def test_sum_table_adds_generations(spark, tmpdir_path):
    """A ``merge="sum"`` table adds a key's generations in reads, lookups,
    compaction and rebucket — each sum keeps its column's type, and a key
    whose sums are all zero drops out — against a dict oracle. The rule
    survives reopen and clone; the last-writer-wins DML raises."""
    import random
    from decimal import Decimal

    import pytest

    schema = "k string, n long, amt decimal(28,4), seq_no long, op string"
    t = SnapshotTable(f"{tmpdir_path}/t", ["k"], n_buckets=4, merge="sum")
    rng = random.Random(3)
    oracle: dict[str, list] = {}
    batches = [[(f"k{k}", rng.choice([-1, 1, 2]),
                 Decimal(rng.randint(-500, 500)) / 4) for k in rng.sample(range(12), 6)]
               for _ in range(9)]
    batches += [[("z", 1, Decimal("2.5"))], [("z", -1, Decimal("-2.5"))]]
    for b, rows in enumerate(batches):
        for k, n, amt in rows:
            o = oracle.setdefault(k, [0, Decimal(0)])
            o[0] += n
            o[1] += amt
        t.commit_delta_auto(spark.createDataFrame(
            [(*r, b, "U") for r in rows], schema), b)
    want = {k: tuple(v) for k, v in oracle.items() if v != [0, 0]}
    assert "z" not in want

    def live():
        df = t.read_live(spark)
        assert dict(df.dtypes) == {"k": "string", "n": "bigint",
                                   "amt": "decimal(28,4)", "seq_no": "bigint",
                                   "op": "string"}
        return {r["k"]: (r["n"], r["amt"]) for r in df.collect()}

    assert live() == want
    for k in ("k0", "k5", "z"):
        df = t.lookup(spark, {"k": k})
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert [(r["n"], r["amt"]) for r in df.collect()] == (
            [want[k]] if k in want else [])
    assert t.compact(spark)
    # compaction leaves one row per key and drops the zero-sum key
    raw = t.read(spark).collect()
    assert sorted(r["k"] for r in raw) == sorted(want)
    assert live() == want
    again = SnapshotTable(f"{tmpdir_path}/t", ["k"])
    assert again.merge == "sum"
    with pytest.raises(ValueError, match="merge='sum'"):
        SnapshotTable(f"{tmpdir_path}/t", ["k"], merge="lww")
    assert t.rebucket(spark, 8)
    assert live() == want
    assert t.clone_to(f"{tmpdir_path}/c").merge == "sum"
    v = t.version
    bucketed = spark.createDataFrame([("k1", 1, Decimal(1), 99, "U")], schema
                                     ).withColumn(BUCKET_COL, bucket_expr(["k"], 8))
    for dml in (lambda: t.restore(spark, version=0),
                lambda: t.delete_where(spark, "n > 0"),
                lambda: t.purge_keys(spark, t.read_live(spark).select("k")),
                lambda: t.purge_where(spark, "n > 0"),
                lambda: t.commit_merged(bucketed, 99, [0], 99)):
        with pytest.raises(ValueError, match="last-writer-wins"):
            dml()
    assert t.version == v and live() == want
