"""Incremental materialized aggregate view (operators/incremental.py):
fold-by-fold equality with full recomputation, exactly-once refresh,
tombstoned groups, NULL-measure semantics, and the out-of-order poison
case (a changed key whose final winner lives OUTSIDE the refreshed range).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from omop_meds_spark.operators.incremental import IncrementalAggView
from omop_meds_spark.table import SnapshotTable

SCHEMA = "k string, grp string, val double, seq_no long, op string"


def _commit(spark, tbl, batch_id, rows):
    df = spark.createDataFrame(rows, SCHEMA)
    assert tbl.commit_delta_auto(df, batch_id) is not None


def _recompute(spark, tbl):
    live = tbl.read_live(spark)
    if live is None:
        return set()
    agg = live.groupBy("grp").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("val").cast("decimal(18,4)")).alias("sum_val"),
    )
    return {(r["grp"], r["n_rows"],
             None if r["sum_val"] is None else float(r["sum_val"]))
            for r in agg.collect()}


def _view_rows(spark, view):
    df = view.read(spark)
    if df is None:
        return set()
    return {(r["grp"], r["n_rows"],
             None if r["sum_val"] is None else float(r["sum_val"]))
            for r in df.collect()}


def test_incremental_matches_recompute_across_folds(spark, tmpdir_path):
    tbl = SnapshotTable(f"{tmpdir_path}/src", ["k"], n_buckets=4)
    view = IncrementalAggView(f"{tmpdir_path}/view", tbl, dims=["grp"],
                              sum_cols=["val"], n_buckets=4)
    # fold 1: inserts across two groups
    _commit(spark, tbl, 0, [(f"k{i}", "a" if i < 3 else "b",
                             float(i), i, "U") for i in range(6)])
    assert view.refresh(spark)
    assert _view_rows(spark, view) == _recompute(spark, tbl)
    # fold 2: group move (k0 a->b), value update (k4), delete (k5), insert
    _commit(spark, tbl, 1, [
        ("k0", "b", 0.0, 10, "U"),
        ("k4", "b", 40.0, 11, "U"),
        ("k5", "b", None, 12, "D"),
        ("k9", "c", 9.5, 13, "U"),
    ])
    assert view.refresh(spark)
    assert _view_rows(spark, view) == _recompute(spark, tbl)


def test_refresh_is_exactly_once_and_chunk_invariant(spark, tmpdir_path):
    tbl = SnapshotTable(f"{tmpdir_path}/src", ["k"], n_buckets=4)
    a = IncrementalAggView(f"{tmpdir_path}/va", tbl, dims=["grp"],
                           sum_cols=["val"])
    for i in range(4):
        _commit(spark, tbl, i, [(f"k{i}{j}", f"g{j % 2}", float(j), i * 10 + j, "U")
                                for j in range(3)])
        assert a.refresh(spark)  # per-commit folds
    assert not a.refresh(spark)  # nothing new: no-op
    b = IncrementalAggView(f"{tmpdir_path}/vb", tbl, dims=["grp"],
                           sum_cols=["val"])
    assert b.refresh(spark)      # one-shot fold of the whole history
    assert _view_rows(spark, a) == _view_rows(spark, b) == _recompute(spark, tbl)
    # a fresh process recovers the cursor from lineage
    a2 = IncrementalAggView(f"{tmpdir_path}/va", tbl, dims=["grp"],
                            sum_cols=["val"])
    assert a2.cursor == tbl.version
    assert not a2.refresh(spark)


def test_group_count_zero_becomes_tombstone(spark, tmpdir_path):
    tbl = SnapshotTable(f"{tmpdir_path}/src", ["k"], n_buckets=2)
    view = IncrementalAggView(f"{tmpdir_path}/view", tbl, dims=["grp"],
                              sum_cols=["val"])
    _commit(spark, tbl, 0, [("k1", "solo", 1.0, 1, "U"),
                            ("k2", "dup", 2.0, 2, "U")])
    view.refresh(spark)
    _commit(spark, tbl, 1, [("k1", "solo", None, 3, "D")])
    view.refresh(spark)
    got = _view_rows(spark, view)
    assert got == {("dup", 1, 2.0)}  # 'solo' group vanished, not n=0


def test_all_null_measure_group_reads_null_sum(spark, tmpdir_path):
    tbl = SnapshotTable(f"{tmpdir_path}/src", ["k"], n_buckets=2)
    view = IncrementalAggView(f"{tmpdir_path}/view", tbl, dims=["grp"],
                              sum_cols=["val"])
    _commit(spark, tbl, 0, [("k1", "g", None, 1, "U"),
                            ("k2", "g", None, 2, "U")])
    view.refresh(spark)
    assert _view_rows(spark, view) == {("g", 2, None)}  # SQL SUM over nulls
    _commit(spark, tbl, 1, [("k1", "g", 5.0, 3, "U")])
    view.refresh(spark)
    assert _view_rows(spark, view) == {("g", 2, 5.0)}


def test_runner_maintains_view_across_resume(spark, tmpdir_path):
    """The CDC runner refreshes attached views per committed batch; a
    second runner (fresh table handles, resume path — every batch already
    committed) leaves the view identical, and the view matches a full
    recompute over the final live state."""
    from omop_meds_spark.runner import CDCRunner
    from omop_meds_spark.sources.gen import generate_wal

    wal = f"{tmpdir_path}/wal"
    generate_wal(wal, n_events=4000, n_repos=8, paths_per_repo=20,
                 n_files=6, seed=11)
    r = CDCRunner(spark, wal, f"{tmpdir_path}/t", n_buckets=8,
                  files_per_batch=2)
    view = IncrementalAggView(f"{tmpdir_path}/mv", r.table, dims=["lang"],
                              sum_cols=["token_count"], n_buckets=4)
    r.views.append(view)
    assert r.run()

    def rows():
        return {(x["lang"], x["n_rows"],
                 None if x["sum_token_count"] is None else float(x["sum_token_count"]))
                for x in view.read(spark).collect()}

    expect = {(x["lang"], x["n_rows"],
               None if x["s"] is None else float(x["s"]))
              for x in r.final_state().groupBy("lang").agg(
                  F.count("*").alias("n_rows"),
                  F.sum(F.col("token_count").cast("decimal(18,4)")).alias("s"))
              .collect()}
    got = rows()
    assert got == expect
    # resume: a fresh runner with the same view attached is a no-op
    r2 = CDCRunner(spark, wal, f"{tmpdir_path}/t", n_buckets=8,
                   files_per_batch=2)
    r2.views.append(IncrementalAggView(f"{tmpdir_path}/mv", r2.table,
                                       dims=["lang"], sum_cols=["token_count"]))
    assert r2.run() == []
    assert rows() == got


def test_out_of_range_winner_poison_case(spark, tmpdir_path):
    """k's commit-1 row (seq 100) stays the LWW winner even after commit 2
    touches k with a LOWER seq (late/duplicate delivery). The view must
    diff full before/after states — folding the range's own winner rows
    would wrongly move k to group 'late'."""
    tbl = SnapshotTable(f"{tmpdir_path}/src", ["k"], n_buckets=2)
    view = IncrementalAggView(f"{tmpdir_path}/view", tbl, dims=["grp"],
                              sum_cols=["val"])
    _commit(spark, tbl, 0, [("k", "early", 1.0, 100, "U")])
    view.refresh(spark)
    _commit(spark, tbl, 1, [("k", "late", 9.0, 5, "U")])  # stale redelivery
    view.refresh(spark)
    assert _view_rows(spark, view) == _recompute(spark, tbl) == {
        ("early", 1, 1.0)}


def test_fold_across_source_compaction(spark, tmpdir_path):
    """A source ``compact()`` between two folds rewrites every bucket into
    one generation: the next fold reads the pre-compaction generations at
    its cursor and still lands on the recompute."""
    tbl = SnapshotTable(f"{tmpdir_path}/src", ["k"], n_buckets=4)
    view = IncrementalAggView(f"{tmpdir_path}/view", tbl, dims=["grp"],
                              sum_cols=["val"])
    _commit(spark, tbl, 0, [(f"k{i}", f"g{i % 3}", float(i), i, "U")
                            for i in range(12)])
    assert view.refresh(spark)
    _commit(spark, tbl, 1, [("k0", "g2", 5.0, 20, "U"),
                            ("k1", "g0", None, 21, "D")])
    assert tbl.compact(spark)
    _commit(spark, tbl, 2, [("k2", "g9", 7.5, 22, "U"),
                            ("k0", "g1", 1.0, 23, "U")])
    assert view.refresh(spark)
    assert _view_rows(spark, view) == _recompute(spark, tbl)
    assert tbl.compact(spark)  # a compaction-only range just moves the cursor
    assert view.refresh(spark)
    assert view.cursor == tbl.version
    assert _view_rows(spark, view) == _recompute(spark, tbl)


def test_sum_col_added_after_cursor(spark, tmpdir_path):
    """The measure column first appears in a commit after the view's
    cursor: the view's earlier folds and the old-state rows read it as
    null, and the fold still equals the recompute."""
    tbl = SnapshotTable(f"{tmpdir_path}/src", ["k"], n_buckets=4)
    view = IncrementalAggView(f"{tmpdir_path}/view", tbl, dims=["grp"],
                              sum_cols=["val"])
    first = spark.createDataFrame(
        [(f"k{i}", f"g{i % 2}", i, "U") for i in range(6)],
        "k string, grp string, seq_no long, op string")
    assert tbl.commit_delta_auto(first, 0) is not None
    assert view.refresh(spark)
    assert _view_rows(spark, view) == {("g0", 3, None), ("g1", 3, None)}
    _commit(spark, tbl, 1, [("k0", "g1", 2.5, 10, "U"),
                            ("k7", "g0", 4.0, 11, "U"),
                            ("k3", "g1", None, 12, "D")])
    assert view.refresh(spark)
    assert _view_rows(spark, view) == _recompute(spark, tbl)


def test_vacuumed_cursor_version_raises(spark, tmpdir_path):
    """Vacuum retires the view's cursor version while the deltas after it
    survive: the fold cannot subtract the prior state, so it raises and
    leaves the view as it was."""
    import pytest

    tbl = SnapshotTable(f"{tmpdir_path}/src", ["k"], n_buckets=2)
    view = IncrementalAggView(f"{tmpdir_path}/view", tbl, dims=["grp"],
                              sum_cols=["val"])
    _commit(spark, tbl, 0, [("k1", "a", 1.0, 1, "U"), ("k2", "b", 2.0, 2, "U")])
    assert view.refresh(spark)
    before = _recompute(spark, tbl)
    assert _view_rows(spark, view) == before
    _commit(spark, tbl, 1, [("k1", "b", 3.0, 3, "U")])
    _commit(spark, tbl, 2, [("k3", "a", 4.0, 4, "U")])
    tbl.vacuum(keep_versions=2)
    assert tbl.manifest_at(view.cursor) is None
    with pytest.raises(ValueError, match="cursor version 0 was vacuumed"):
        view.refresh(spark)
    assert view.cursor == 0
    assert _view_rows(spark, view) == before


def test_views_compact_their_own_tables(spark, tmpdir_path):
    """Every refresh commits one generation to the view buckets it
    touches; the views compact their tables' hot buckets at the ingest
    cadence, so a view read stays bounded across refreshes."""
    from omop_meds_spark.operators.incremental import SCD2View
    from omop_meds_spark.table import COMPACT_EVERY

    tbl = SnapshotTable(f"{tmpdir_path}/src", ["k"], n_buckets=4)
    view = IncrementalAggView(f"{tmpdir_path}/view", tbl, dims=["grp"],
                              sum_cols=["val"], n_buckets=4)
    hist = SCD2View(f"{tmpdir_path}/hist", tbl, n_buckets=4)
    for b in range(12):
        _commit(spark, tbl, b, [(f"k{(b * 3 + i) % 20}", f"g{i % 6}",
                                 float(b + i), 100 * b + i, "D" if i == 4 else "U")
                                for i in range(6)])
        assert view.refresh(spark)
        assert hist.refresh(spark)
    assert COMPACT_EVERY == 8
    assert 1 <= view.table.max_files_per_bucket() <= COMPACT_EVERY
    assert 1 <= hist.table.max_files_per_bucket() <= COMPACT_EVERY
    assert view.table.hot_buckets() == hist.table.hot_buckets() == []
    assert _view_rows(spark, view) == _recompute(spark, tbl)
    # one history row per key ever written, each entry one commit of it
    log = hist.read_log(spark).collect()
    assert {r["k"] for r in log} == {f"k{i}" for i in range(20)}
    assert len(log) == len(tbl.read_changes(spark, -1).collect())
