"""IVFIndexView: an IVF ANN index incrementally maintained from a
SnapshotTable's change feed — bootstrap, upsert/delete folding,
exactly-once cursor, driver/plan assignment parity, and probe-pruned
search against a Python brute-force model."""

from __future__ import annotations

import math

from omop_meds_spark.operators.vector_index import (
    IVFIndexView,
    _l2sq_py,
    _quantize_py,
)
from omop_meds_spark.table import BUCKET_COL, SnapshotTable, bucket_expr

KEYS = ["repo", "path"]
DIM = 8
SCHEMA = ("repo string, path string, embedding array<double>, "
          "seq_no long, op string")


def _emb(i: int, shift: int = 0) -> list[float]:
    return [((i * 7 + j * 13 + shift) % 50) / 7.0 - 3.0 for j in range(DIM)]


def _delta(spark, rows, n_buckets=4):
    df = spark.createDataFrame(rows, SCHEMA)
    return df.withColumn(BUCKET_COL, bucket_expr(KEYS, n_buckets))


def _touched(df):
    return sorted({r[BUCKET_COL] for r in df.select(BUCKET_COL).distinct().collect()})


def _mk_source(spark, root, n=20):
    t = SnapshotTable(root, KEYS, n_buckets=4)
    rows = [(f"r{i % 5}", f"p{i}", _emb(i), i, "U") for i in range(n)]
    d = _delta(spark, rows)
    t.commit_delta(d, 0, _touched(d), n)
    return t


def _index_rows(spark, idx):
    df = idx.table.read_live(spark)
    return {(r["repo"], r["path"]): (r["cell"], tuple(r["e"]))
            for r in df.collect()}


def _model_cell(idx, vec: list[float]) -> int:
    """Python model: nearest centroid of the raw embedding."""
    q = _quantize_py(vec)
    cents = idx.codebook()
    return min(range(len(cents)), key=lambda c: (_l2sq_py(q, cents[c]), c))


def test_bootstrap_assigns_every_live_key(spark, tmpdir_path):
    src = _mk_source(spark, f"{tmpdir_path}/src")
    idx = IVFIndexView(f"{tmpdir_path}/idx", src, n_centroids=4)
    assert idx.build(spark) == 4
    assert idx.refresh(spark) is True
    rows = _index_rows(spark, idx)
    assert set(rows) == {(f"r{i % 5}", f"p{i}") for i in range(20)}
    # plan-side assignment == driver-side model (same quantized math)
    for i in range(20):
        cell, e = rows[(f"r{i % 5}", f"p{i}")]
        assert cell == _model_cell(idx, _emb(i)), i
        assert list(e) == _quantize_py(_emb(i))
    # cell_stats covers all vectors
    stats = {r["cell"]: r["n_vectors"]
             for r in idx.cell_stats(spark).collect()}
    assert sum(stats.values()) == 20
    # a second refresh with nothing new is a no-op
    assert idx.refresh(spark) is False


def test_search_matches_python_brute_force_within_probes(spark, tmpdir_path):
    src = _mk_source(spark, f"{tmpdir_path}/src")
    idx = IVFIndexView(f"{tmpdir_path}/idx", src, n_centroids=4)
    idx.build(spark)
    idx.refresh(spark)
    q = _emb(3, shift=1)
    qq = _quantize_py(q)
    probes = set(idx.probe_cells(q, n_probe=2))
    model = sorted(
        ((sum(a * b for a, b in zip(_quantize_py(_emb(i)), qq)),
          (f"r{i % 5}", f"p{i}"))
         for i in range(20)
         if _model_cell(idx, _emb(i)) in probes),
        key=lambda t: (-t[0], t[1]))
    got = [((r["repo"], r["path"]), r["score"])
           for r in idx.search(spark, q, k=5, n_probe=2).collect()]
    assert [(key, s) for s, key in model[:5]] == [(key, s) for key, s in got]
    # probing every cell == full brute force over the corpus
    full = sorted(
        ((sum(a * b for a, b in zip(_quantize_py(_emb(i)), qq)),
          (f"r{i % 5}", f"p{i}")) for i in range(20)),
        key=lambda t: (-t[0], t[1]))
    got_all = [(r["repo"], r["path"])
               for r in idx.search(spark, q, k=5, n_probe=4).collect()]
    assert [key for _, key in full[:5]] == got_all


def test_incremental_upsert_delete_folding(spark, tmpdir_path):
    src = _mk_source(spark, f"{tmpdir_path}/src")
    idx = IVFIndexView(f"{tmpdir_path}/idx", src, n_centroids=4)
    idx.build(spark)
    idx.refresh(spark)
    c0 = idx.cursor

    # batch 1: move p3's vector, delete p7, insert p99
    rows = [("r3", "p3", _emb(40), 100, "U"),
            ("r2", "p7", None, 101, "D"),
            ("r9", "p99", _emb(41), 102, "U")]
    d = _delta(spark, rows)
    src.commit_delta(d, 1, _touched(d), 102)
    assert idx.refresh(spark) is True
    assert idx.cursor > c0
    rows_now = _index_rows(spark, idx)
    assert ("r2", "p7") not in rows_now              # tombstoned
    assert rows_now[("r9", "p99")][0] == _model_cell(idx, _emb(41))
    assert rows_now[("r3", "p3")][0] == _model_cell(idx, _emb(40))
    assert list(rows_now[("r3", "p3")][1]) == _quantize_py(_emb(40))
    # untouched keys kept their assignment
    assert rows_now[("r0", "p5")][0] == _model_cell(idx, _emb(5))
    assert len(rows_now) == 20  # 20 - 1 deleted + 1 inserted

    # incremental result == a fresh bootstrap over the same state with the
    # SAME frozen codebook
    idx2 = IVFIndexView(f"{tmpdir_path}/idx2", src, n_centroids=4)
    idx2._codebook_path.parent.mkdir(parents=True, exist_ok=True)
    idx2._codebook_path.write_text(idx._codebook_path.read_text())
    idx2.refresh(spark)
    assert _index_rows(spark, idx2) == rows_now


def test_codebook_is_frozen_and_rebuild_is_explicit(spark, tmpdir_path):
    import pytest

    src = _mk_source(spark, f"{tmpdir_path}/src")
    idx = IVFIndexView(f"{tmpdir_path}/idx", src, n_centroids=4)
    idx.build(spark)
    with pytest.raises(ValueError, match="frozen"):
        idx.build(spark)
    idx.refresh(spark)
    before = idx.codebook()
    # rebuild re-picks and re-assigns in one explicit call
    rows = [("a0", "a0", _emb(90), 200, "U")]  # sorts before every r* key
    d = _delta(spark, rows)
    src.commit_delta(d, 1, _touched(d), 200)
    idx.rebuild(spark)
    after = idx.codebook()
    assert before != after
    rows_now = _index_rows(spark, idx)
    assert len(rows_now) == 21
    for key, (cell, e) in rows_now.items():
        assert cell == min(range(len(after)),
                           key=lambda c: (_l2sq_py(list(e), after[c]), c))


def test_refresh_requires_codebook_and_is_exactly_once(spark, tmpdir_path):
    import pytest

    src = _mk_source(spark, f"{tmpdir_path}/src")
    idx = IVFIndexView(f"{tmpdir_path}/idx", src, n_centroids=4)
    with pytest.raises(ValueError, match="build"):
        idx.refresh(spark)
    idx.build(spark)
    idx.refresh(spark)
    v = idx.table.version
    # replaying the same fold is a no-op commit-wise
    assert idx.refresh(spark, to_version=src.version) is False
    assert idx.table.version == v


def test_rebuild_folds_pending_deletes_first(spark, tmpdir_path):
    """A delete committed after the last refresh must not survive a
    rebuild as a stale live index row."""
    src = _mk_source(spark, f"{tmpdir_path}/src")
    idx = IVFIndexView(f"{tmpdir_path}/idx", src, n_centroids=4)
    idx.build(spark)
    idx.refresh(spark)
    d = _delta(spark, [("r2", "p7", None, 101, "D")])
    src.commit_delta(d, 1, _touched(d), 101)
    # no refresh between the delete and the rebuild
    idx.rebuild(spark)
    rows_now = _index_rows(spark, idx)
    assert ("r2", "p7") not in rows_now
    assert len(rows_now) == 19


def test_corrupt_codebook_raises_instead_of_repicking(spark, tmpdir_path):
    """Only an ABSENT codebook means "not built yet"; one that does not
    parse raises on read and on rebuild rather than being silently
    replaced by a first_k pick."""
    import pytest

    src = _mk_source(spark, f"{tmpdir_path}/src")
    idx = IVFIndexView(f"{tmpdir_path}/idx", src, n_centroids=4)
    assert idx.codebook() is None
    idx.build(spark)
    idx.refresh(spark)
    for bad in ('{"format": 1, "method": "kmeans", "centr', '[1, 2]',
                '{"method": "kmeans"}'):
        idx._codebook_path.write_text(bad)
        with pytest.raises(ValueError, match="corrupt codebook"):
            idx.codebook()
        with pytest.raises(ValueError, match="corrupt codebook"):
            idx.rebuild(spark)
        assert idx._codebook_path.read_text() == bad
