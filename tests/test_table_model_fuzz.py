"""Model-based fuzz of the snapshot log's maintenance surface.

Round 3's only genuine defect (vacuum unlinking LIVE data files after a
manual ``checkpoint()``) lived in the interplay of ``_publish`` /
``checkpoint`` / ``vacuum`` / compaction-style replaces — individually
simple operations whose composition has sharp corners (dual-kind versions,
delta-vs-reset replay, referenced-set computation). This test drives
hundreds of randomized operation sequences against a ``SnapshotTable``
whose "data files" are driver-touched placeholder ``.parquet`` files (no
Spark session: vacuum and manifest replay are pure driver-side file ops and
never read parquet contents), mirrors every step in a pure-Python reference
model, and asserts after EVERY operation:

* every retained version materializes to exactly the model's files map
  (``manifest_at`` replay correctness across ckpt/delta mixtures);
* every file referenced by any retained version exists on disk
  (the round-3 data-loss class);
* after a vacuum, every file referenced by NO retained version is gone
  (retention actually reclaims space) and dropped versions resolve to
  ``None`` — never ``RuntimeError`` (the stale-dual-delta class);
* the latest state's committed-batch set and watermark survive unchanged;
* per-bucket resume offsets max-merge on commits, RESET + re-key on a
  layout change (the manifest shape ``rebucket()`` publishes), and the
  bucket layout replays correctly per version — including a fresh open
  healing a stale ``_table.json`` mirror from the log;
* snapshot TAGS pin their version (and the contiguous suffix above the
  pinned floor) through any vacuum until dropped, and ``fsck`` is clean
  on a healthy table at every point in the sequence, reports exactly the
  injected junk, and sweeps only that.

No reference-repo analogue: the reference's resume model is per-file
``.done`` markers (reference: src/OMOP_MEDS/pre_meds.py:74-79); the
transactional log is this engine's own surface, so it gets its own spec.
"""

from __future__ import annotations

import random

import pytest

from omop_meds_spark.table import SnapshotTable

N_BUCKETS = 4


class _Model:
    """Pure-Python twin of the snapshot log: per-version materialized
    files maps plus the committed set / watermark, with vacuum retention."""

    def __init__(self, n_buckets: int) -> None:
        self.versions: dict[int, dict[str, list[str]]] = {}
        self.layout: dict[int, int] = {}  # version -> n_buckets
        self.latest: int = -1
        self.committed: set[int] = set()
        self.watermark: int = -1
        self.n_buckets: int = n_buckets
        self.offsets: dict[str, int] = {}
        self.tags: dict[str, int] = {}

    def _next_files(self) -> dict[str, list[str]]:
        if self.latest < 0:
            return {}
        return {b: list(fs) for b, fs in self.versions[self.latest].items()}

    def commit(self, files_add: dict[str, list[str]],
               files_replace: dict[str, list[str]],
               batch_id: int | None, watermark_seq: int,
               offsets: dict[str, int] | None = None,
               offsets_reset: bool = False,
               n_buckets: int | None = None) -> None:
        files = self._next_files()
        for b, fs in files_add.items():
            files[b] = files.get(b, []) + list(fs)
        for b, fs in files_replace.items():
            if fs:
                files[b] = list(fs)
            else:
                files.pop(b, None)
        self.latest += 1
        self.versions[self.latest] = files
        if batch_id is not None:
            self.committed.add(batch_id)
        self.watermark = max(self.watermark, watermark_seq)
        if offsets_reset:
            self.offsets = {}
        for b, s in (offsets or {}).items():
            self.offsets[b] = max(int(s), self.offsets.get(b, -1))
        if n_buckets is not None:
            self.n_buckets = n_buckets
        self.layout[self.latest] = self.n_buckets

    def vacuum(self, keep_versions: int) -> None:
        vs = sorted(self.versions)
        if len(vs) <= keep_versions:
            return
        floor = vs[-keep_versions]
        pinned = {v for v in self.tags.values() if v in self.versions}
        if pinned:  # tags drag the retention floor down (engine contract)
            floor = min(floor, min(pinned))
        self.versions = {v: f for v, f in self.versions.items() if v >= floor}
        self.layout = {v: n for v, n in self.layout.items() if v >= floor}

    def referenced(self) -> set[str]:
        return {f for files in self.versions.values() for fs in files.values() for f in fs}


def _touch(root, rel: str) -> None:
    p = root / rel
    p.parent.mkdir(parents=True, exist_ok=True)
    p.write_bytes(b"x")  # placeholder: vacuum never reads parquet contents


def _check(t: SnapshotTable, m: _Model) -> None:
    # every retained version materializes to the model's files map
    for v, want in m.versions.items():
        got = t.manifest_at(v)
        assert got is not None, f"retained v{v} vanished"
        assert got["files"] == {b: fs for b, fs in want.items() if fs}, f"v{v} files diverged"
        assert got["n_buckets"] == m.layout[v], f"v{v} layout diverged"
        for fs in want.values():
            for f in fs:
                assert (t.root / f).exists(), f"LIVE file {f} (referenced by v{v}) was deleted"
    # dropped versions resolve to None, never RuntimeError
    for v in range(0, m.latest + 1):
        if v not in m.versions:
            assert t.manifest_at(v) is None, f"dropped v{v} should read as None"
    if m.latest >= 0:
        assert t.version == m.latest
        assert t.committed_batches() == m.committed
        assert t.watermark() == m.watermark
        assert t.offsets() == {int(b): s for b, s in m.offsets.items()}
        assert t.n_buckets == m.n_buckets
        # a fresh open adopts the LOG's layout even when the _table.json
        # mirror is stale (the rebucket crash window), and heals it
        t2 = SnapshotTable(t.root, t.key_cols)
        assert t2.n_buckets == m.n_buckets
        assert t2.offsets() == {int(b): s for b, s in m.offsets.items()}


@pytest.mark.parametrize("seed", range(40))
def test_log_maintenance_model_fuzz(tmpdir_path, seed):
    rng = random.Random(seed)
    t = SnapshotTable(tmpdir_path, ["repo", "path"], n_buckets=N_BUCKETS,
                      checkpoint_every=rng.choice([2, 3, 5, 16]))
    m = _Model(N_BUCKETS)
    next_batch = 0
    next_file = 0
    watermark = 0

    def fresh_files(n: int) -> list[str]:
        nonlocal next_file
        out = []
        for _ in range(n):
            rel = f"data/g{next_file:05d}/part-0.parquet"
            _touch(t.root, rel)
            out.append(rel)
            next_file += 1
        return out

    for _ in range(rng.randint(20, 40)):
        op = rng.random()
        if op < 0.5 or m.latest < 0:  # append commit (the hot-path shape)
            buckets = rng.sample(range(m.n_buckets), rng.randint(1, min(3, m.n_buckets)))
            adds = {str(b): fresh_files(rng.randint(1, 2)) for b in buckets}
            watermark += rng.randint(1, 5)
            offs = {str(b): watermark for b in buckets}
            t._publish(batch_id=next_batch, files_add=adds,
                       watermark_seq=watermark, offsets=offs)
            m.commit(adds, {}, next_batch, watermark, offsets=offs)
            next_batch += 1
        elif op < 0.65:  # compaction-style replace (no batch commit)
            cur = m.versions[m.latest]
            if cur:
                b = rng.choice(sorted(cur))
                repl = {b: fresh_files(1) if rng.random() < 0.8 else []}
                t._publish(batch_id=m.latest, files_replace=repl,
                           watermark_seq=-1, add_committed=False)
                m.commit({}, repl, None, -1)
        elif op < 0.74:  # rebucket-shaped layout change: full replace +
            # n_buckets flip + offsets reset/re-key, all in ONE manifest
            cur = m.versions[m.latest]
            new_n = rng.choice([n for n in (2, 4, 8) if n != m.n_buckets])
            if cur:
                repl = {b: [] for b in cur}
                new_live = rng.sample(range(new_n), rng.randint(1, new_n))
                repl.update({str(b): fresh_files(1) for b in new_live})
                offs = {str(b): m.watermark for b in new_live} if m.watermark >= 0 else {}
                t.n_buckets = new_n  # what rebucket() does before publishing
                t._publish(batch_id=max(next_batch - 1, 0),
                           files_replace=repl, watermark_seq=m.watermark,
                           add_committed=False, offsets=offs,
                           offsets_reset=True)
                if rng.random() < 0.5:  # half the time, crash BEFORE the
                    pass                # mirror re-stamp: open() must heal
                else:
                    t._stamp_table_meta()
                m.commit({}, repl, None, m.watermark, offsets=offs,
                         offsets_reset=True, n_buckets=new_n)
        elif op < 0.80:  # manual checkpoint (the round-3 bug trigger)
            t.checkpoint()
        elif op < 0.84:  # tag / drop_tag (pins gate vacuum retention)
            name = f"tag{rng.randrange(4)}"
            if rng.random() < 0.3 and m.tags:
                victim = rng.choice(sorted(m.tags))
                assert t.drop_tag(victim) is True
                del m.tags[victim]
            elif m.latest >= 0:
                v = rng.choice(sorted(m.versions))
                if name in m.tags and m.tags[name] != v:
                    with pytest.raises(ValueError):
                        t.tag(name, v)  # moving a tag is an error
                else:
                    assert t.tag(name, v) == v
                    m.tags[name] = v
            assert t.tags() == m.tags
        elif op < 0.88:  # fsck: healthy -> clean; scattered junk -> swept
            rep = t.fsck()
            assert rep["orphan_files"] == [] and rep["torn_manifests"] == []
            junk = f"data/junk{next_file:05d}/orphan.parquet"
            _touch(t.root, junk)
            (t.root / "_log" / ".tmp.vX-delta.json").write_text("{}")
            rep = t.fsck()
            assert rep["orphan_files"] == [junk]
            assert rep["torn_manifests"] == [".tmp.vX-delta.json"]
            assert t.fsck(remove=True)["removed"] == 2
            assert not (t.root / junk).exists()
            assert t.fsck() == {"orphan_files": [], "missing_files": [],
                                "torn_manifests": [], "removed": 0}
        else:  # vacuum under a random retention window
            k = rng.randint(1, 4)
            pinned = {v for v in m.tags.values() if v in m.versions}
            floor = (sorted(m.versions)[-k] if len(m.versions) > k else None)
            if floor is not None and pinned:
                floor = min(floor, min(pinned))
            ran = floor is not None and any(v < floor for v in m.versions)
            t.vacuum(keep_versions=k)
            m.vacuum(k)
            live = m.referenced()
            on_disk = {str(p.relative_to(t.root))
                       for p in (t.root / "data").rglob("*.parquet")}
            assert live <= on_disk, f"vacuum lost live files: {live - on_disk}"
            if ran:  # reclamation: unreferenced files must actually be gone
                assert on_disk == live, (
                    f"vacuum leaked unreferenced files: {on_disk - live}")
        _check(t, m)
