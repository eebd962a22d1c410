"""Real-kill crash and resume around the publish steps of a batch.

A child process applies a batch and dies with ``os._exit(137)`` at one of
three points, chosen by monkeypatching ``SnapshotTable._publish`` inside
the child (the engine has no crash hook):

* ``l0`` — the batch's level-0 data files are written, no manifest linked;
* ``between`` — the state table published, the MEDS table did not;
* ``compact`` — a compaction wrote its per-bucket files, its manifest is
  not linked.

A fresh process (this one) then resumes the replay. The state and MEDS
tables must equal the pandas replay oracles, ``fsck`` must find no missing
file, and ``vacuum`` must remove the orphans the dead writer left.
"""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pytest

from omop_meds_spark import verify
from omop_meds_spark.runner import CDCRunner
from omop_meds_spark.sources.gen import generate_wal, meds_replay_oracle, replay_oracle

REPO = Path(__file__).resolve().parent.parent
FP_COLS = ["repo", "path", "commit", "lang", "size_bytes", "content_sha256",
           "seq_no", "token_count", "lang_pred", "n_lines", "max_line_len",
           "lang_code"]
MEDS_FP_COLS = ["subject_id", "time", "code", "numeric_value", "text_value",
                "seq_no"]

# batch 0 commits normally; the child dies while applying batch 1, whose
# two generations per bucket reach compact_every=2
CHILD = """
import os, sys, threading
from omop_meds_spark.runner import CDCRunner
from omop_meds_spark.session import get_spark
from omop_meds_spark.table import SnapshotTable

point, wal, root = sys.argv[1:4]
real = SnapshotTable._publish
state_published = threading.Event()

def publish(self, **kw):
    if point == "l0":
        os._exit(137)
    if point == "between":
        if self.root.name == "meds":
            state_published.wait(120)
            os._exit(137)
        out = real(self, **kw)
        state_published.set()
        return out
    if point == "compact" and kw.get("files_replace"):
        os._exit(137)
    return real(self, **kw)

spark = get_spark(cores=2)
r = CDCRunner(spark, wal, root, n_buckets=8, files_per_batch=2, compact_every=2)
batches = r.reader.plan_batches()
r.apply_batch(batches[0])
SnapshotTable._publish = publish
r.apply_batch(batches[1])
os._exit(0)
"""


@pytest.mark.parametrize("point", ["l0", "between", "compact"])
def test_killed_writer_resumes_to_the_oracle(spark, tmpdir_path, point):
    wal, root = f"{tmpdir_path}/wal", f"{tmpdir_path}/table"
    generate_wal(wal, n_events=3000, n_repos=8, paths_per_repo=25, n_files=5,
                 seed=71)
    env = {**os.environ, "PYTHONPATH": str(REPO), "SPARK_DRIVER_MEMORY": "1g"}
    child = subprocess.run([sys.executable, "-c", CHILD, point, wal, root],
                           env=env, capture_output=True, text=True, timeout=600)
    assert child.returncode == 137, child.stderr[-2000:]

    r = CDCRunner(spark, wal, root, n_buckets=8, files_per_batch=2,
                  compact_every=2)
    committed = {
        "l0": (set(), set()),
        "between": ({1}, set()),
        "compact": ({1}, {1}),
    }[point]
    assert (r.table.committed_batches() - {0},
            r.meds_table.committed_batches() - {0}) == committed
    r.run()

    pdf = replay_oracle(wal)
    pdf["size_bytes"] = pdf["size_bytes"].astype("Int64")
    assert verify.state_fingerprint(r.final_state(), FP_COLS) == \
        verify.pandas_fingerprint(pdf, FP_COLS)
    assert verify.state_fingerprint(r.final_meds(), MEDS_FP_COLS) == \
        verify.pandas_fingerprint(meds_replay_oracle(wal), MEDS_FP_COLS)

    for t in (r.table, r.meds_table):
        rep = t.fsck()
        assert rep["missing_files"] == []
        if point == "compact" and t is r.table:
            # the dead compaction's per-bucket files: no manifest names them
            assert rep["orphan_files"] and all(
                f.startswith("data/compact") for f in rep["orphan_files"])
        t.vacuum()
        assert not any((t.root / f).exists() for f in rep["orphan_files"])
        assert t.fsck()["orphan_files"] == [] and t.fsck()["missing_files"] == []
    assert verify.state_fingerprint(r.final_state(), FP_COLS) == \
        verify.pandas_fingerprint(pdf, FP_COLS)
