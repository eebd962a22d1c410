"""Property/fuzz spec for the LWW upsert kernel (SURVEY §7.3(c)).

The table-driven cases in test_upsert.py pin the known orderings; this file
sweeps RANDOMIZED event logs through the kernel and checks every delivery
the source contract allows against a pure-Python oracle:

  * arrival-order invariance (any permutation of the log),
  * at-least-once redelivery (byte-identical duplicate copies),
  * batch-split invariance (any cut points + merge_state fold),
  * max_by == window-variant equivalence.

The reference's analogue is its exhaustive resolver spec
(reference: tests/test_build_preferred_event_datetime.py:1-686) — the one
kernel that defines correctness gets the exhaustive treatment.

Each hypothesis example runs several Spark jobs, so examples are capped and
the log kept small; the space that matters (seq ties, tombstones, hot keys,
duplicates, odd split points) is dense at this size.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from omop_meds_spark.operators.upsert import (
    last_writer_wins,
    last_writer_wins_window,
    merge_state,
)

SCHEMA = ("seq_no long, event_id string, op string, repo string, "
          "path string, content string")


def _mk(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _live(df):
    out = df.filter(F.col("op") != "D").select("repo", "path", "content", "seq_no")
    return {tuple(r) for r in out.collect()}


def _oracle_live(events):
    """Reference semantics: per key, the event with max (seq_no, event_id)
    wins; tombstones suppress the key. Pure python, no Spark."""
    best: dict[tuple, tuple] = {}
    for seq, eid, op, repo, path, content in events:
        k = (repo, path)
        o = (seq, eid)
        if k not in best or o > best[k][0]:
            best[k] = (o, (seq, eid, op, repo, path, content))
    return {
        (e[3], e[4], e[5], e[0])
        for _, e in best.values()
        if e[2] != "D"
    }


# A log: unique (seq_no, event_id) pairs (the source contract — redelivered
# copies are byte-identical, exercised separately below), keys drawn from a
# 3x3 pool so collisions/tombstone chains are dense, and seq_no drawn from a
# SMALL range so equal-seq tiebreak-by-event_id paths are actually hit.
@st.composite
def event_logs(draw):
    n = draw(st.integers(min_value=1, max_value=28))
    events, seen = [], set()
    for i in range(n):
        seq = draw(st.integers(min_value=0, max_value=9))
        eid = f"e{draw(st.integers(min_value=0, max_value=49)):03d}"
        if (seq, eid) in seen:
            continue
        seen.add((seq, eid))
        op = draw(st.sampled_from(["I", "U", "U", "D"]))
        repo = f"r{draw(st.integers(min_value=0, max_value=2))}"
        path = f"p{draw(st.integers(min_value=0, max_value=2))}"
        content = None if op == "D" else draw(
            st.sampled_from(["a", "bb", "ccc", "", "zz"]))
        events.append((seq, eid, op, repo, path, content))
    return events


COMMON = dict(
    deadline=None,  # Spark job latency varies; wall-clock is not the property
    max_examples=12,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@settings(**COMMON)
@given(log=event_logs(), data=st.data())
def test_lww_matches_oracle_under_any_arrival_order(spark, log, data):
    arrival = data.draw(st.permutations(log))
    got = _live(last_writer_wins(_mk(spark, arrival), ["repo", "path"]))
    assert got == _oracle_live(log)


@settings(**COMMON)
@given(log=event_logs(), data=st.data())
def test_lww_idempotent_under_byte_identical_redelivery(spark, log, data):
    # at-least-once source: re-deliver a random subset (identical bytes),
    # shuffle the whole stream — max_by must not care
    dup_idx = data.draw(st.sets(st.integers(0, max(len(log) - 1, 0)),
                                max_size=len(log)))
    stream = list(log) + [log[i] for i in sorted(dup_idx) if i < len(log)]
    arrival = data.draw(st.permutations(stream))
    got = _live(last_writer_wins(_mk(spark, arrival), ["repo", "path"]))
    assert got == _oracle_live(log)


@settings(**COMMON)
@given(log=event_logs(), data=st.data())
def test_lww_batch_split_invariance(spark, log, data):
    """Any way the (shuffled) stream is cut into micro-batches, the
    merge_state fold of per-batch winners reaches the same final state —
    tombstone retention makes cross-batch ordering irrelevant."""
    arrival = data.draw(st.permutations(log))
    n_cuts = data.draw(st.integers(min_value=0, max_value=4))
    cuts = sorted(data.draw(st.sets(
        st.integers(1, max(len(arrival) - 1, 1)),
        min_size=0, max_size=n_cuts))) if len(arrival) > 1 else []
    bounds = [0, *cuts, len(arrival)]
    state = None
    for lo, hi in zip(bounds, bounds[1:]):
        if lo == hi:
            continue
        winners = last_writer_wins(_mk(spark, arrival[lo:hi]), ["repo", "path"])
        state = merge_state(state, winners, ["repo", "path"])
    assert state is not None
    assert _live(state) == _oracle_live(log)


@settings(deadline=None, max_examples=6,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(log=event_logs())
def test_lww_variants_agree(spark, log):
    """The window-ranking variant is drop-in equal to the max_by kernel
    on the same input."""
    df = _mk(spark, log)
    cols = ["seq_no", "event_id", "op", "repo", "path", "content"]
    base = {tuple(r) for r in
            last_writer_wins(df, ["repo", "path"]).select(*cols).collect()}
    window = {tuple(r) for r in
              last_writer_wins_window(df, ["repo", "path"]).select(*cols).collect()}
    assert base == window


def test_lww_seeded_100_ordering_sweep(spark):
    """Round-3 ask, closed to the letter: >=100 seeded permutations AND
    batch-splits of one dense log, every case replayed through the real
    kernel (last_writer_wins + merge_state fold) and checked against
    `_oracle_live`. All cases are batched into a HANDFUL of Spark jobs by
    tagging rows with case_id and folding per (case_id, repo, path):
    B sub-batch unions -> B kernel calls + (B-1) merges + 1 collect,
    instead of 100x that.  Half the cases also exercise at-least-once
    redelivery (byte-identical duplicate copies injected pre-shuffle)."""
    import random

    rng = random.Random(20260821)
    # one dense log: 3x3 keys, seq 0..7 (tie-dense), tombstone chains
    log = []
    for i in range(24):
        seq = rng.randrange(8)
        eid = f"e{i:03d}"
        op = rng.choice(["I", "U", "U", "D"])
        repo, path = f"r{rng.randrange(3)}", f"p{rng.randrange(3)}"
        content = None if op == "D" else rng.choice(["a", "bb", "ccc", ""])
        log.append((seq, eid, op, repo, path, content))
    expected = _oracle_live(log)

    n_cases, n_sub = 120, 3
    slices: list[list[list]] = [[] for _ in range(n_sub)]  # rows per sub-batch
    for case in range(n_cases):
        stream = list(log)
        if case % 2:  # redelivery: duplicate a seeded subset, bytes identical
            k = rng.randrange(1, len(log))
            stream += rng.sample(log, k)
        rng.shuffle(stream)
        # exactly n_sub contiguous cuts (possibly empty slices)
        cuts = sorted(rng.randrange(len(stream) + 1) for _ in range(n_sub - 1))
        bounds = [0, *cuts, len(stream)]
        for b, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
            slices[b].extend((case, *ev) for ev in stream[lo:hi])

    schema = "case_id int, " + SCHEMA
    keys = ["case_id", "repo", "path"]
    state = None
    for rows in slices:
        if not rows:
            continue
        winners = last_writer_wins(
            spark.createDataFrame(rows, schema), keys)
        state = merge_state(state, winners, keys)
    live = (state.filter(F.col("op") != "D")
            .select("case_id", "repo", "path", "content", "seq_no").collect())
    by_case: dict[int, set] = {c: set() for c in range(n_cases)}
    for r in live:
        by_case[r.case_id].add((r.repo, r.path, r.content, r.seq_no))
    for case in range(n_cases):
        assert by_case[case] == expected, f"case {case} diverged"
