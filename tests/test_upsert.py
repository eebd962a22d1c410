"""Table-driven spec for the MERGE / last-writer-wins kernel.

Mirrors the reference's exhaustive resolver-spec style
(reference: tests/test_build_preferred_event_datetime.py — 18 case groups):
insert/update/delete orderings, duplicates, ties, batch-split invariance,
window/plain equivalence.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from omop_meds_spark.operators.upsert import (
    dedup_events,
    last_writer_wins,
    last_writer_wins_window,
    merge_state,
)

COLS = ["seq_no", "event_id", "op", "repo", "path", "content"]


def ev(seq, op, repo, path, content, eid=None):
    return (seq, eid or f"e{seq:04d}", op, repo, path, content)


def mk(spark, rows):
    return spark.createDataFrame(rows, "seq_no long, event_id string, op string, repo string, path string, content string")


def final_live(df):
    out = df.filter(F.col("op") != "D").select("repo", "path", "content", "seq_no")
    return {tuple(r) for r in out.collect()}


# --- case groups -----------------------------------------------------------
CASES = {
    # A. plain insert
    "A_insert": ([ev(1, "I", "r1", "p1", "c1")], {("r1", "p1", "c1", 1)}),
    # B. insert then update — update wins
    "B_update_wins": (
        [ev(1, "I", "r1", "p1", "c1"), ev(2, "U", "r1", "p1", "c2")],
        {("r1", "p1", "c2", 2)},
    ),
    # C. out-of-order arrival — higher seq wins regardless of arrival order
    "C_out_of_order": (
        [ev(2, "U", "r1", "p1", "c2"), ev(1, "I", "r1", "p1", "c1")],
        {("r1", "p1", "c2", 2)},
    ),
    # D. delete tombstone removes the key
    "D_delete": (
        [ev(1, "I", "r1", "p1", "c1"), ev(2, "D", "r1", "p1", None)],
        set(),
    ),
    # E. late update loses to an earlier-arriving but later-seq delete
    "E_late_update_after_delete": (
        [ev(3, "D", "r1", "p1", None), ev(2, "U", "r1", "p1", "c2")],
        set(),
    ),
    # F. re-insert after delete (seq after tombstone) resurrects the key
    "F_reinsert": (
        [ev(1, "I", "r1", "p1", "c1"), ev(2, "D", "r1", "p1", None), ev(3, "I", "r1", "p1", "c3")],
        {("r1", "p1", "c3", 3)},
    ),
    # G. multiple keys independent
    "G_multi_key": (
        [ev(1, "I", "r1", "p1", "a"), ev(2, "I", "r1", "p2", "b"), ev(3, "U", "r2", "p1", "c")],
        {("r1", "p1", "a", 1), ("r1", "p2", "b", 2), ("r2", "p1", "c", 3)},
    ),
    # H. duplicate delivery (same event_id) applied once
    "H_duplicate": (
        [ev(1, "I", "r1", "p1", "c1"), ev(1, "I", "r1", "p1", "c1"), ev(2, "U", "r1", "p1", "c2")],
        {("r1", "p1", "c2", 2)},
    ),
    # I. delete of a never-seen key is a retained tombstone, not an error
    "I_delete_unknown": ([ev(5, "D", "rX", "pX", None)], set()),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_lww_cases(spark, name):
    rows, expected = CASES[name]
    df = dedup_events(mk(spark, rows))
    got = final_live(last_writer_wins(df, ["repo", "path"]))
    assert got == expected, name


def test_plain_window_equivalent(spark):
    rows = [ev(s, "U" if s % 7 else "D", f"r{s % 3}", f"p{s % 5}", f"c{s}") for s in range(200)]
    df = mk(spark, rows)
    agg = last_writer_wins(df, ["repo", "path"])
    win = last_writer_wins_window(df, ["repo", "path"])
    a = {tuple(r) for r in agg.select(*COLS).collect()}
    w = {tuple(r) for r in win.select(*COLS).collect()}
    assert a == w


def test_batch_split_invariance(spark):
    """Final state is identical however the stream is split into batches
    (tombstone retention makes cross-batch ordering irrelevant)."""
    rows = [ev(s, "D" if s % 11 == 0 else "U", f"r{s % 4}", f"p{s % 6}", f"c{s}") for s in range(120)]
    full = last_writer_wins(mk(spark, rows), ["repo", "path"])
    expected = final_live(full)

    for split in (1, 3, 40):
        state = None
        for i in range(0, len(rows), max(len(rows) // split, 1)):
            batch = mk(spark, rows[i : i + max(len(rows) // split, 1)])
            winners = last_writer_wins(batch, ["repo", "path"])
            state = merge_state(state, winners, ["repo", "path"])
        assert final_live(state) == expected, f"split={split}"


def test_merge_state_schema_evolution(spark):
    """Later batches may carry extra columns; merge handles missing cols."""
    s1 = last_writer_wins(mk(spark, [ev(1, "I", "r1", "p1", "c1")]), ["repo", "path"])
    b2 = mk(spark, [ev(2, "U", "r1", "p2", "c2")]).withColumn("size_bytes", F.lit(10).cast("long"))
    s2 = merge_state(s1, last_writer_wins(b2, ["repo", "path"]), ["repo", "path"])
    rows = {(r["repo"], r["path"], r["size_bytes"]) for r in s2.collect()}
    assert rows == {("r1", "p1", None), ("r1", "p2", 10)}


def test_lww_128_seeded_shuffled_orderings_match_replay_oracle(spark):
    """SURVEY §7.3(c) at scale: 128 seeded random interleavings of
    insert/update/delete/redelivery per key — shuffled arrival, duplicate
    seq_nos (tiebreak exercised), byte-identical redeliveries — checked
    against a pure-Python replay oracle. All 128 universes ride ONE Spark
    job (the seed is part of the key), so the sweep costs seconds; a
    second pass folds random BATCH SPLITS through merge_state, both
    landing on the identical final state."""
    import random

    rows, expected = [], {}
    for seed in range(128):
        rng = random.Random(seed)
        n_keys = rng.randint(1, 5)
        events, eid = [], 0
        for _ in range(rng.randint(3, 30)):
            events.append((seed, f"k{rng.randrange(n_keys)}",
                           rng.randrange(50), f"e{seed}-{eid:03d}",
                           rng.choice(["U", "U", "U", "D"]),
                           round(rng.random(), 6)))
            eid += 1
        # at-least-once: redeliver byte-identical copies of a few events
        events.extend(rng.sample(events, k=min(5, len(events))))
        rng.shuffle(events)  # arrival order is unrelated to seq order
        rows.extend(events)
        per: dict = {}
        for (s, k, seq, e, op, v) in events:
            if k not in per or (seq, e) > (per[k][0], per[k][1]):
                per[k] = (seq, e, op, v)
        for k, w in per.items():
            expected[(seed, k)] = w
    schema = "seed long, key string, seq_no long, event_id string, op string, val double"
    df = spark.createDataFrame(rows, schema)

    def final(out):
        return {(r["seed"], r["key"]): (r["seq_no"], r["event_id"], r["op"], r["val"])
                for r in out.collect()}

    assert final(last_writer_wins(df, ["seed", "key"])) == expected
    # arbitrary batch splits: hash-bucket the events into 3 batches, LWW
    # each, fold through merge_state — batching must not change the result
    batched = df.withColumn("__b", F.pmod(F.xxhash64("event_id", "seq_no"), F.lit(3)))
    state = None
    for b in range(3):
        w = last_writer_wins(batched.filter(F.col("__b") == b).drop("__b"),
                             ["seed", "key"])
        state = merge_state(state, w, ["seed", "key"])
    assert final(state) == expected
