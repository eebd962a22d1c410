"""MERGE / last-writer-wins upsert kernel.

The reference's deterministic dedup — ``sort(by=...).group_by(key).first()``
(reference: src/OMOP_MEDS/pre_meds_utils.py:299-303) — is the batch analogue
of a CDC upsert: one surviving row per key, chosen by a total order. Spark's
``groupBy().agg(first())`` is NOT order-deterministic, so the kernel uses
``max_by`` over a (seq_no, event_id) struct ordering:

* ``max_by`` is a true aggregate with a partial (map-side) combine: each
  map task emits at most one row per key, so at 100 TB the one key
  exchange carries pre-combined partials, not every event — cheaper than
  ``row_number() OVER`` (which shuffles every row). It is NOT sort-free:
  the struct-valued ``max_by`` buffer is not fixed-width, so Spark cannot
  hash-aggregate it and plans ``SortAggregate`` — every raw row, payload
  included, is sorted by key before the partial aggregate, and the
  partials again after the exchange.
* Skew: for an *algebraic* aggregate like max_by, map-side combine already
  neutralizes hot keys — every map task emits at most ONE row per key, so
  the reducer of the hottest (repo, path) receives ≤ #map-partitions rows
  regardless of how many events the key had. An explicit two-phase salted
  reduction (pre-reduce per (key, salt), then per key) lost to it on every
  measurement: 12.6s@4c → 43.8s@32c vs 5.1s/7.9s on 3M events, and
  2.93 s vs 1.97 s (median of 5 pairs) on a 1.2M-event WAL with 90% of
  events on one hot repo at local[4], because its first phase re-shuffles
  every raw row by (key, salt) before any reduction. Join-side skew has
  ``operators.joins.salted_join`` and AQE skew-join.

Delete handling: tombstones are *kept in state* (op='D' rows retain their
seq_no). This makes the final state independent of how events are split
into batches — an update with seq 10 arriving after a delete with seq 20
loses to the tombstone regardless of batch boundaries. ``read_live``
filters tombstones at query time; state size stays bounded by key count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def dedup_events(df: DataFrame, event_id_col: str = "event_id") -> DataFrame:
    """Drop redelivered events (exactly-once ingest is dedup on event_id).

    At-least-once CDC redelivery re-sends the identical payload, so any
    surviving copy is correct; ``dropDuplicates`` avoids a sort entirely.
    """
    return df.dropDuplicates([event_id_col])


def dedup_events_canonical(
    df: DataFrame, key_cols: tuple[str, ...] = ("seq_no", "event_id")
) -> DataFrame:
    """Deterministic single-copy reduction for sources whose redelivered
    copies may NOT be byte-identical — e.g. copies of one event straddling
    a schema-registry widening align to different payloads (null vs
    populated new column), which would make a downstream ``max_by`` between
    equal (seq_no, event_id) orders pick nondeterministically.

    Per (seq_no, event_id), keeps the MOST-POPULATED copy (fewest nulls),
    tie-broken by the canonical JSON of the payload — a total order, so the
    survivor is independent of partitioning and batch composition. One
    extra keyed shuffle with map-side combine; opt-in via
    ``CDCRunner(dedup=True)`` (see the runner's source contract)."""
    data_cols = [c for c in df.columns if c not in key_cols]
    score = None
    for c in data_cols:
        s = F.col(c).isNotNull().cast("int")
        score = s if score is None else score + s
    order = F.struct(
        (score if score is not None else F.lit(0)).alias("populated"),
        F.to_json(F.struct(*[F.col(c) for c in data_cols])).alias("canon"),
    )
    payload = F.struct(*[F.col(c) for c in df.columns])
    return (
        df.groupBy(*[F.col(c) for c in key_cols])
        .agg(F.max_by(payload, order).alias("__row"))
        .select("__row.*")
    )


def last_writer_wins(
    df: DataFrame,
    key_cols: list[str],
    seq_col: str = "seq_no",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """One row per key: the event with the greatest (seq_no, tiebreak).

    Returns the full payload of the winning event (all non-key columns),
    keys included. Aggregation-based (max_by) with map-side combine (the
    skew story — see module docstring).
    """
    payload = F.struct(*[F.col(c) for c in df.columns if c not in key_cols])
    order = F.struct(F.col(seq_col), F.col(tiebreak_col))
    final = df.groupBy(*key_cols).agg(F.max_by(payload, order).alias("w"))
    return final.select(*key_cols, "w.*")


def last_writer_wins_window(
    df: DataFrame,
    key_cols: list[str],
    seq_col: str = "seq_no",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Window-based reference implementation (row_number desc == 1).

    Used in tests to cross-check the aggregation kernel; the agg variant is
    the production path (cheaper shuffle, map-side combine).
    """
    from pyspark.sql import Window as W

    w = W.partitionBy(*key_cols).orderBy(F.col(seq_col).desc(), F.col(tiebreak_col).desc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def merge_state(
    state: DataFrame | None,
    winners: DataFrame,
    key_cols: list[str],
    seq_col: str = "seq_no",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """MERGE batch winners into existing state (both sides already one row
    per key) — union + LWW. Tombstones participate and survive."""
    if state is None:
        return winners
    unioned = state.unionByName(winners, allowMissingColumns=True)
    return last_writer_wins(unioned, key_cols, seq_col, tiebreak_col)
