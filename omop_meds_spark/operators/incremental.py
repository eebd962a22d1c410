"""Incrementally-maintained materialized aggregate view over a CDC table.

The lakehouse pattern this implements: a ``SnapshotTable`` is the CDC
target (LWW upserts + delete tombstones); a downstream consumer wants
``SELECT dims, COUNT(*), SUM(m) ... GROUP BY dims`` over the LIVE state,
kept fresh without ever rescanning the table. ``IncrementalAggView``
folds the table's change feed into a second SnapshotTable keyed by the
group dimensions — Flink/Materialize-style incremental view maintenance,
expressed as plain DataFrame algebra over the engine's own primitives.

Per refresh of source range ``(v0, v1]`` the cost is O(changed data):

* ONE projected scan (key, order, op, dims, measures) of the change rows
  (``read_changes(v0, v1)``, the range's delta files) plus the raw v0
  generations of the buckets those files landed in (named by the
  manifests, no Spark job), and ONE keyed aggregate: per changed key the
  LWW winner of all rows is its v1 state (increment), that of the v0
  rows alone its v0 state (decrement). Diffing full before/after states
  (not the range's winner rows) keeps the fold correct under ANY
  sequencing: a key's final value is the LWW across all generations;
* the signed contributions aggregate to one tiny delta frame, which
  merges (full outer, null-safe on dims) into the view's current rows for
  the affected dim groups only — groups whose count reaches zero become
  delete tombstones;
* the view table's hot buckets compact at the ingest cadence
  (``COMPACT_EVERY`` generations), so a view read stays bounded however
  many refreshes ran.

The view commit is transactional and EXACTLY-ONCE: each fold commits with
``lineage={"source_version": v1}`` and the cursor is recovered from the
retained lineage, so a crashed/replayed refresh is a no-op. Vacuuming the
SOURCE past an unfolded version breaks incrementality (``read_changes``
raises); refresh before vacuum, exactly like any CDF consumer.

Measure semantics: ``n_rows`` is COUNT(*); each ``sum_cols`` entry ``c``
maintains ``sum_{c}`` in DECIMAL(28,4) (exact, order-free — incremental
folding must not depend on float addition order) plus ``cnt_{c}``
(non-null count) so ``read()`` can return SQL-exact NULL for all-null
groups.
"""

from __future__ import annotations

import functools
import json
import operator
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..table import SnapshotTable, bucket_expr


def _source_col_type(source: SnapshotTable, name: str) -> str:
    """The source table's recorded type for ``name`` (fallback: string).

    An empty fold on a FRESH view stamps the view schema — hardcoding key
    or dim columns as string would make ``key_bucket()``/``lookup()`` cast
    integer literals to string and hash into the wrong bucket until the
    first real fold overwrote the registry."""
    sch = (source.latest() or {}).get("schema")
    if sch:
        try:
            for f in T.StructType.fromJson(json.loads(sch)).fields:
                if f.name == name:
                    return f.dataType.simpleString()
        except (ValueError, KeyError, TypeError):
            pass
    return "string"


def _cursor(view_table: SnapshotTable) -> int:
    lin = view_table.lineage_log()
    return max((int(d["source_version"]) for d in lin.values()
                if isinstance(d, dict) and "source_version" in d), default=-1)


_DEC = "decimal(28,4)"


class IncrementalAggView:
    def __init__(self, root: str | Path, source: SnapshotTable,
                 dims: list[str], sum_cols: list[str] | None = None,
                 n_buckets: int | None = None):
        # n_buckets=None adopts an existing view table's stored bucket
        # layout (fresh views default to the SnapshotTable default) — a
        # re-opened view must never re-stamp the layout
        self.source = source
        self.dims = list(dims)
        self.sum_cols = list(sum_cols or [])
        self.table = SnapshotTable(root, key_cols=self.dims,
                                   n_buckets=n_buckets)

    # ------------------------------------------------------------- cursor
    @property
    def cursor(self) -> int:
        """Highest source version folded in (-1 = nothing yet), recovered
        from commit lineage — the latest fold's manifest always survives
        retention, so the cursor does."""
        return _cursor(self.table)

    # ------------------------------------------------------------ refresh
    def _signed(self, df: DataFrame, sign) -> DataFrame:
        cols = [F.col(d) for d in self.dims] + [F.lit(sign).alias("_w")]
        for c in self.sum_cols:
            cols.append(F.col(c).cast("decimal(18,4)").alias(c))
        return df.select(*cols)

    def _agg(self, signed: DataFrame) -> DataFrame:
        aggs = [F.sum("_w").cast("long").alias("n_rows")]
        for c in self.sum_cols:
            aggs.append(F.sum(F.col(c) * F.col("_w")).cast(_DEC)
                        .alias(f"sum_{c}"))
            aggs.append(F.sum(F.when(F.col(c).isNotNull(), F.col("_w"))
                              .otherwise(F.lit(0))).cast("long")
                        .alias(f"cnt_{c}"))
        return signed.groupBy(*self.dims).agg(*aggs)

    def _changed_contributions(self, ch: DataFrame,
                               old: DataFrame | None) -> DataFrame:
        """+1 per changed key's v1 winner, -1 per its v0 winner (tombstones
        count nothing), from ONE keyed aggregate over the change rows (tag
        1) and the touched buckets' raw v0 generations (tag 0)."""
        key = self.source.key_cols
        frames = [ch] if old is None else [ch, old]
        tb = ("event_id" if any("event_id" in d.columns for d in frames)
              else "seq_no")
        pay = list(dict.fromkeys(["op", *self.dims, *self.sum_cols]))
        need = list(dict.fromkeys([*key, "seq_no", tb, *pay]))
        # a column the rows predate (added after v0, or not yet) is null
        rows = functools.reduce(DataFrame.unionByName, [
            d.select(*[F.col(c) if c in d.columns else F.lit(None).alias(c)
                       for c in need], F.lit(t).alias("_t"))
            for t, d in zip((1, 0), frames)])
        payload, order = F.struct(*pay), F.struct("seq_no", tb)
        was = F.col("_t") == 0
        win = rows.groupBy(*key).agg(
            F.max("_t").alias("_t"), F.max_by(payload, order).alias("_n"),
            F.max_by(F.when(was, payload), F.when(was, order)).alias("_o"))
        c = F.explode(F.array(*[F.struct(F.lit(w).alias("_w"), F.col(s).alias("r"))
                                for w, s in ((1, "_n"), (-1, "_o"))]))
        return self._signed(win.filter("_t = 1").select(c.alias("c"))
                            .filter(F.col("c.r.op") != "D")
                            .select("c._w", "c.r.*"), F.col("_w"))

    def refresh(self, spark: SparkSession, to_version: int | None = None) -> bool:
        """Fold source versions ``(cursor, to_version]`` into the view.
        Returns False when there is nothing new. Idempotent: re-running
        with the same range is a no-op (cursor check + transactional
        commit).

        Initial materialization over a table whose early history was
        vacuumed BOOTSTRAPS from the live state instead of the change feed
        (an initial load needs no history). A vacuumed hole PAST the
        cursor, however, is unrecoverable incrementally and raises —
        refresh before vacuuming the source beyond the cursor, exactly
        like any change-feed consumer."""
        src = self.source
        head = src.version
        v1 = head if to_version is None else to_version
        if v1 > head:
            raise ValueError(f"refresh: to_version {v1} is beyond source head {head}")
        v0 = self.cursor
        if v1 <= v0:
            return False
        batch_id = max(self.table.committed_batches(), default=-1) + 1
        lineage = {"source_version": v1, "since_version": v0}

        signed = None  # stays None on a compaction-only range: cursor only
        try:
            ch = src.read_changes(spark, since_version=v0, to_version=v1)
        except ValueError:
            if v0 >= 0:
                raise  # incremental hole: the feed between folds was vacuumed
            ch, new = None, src.read_live(spark, version=v1)  # bootstrap
            signed = None if new is None else self._signed(new, 1)
        if ch is not None:
            old = (src.read(spark, buckets=src.changed_buckets(v0, v1),
                            version=v0) if v0 >= 0 else None)
            if old is None and v0 >= 0 and src.manifest_at(v0) is None:
                # the cursor version itself was vacuumed: the feed after
                # it survives but the old-state decrement is gone — adding
                # only the new contributions would double count for good
                raise ValueError(
                    f"incremental refresh: cursor version {v0} was vacuumed "
                    "from the source — the view cannot subtract the prior "
                    "state; rebuild the view or vacuum after refreshing")
            signed = self._changed_contributions(ch, old)
        if signed is None:
            # carry the recorded schema forward: an empty fold must not
            # re-stamp the view's key column types (point lookups hash by
            # the stored schema — see table.key_bucket)
            self.table.commit_delta_auto(
                self._empty_commit_frame(spark), batch_id, lineage=lineage,
                schema_json=(self.table.latest() or {}).get("schema"))
            return True
        # delta drives the bucket-id collect AND the merge write — persist
        # so its O(changed-bucket state) upstream computes once
        delta = self._agg(signed).persist()
        try:
            # merge into the view's current rows for the affected dims only:
            # manifest-pruned read of the delta's buckets, null-safe semi
            # join down to the changed dim groups, then a full outer with
            # the delta (renamed columns — no alias ambiguity, nulls are
            # real groups)
            vbs = sorted(
                r["b"] for r in delta.select(
                    bucket_expr(self.dims, self.table.n_buckets).alias("b"))
                .distinct().collect())
            cur = self.table.read_live(spark, buckets=vbs)
            mtypes = self._measure_types()
            if cur is not None:
                cur_r = cur.select(
                    *[F.col(k).alias(f"_c_{k}") for k in self.dims],
                    *[F.col(n).alias(f"_c_{n}") for n, _ in mtypes])
                dimkeys = delta.select(
                    *[F.col(k).alias(f"_k_{k}") for k in self.dims]).distinct()
                semi = functools.reduce(operator.and_, [
                    F.col(f"_c_{k}").eqNullSafe(F.col(f"_k_{k}"))
                    for k in self.dims])
                cur_r = cur_r.join(dimkeys, semi, "left_semi")
                outer = functools.reduce(operator.and_, [
                    F.col(k).eqNullSafe(F.col(f"_c_{k}")) for k in self.dims])
                j = delta.join(cur_r, outer, "full_outer")
                out_dims = [F.coalesce(F.col(k), F.col(f"_c_{k}")).alias(k)
                            for k in self.dims]
                measures = [
                    (F.coalesce(F.col(n), F.lit(0).cast(t))
                     + F.coalesce(F.col(f"_c_{n}"), F.lit(0).cast(t)))
                    .cast(t).alias(n)
                    for n, t in mtypes]
            else:
                j = delta
                out_dims = [F.col(k) for k in self.dims]
                measures = [F.coalesce(F.col(n), F.lit(0).cast(t))
                            .cast(t).alias(n) for n, t in mtypes]
            merged = j.select(*out_dims, *measures).withColumn(
                "op",
                F.when(F.col("n_rows") == 0, F.lit("D")).otherwise(F.lit("U"))
            ).withColumn("seq_no", F.lit(v1).cast("long"))
            self.table.commit_delta_auto(merged, batch_id, lineage=lineage)
        finally:
            delta.unpersist()
        self.table.compact_hot(spark)
        return True

    def _measure_types(self) -> list[tuple[str, str]]:
        out = [("n_rows", "long")]
        for c in self.sum_cols:
            out.append((f"sum_{c}", _DEC))
            out.append((f"cnt_{c}", "long"))
        return out

    def _empty_commit_frame(self, spark: SparkSession) -> DataFrame:
        fields = ", ".join(
            [f"`{d}` {_source_col_type(self.source, d)}" for d in self.dims]
            + [f"`{n}` {t}" for n, t in self._measure_types()]
            + ["op string", "seq_no long"])
        return spark.createDataFrame([], fields)

    # --------------------------------------------------------------- read
    def read(self, spark: SparkSession) -> DataFrame | None:
        """The view as a user-facing frame: dims, ``n_rows``, and for each
        measure ``sum_{c}`` (NULL when the group holds no non-null values,
        matching SQL SUM)."""
        df = self.table.read_live(spark)
        if df is None:
            return None
        cols = [F.col(d) for d in self.dims] + [F.col("n_rows")]
        for c in self.sum_cols:
            cols.append(F.when(F.col(f"cnt_{c}") > 0, F.col(f"sum_{c}"))
                        .alias(f"sum_{c}"))
        return df.select(*cols)


class SCD2View:
    """Incrementally-maintained TYPE-2 HISTORY view over a CDC table.

    Where ``IncrementalAggView`` folds the change feed into a GROUP BY,
    ``SCD2View`` folds it into a queryable dimension HISTORY — the
    warehouse pattern of materializing slowly-changing-dimension rows
    from a CDF stream (what a `MERGE`-based SCD2 job does on Delta),
    maintained at O(changed keys) per refresh.

    Storage: ONE ROW PER KEY in the view's own SnapshotTable — the key's
    per-commit version LOG as a seq-sorted ``array<struct>`` column.
    Whole-row LWW replacement makes the refresh a plain upsert; bucket
    pruning works naturally because the view is keyed exactly by the
    source key. Intervals are computed ON READ (``read_intervals`` — one
    window pass via ``scd2_history``), so late/out-of-order commits need
    no interval surgery: the affected key's log is re-sorted on merge
    (``array_sort`` by (seq, tiebreak)) and the intervals simply fall out
    — ANY refresh cadence converges to the identical view (tested).

    Grain: per COMMIT. The feed carries each commit's LWW winners, so
    intra-batch churn is already collapsed — the lakehouse CDF grain.
    Contract: one key's history must fit in a row (per-commit grain keeps
    it to #commits-that-touched-the-key entries; compact upstream or
    archive downstream if a key churns every commit for years).

    Exactly-once: each fold commits with ``lineage={"source_version"}``;
    the cursor is recovered from retained lineage, so crashed or replayed
    refreshes are no-ops (same contract as IncrementalAggView, including
    the bootstrap-from-live-state path over a vacuumed source — bootstrap
    seeds each key's log with its CURRENT version only, history before
    the vacuum horizon being unrecoverable by definition).
    """

    _META = {"_commit_version", "_commit_batch_id"}

    def __init__(self, root: str | Path, source: SnapshotTable,
                 n_buckets: int | None = None, op_col: str = "op"):
        self.source = source
        self.op_col = op_col
        self.table = SnapshotTable(root, key_cols=list(source.key_cols),
                                   n_buckets=n_buckets)

    @property
    def cursor(self) -> int:
        return _cursor(self.table)

    def _version_struct(self, df: DataFrame) -> F.Column:
        src = self.source
        seq = "seq_no"
        tb = "event_id" if "event_id" in df.columns else seq
        skip = set(src.key_cols) | {seq, tb, self.op_col} | self._META
        skip.add("__bucket")
        pay = [c for c in df.columns if c not in skip]
        # tb is stored as a STRING field (one stable struct schema across
        # refreshes), but the encoding must preserve the source's NATIVE
        # sort order or the history's same-seq tiebreak diverges from the
        # table's LWW winner: integral ids zero-pad to 20 digits so
        # '10' doesn't sort below '9' (negative ids unsupported there,
        # as in the WAL format itself)
        tb_col = F.col(tb).cast("string")
        if isinstance(df.schema[tb].dataType,
                      (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            tb_col = F.lpad(tb_col, 20, "0")
        return F.struct(
            F.col(seq).alias("seq"),
            tb_col.alias("tb"),
            F.col(self.op_col).alias("op"),
            *[F.col(c) for c in pay])

    def refresh(self, spark: SparkSession, to_version: int | None = None) -> bool:
        """Fold source versions ``(cursor, to_version]``. Returns False
        when there is nothing new."""
        src = self.source
        head = src.version
        v1 = head if to_version is None else to_version
        if v1 > head:
            raise ValueError(f"refresh: to_version {v1} is beyond source head {head}")
        v0 = self.cursor
        if v1 <= v0:
            return False
        batch_id = max(self.table.committed_batches(), default=-1) + 1
        lineage = {"source_version": v1, "since_version": v0}
        try:
            ch = src.read_changes(spark, since_version=v0, to_version=v1)
        except ValueError:
            if v0 >= 0:
                raise  # incremental hole: the feed between folds was vacuumed
            ch = src.read_live(spark, version=v1)  # bootstrap: current-only log
        key = list(src.key_cols)
        if ch is None:  # compaction-only range: just advance the cursor
            self.table.commit_delta_auto(
                self._empty_frame(spark), batch_id, lineage=lineage,
                schema_json=(self.table.latest() or {}).get("schema"))
            return True
        new_logs = (ch.groupBy(*key)
                      .agg(F.collect_list(self._version_struct(ch)).alias("_new")))
        # merge with the affected keys' EXISTING logs: manifest-pruned read
        # of just those view buckets, left join (unaffected keys untouched)
        vbs = sorted(r["b"] for r in new_logs.select(
            bucket_expr(key, self.table.n_buckets).alias("b"))
            .distinct().collect())
        cur = self.table.read_live(spark, buckets=vbs)
        new_t = new_logs.schema["_new"].dataType
        if cur is not None:
            j = new_logs.join(
                cur.select(*key, F.col("history").alias("_old")), key, "left")
            old_t = j.schema["_old"].dataType
        else:
            j = new_logs.withColumn("_old", F.lit(None).cast(new_t))
            old_t = new_t
        # SCHEMA EVOLUTION across refreshes: the source payload may have
        # gained/lost/widened columns since the stored logs were written,
        # and array concat needs one element type — align both sides to
        # the UNION of fields (new refresh's types win on conflict, old-
        # only fields ride along as nulls in new entries and vice versa)
        union_fields = list(new_t.elementType.fields)
        new_names = {f.name for f in union_fields}
        union_fields += [f for f in old_t.elementType.fields
                         if f.name not in new_names]

        def _aligned(col, have):
            names = {f.name for f in have.elementType.fields}
            return F.transform(col, lambda x: F.struct(*[
                (x[f.name].cast(f.dataType) if f.name in names
                 else F.lit(None).cast(f.dataType)).alias(f.name)
                for f in union_fields]))

        union_arr_t = T.ArrayType(T.StructType(union_fields))
        # sorted dedup merge: array_sort orders by (seq, tb, ...) — struct
        # field order IS the sort key; array_distinct folds redeliveries
        # (byte-identical winners). Late rows land in seq position.
        hist = F.array_sort(F.array_distinct(F.concat(
            F.coalesce(_aligned(F.col("_old"), old_t),
                       F.array().cast(union_arr_t)),
            _aligned(F.col("_new"), new_t))))
        out = j.select(
            *key,
            hist.alias("history"),
            # LWW order for the view row: the fold's source version — a
            # late-data merge changes the log without raising its max seq,
            # so max-seq would tie and break winner determinism
            F.lit(v1).cast("long").alias("seq_no"),
            F.lit("U").alias(self.op_col),
        )
        self.table.commit_delta_auto(out, batch_id, lineage=lineage)
        self.table.compact_hot(spark)
        return True

    def _empty_frame(self, spark: SparkSession) -> DataFrame:
        key_fields = ", ".join(
            f"{k} {_source_col_type(self.source, k)}"
            for k in self.source.key_cols)
        return spark.createDataFrame(
            [], f"{key_fields}, history array<struct<seq long, tb string, "
                f"op string>>, seq_no long, {self.op_col} string")

    # ----------------------------------------------------------- readers
    def read_log(self, spark: SparkSession) -> DataFrame | None:
        """The per-key version log, one row per (key, version): columns
        (key..., seq, tb, op, payload...)."""
        df = self.table.read_live(spark)
        if df is None:
            return None
        return df.select(*self.source.key_cols,
                         F.explode("history").alias("_v")).select(
            *self.source.key_cols, "_v.*")

    def read_intervals(self, spark: SparkSession) -> DataFrame | None:
        """SCD2 validity intervals ([valid_from, valid_to) on seq,
        is_current) — one window pass over the exploded logs."""
        from .temporal import scd2_history

        log = self.read_log(spark)
        if log is None:
            return None
        return scd2_history(log, list(self.source.key_cols), seq_col="seq",
                            tiebreak_col="tb", op_col="op")

    def read_asof(self, spark: SparkSession, seq: int) -> DataFrame | None:
        """Dimension state AS OF sequence position ``seq``: each key's
        version whose [valid_from, valid_to) interval contains ``seq``
        (keys deleted at that point have no covering interval and are
        absent) — the point-in-time read SCD2 exists to answer, without
        replaying the source. Same single window exchange as
        read_intervals, then a codegen filter."""
        iv = self.read_intervals(spark)
        if iv is None:
            return None
        return iv.filter(
            (F.col("valid_from") <= F.lit(seq))
            & (F.col("valid_to").isNull() | (F.col("valid_to") > F.lit(seq))))
