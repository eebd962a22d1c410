"""Structured Streaming CDC ingest: WAL tail → foreachBatch → snapshot table.

The streaming driver of :class:`omop_meds_spark.runner.CDCRunner`. The WAL
is consumed as a genuine Structured Streaming query; each micro-batch is
applied by the inherited ``CDCRunner.apply_batch``, so batch and streaming
ingest run one kernel.

Design — the *pointer-file* pattern (manifest-driven file stream):

Spark's parquet file-source requires a fixed schema at stream start, but a
CDC WAL's schema drifts mid-stream (added / renamed columns — the whole
point of the schema-evolution requirement). So instead of streaming the
parquet rows, we stream tiny *pointer files* (one text file naming one WAL
parquet file). ``readStream.format("text")`` + ``maxFilesPerTrigger`` gives
bounded micro-batches of pointers; ``foreachBatch`` collects the ≤ K paths
(driver-side, a few strings — never data), reads those parquet files with
their own footer schemas, evolves the SchemaRegistry, aligns, and applies.
This is how production lakehouse ingest handles schema drift (queue of file
names → batch read), and it keeps arbitrary evolution fully online — no
stream restarts needed.

Exactly-once: Spark's streaming checkpoint makes ``foreachBatch`` run
at-least-once with a stable ``batch_id``; the SnapshotTable commit log
refuses re-application of a committed ``batch_id``. After a TOTAL
checkpoint loss, batch ids restart at 0 — that replay is a safe no-op only
if each renumbered batch carries the same file set as the committed batch
with that id (true when the WAL and ``files_per_batch`` are unchanged,
since pointer order is deterministic). The commit log therefore records
each batch's file list, and a committed ``batch_id`` arriving with a
DIFFERENT file set fails loudly instead of being silently skipped — the
silent-skip would permanently drop the never-applied files (e.g. the WAL
grew between loss and restart, or ``files_per_batch`` changed). Recovery
from that state is explicit: a fresh checkpoint dir plus either the
original batching config or a fresh table.

Ordering: micro-batch boundaries and file order NEVER affect the final
state — last-writer-wins is decided by ``seq_no`` (the WAL's total order)
and tombstones are retained in state, so any interleaving converges to the
identical table (property-tested in tests/test_streaming.py).

Reference mapping: this recasts the reference's batched main loop +
``.done``-marker resume (src/OMOP_MEDS/pre_meds.py:290-416, 74-79) as a
resumable streaming query; `Trigger.AvailableNow` bounds a run the way the
reference's one-shot CLI bounds a pipeline invocation.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame

from ..runner import CDCRunner
from ..sources.wal import WalBatch


class StreamingCDCRunner(CDCRunner):
    """Consume a WAL directory as a Structured Streaming query. Takes the
    ``CDCRunner`` constructor; only the streaming driver lives here."""

    # ------------------------------------------------------------- pointers
    @property
    def pointers_dir(self) -> Path:
        return self.table.root / "_stream_pointers"

    # fixed epoch base for pointer mtimes (any constant in the past works;
    # only the ORDER matters to the file source)
    _PTR_EPOCH = 1_600_000_000

    def publish_pointers(self) -> int:
        """One tiny text file per WAL parquet file (idempotent). In a live
        deployment the WAL writer publishes these as it seals segments; here
        we derive them from the directory listing (sorted — deterministic
        replay order, like the reference's sorted shard lists).

        Spark's file stream source orders files by MODIFICATION TIME, not
        name — pointer files written in the same millisecond would make
        micro-batch composition nondeterministic across replays, silently
        breaking the batch_id-keyed exactly-once log after checkpoint loss.
        Each pointer therefore gets a pinned, strictly-increasing mtime
        (epoch base + index): discovery order == lexicographic order on
        every run, on every machine."""
        self.pointers_dir.mkdir(parents=True, exist_ok=True)
        import os

        n = 0
        for i, p in enumerate(self.reader.list_files()):
            ptr = self.pointers_dir / f"{i:06d}.txt"
            if not ptr.exists():
                tmp = ptr.with_suffix(".tmp")
                tmp.write_text(str(p.resolve()))
                tmp.rename(ptr)
            t = self._PTR_EPOCH + i
            os.utime(ptr, (t, t))
            n += 1
        return n

    # ----------------------------------------------------------- batch body
    def _guard_fileset(self, batch_id: int, paths: list[str]) -> None:
        """A committed batch_id must carry the file set it committed with.
        Replay after checkpoint loss renumbers micro-batches from 0; if the
        WAL grew or files_per_batch changed, a renumbered batch can collide
        with a committed id while holding never-applied files — skipping it
        would be silent data loss, so mismatches raise."""
        incoming = sorted(str(Path(p).resolve()) for p in paths)
        for tbl in (self.table, self.meds_table):
            if not tbl.is_committed(batch_id):
                continue
            recorded = (tbl.batch_lineage(batch_id) or {}).get("files")
            if recorded is not None and sorted(recorded) != incoming:
                raise RuntimeError(
                    f"batch_id {batch_id} already committed with a different "
                    f"fileset (recorded {len(recorded)} files, incoming "
                    f"{len(incoming)}) — streaming checkpoint was lost while "
                    "the WAL or files_per_batch changed; refusing the silent "
                    "skip. Restart with the original batching config, or "
                    "re-ingest into a fresh table."
                )

    def _apply_files(self, paths: list[str], batch_id: int) -> None:
        if not paths:
            return
        self._guard_fileset(batch_id, paths)
        self.apply_batch(WalBatch(batch_id=batch_id, files=tuple(sorted(paths))))

    def _foreach_batch(self, pointer_df: DataFrame, batch_id: int) -> None:
        # pointer rows are file paths — a handful of strings, driver-safe
        paths = [r["value"] for r in pointer_df.collect()]
        self._apply_files(paths, int(batch_id))

    # ---------------------------------------------------------------- drive
    def run_available(self, timeout_s: float = 600.0) -> list[dict]:
        """Process everything currently in the WAL, then stop
        (Trigger.AvailableNow — the streaming analogue of one CLI run).
        Restartable: streaming offsets live in the checkpoint dir, table
        idempotence in the snapshot log."""
        self.publish_pointers()
        ckpt = str(self.table.root / "_stream_checkpoint")
        stream = (
            self.spark.readStream.format("text")
            .option("maxFilesPerTrigger", self.reader.files_per_batch)
            .load(str(self.pointers_dir))
        )
        q = (
            stream.writeStream.foreachBatch(self._foreach_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(timeout_s)
        if q.isActive:
            q.stop()
        return self.metrics
