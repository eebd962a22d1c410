"""What the two CDC workloads share: seeded WAL inputs, the span wrappers
around the ingest layers, and the per-layer numbers of the apply path."""

from __future__ import annotations

import json
import shutil
from pathlib import Path
from urllib.parse import urlparse

from harness import CACHE, median
from tracing import EventLog, Tracer, stage_sum, union_length


def cached_wal(name: str, seed: int, **gen_args) -> Path:
    """A WAL from ``sources.gen.generate_wal``, generated once per
    (name, seed, arguments) and kept under the cache."""
    from omop_meds_spark.sources.gen import generate_wal

    tag = "-".join(f"{k}{v}" for k, v in sorted(gen_args.items()))
    out = CACHE / f"{name}-s{seed}-{tag}"
    if not (out / "_wal_manifest.json").exists():
        shutil.rmtree(out, ignore_errors=True)
        generate_wal(out, seed=seed, workers=4, **gen_args)
    out.touch()  # most recently used, for prune_cache
    return out


def cached_json(path: Path, compute):
    if path.exists():
        return json.loads(path.read_text())
    val = compute()
    path.write_text(json.dumps(val))
    return val


def batch_files(runner, batch_id: int) -> int:
    """Data files the delta commits of one batch wrote to both targets
    (each commit writes under ``data/b<batch_id>``)."""
    return sum(1 for t in (runner.table, runner.meds_table)
               for _ in (t.root / "data").glob(f"b{batch_id:06d}*/*/*.parquet"))


def compactions(runner) -> int:
    """Compactions fired on both targets (each writes ``data/compact*``)."""
    return sum(1 for t in (runner.table, runner.meds_table)
               for _ in (t.root / "data").glob("compact*"))


def manifest_bytes(runner) -> int:
    """Bytes of the state and MEDS tables' latest manifests."""
    return sum(max((t.root / "_log").glob("*.json")).stat().st_size
               for t in (runner.table, runner.meds_table))


# read-path and view layers, which only the tail exercises: name -> unit
READ_LAYERS = {
    "operators.incremental.refresh_s": "s",
    "table.lookup_s": "s",
    "table.changefeed_s": "s",
    "table.scan_s": "s",
    "table.key_bucket_s": "s",
    "table.lookup_files_scanned": "count",
    "table.lookup_spark_jobs": "count",
    "table.read_changes_s": "s",
    "table.changefeed_input_bytes": "B",
    "table.scan_input_bytes": "B",
    "table.scan_shuffle_bytes": "B",
    "operators.incremental.refresh_input_bytes": "B",
    "operators.incremental.refresh_spark_jobs": "count",
}


def input_files(args, df) -> dict:
    """Count and bytes of the parquet files a read's plan opens. Spark's
    own input-bytes counter misses parquet's vectored reads on local
    files, so the file sizes stand in for bytes read."""
    files = [] if df is None else df.inputFiles()
    return {"files": len(files),
            "bytes": sum(Path(urlparse(f).path).stat().st_size for f in files)}


def wrap_layers(tracer: Tracer) -> None:
    """Spans around the public entry points of each ingest and read layer."""
    from omop_meds_spark import runner
    from omop_meds_spark.operators.incremental import IncrementalAggView
    from omop_meds_spark.plans.align import SchemaRegistry
    from omop_meds_spark.sources.wal import WalReader
    from omop_meds_spark.table import SnapshotTable

    w = tracer.wrap
    w(runner.CDCRunner, "apply_batch", "runner.apply_batch",
      note=lambda a, out: {"files": batch_files(a[0], a[1].batch_id)})
    w(WalReader, "read_batch", "sources.wal.read_batch",
      note=lambda a, out: {"bytes": sum(Path(f).stat().st_size for f in a[2].files)})
    w(SchemaRegistry, "evolve", "plans.align.evolve")
    w(SchemaRegistry, "align", "plans.align.align")
    # the runner holds these by name, so they are wrapped where it looks
    w(runner, "last_writer_wins", "operators.upsert.last_writer_wins")
    w(runner, "normalize_events", "runner.normalize_events")
    w(runner, "change_winners_to_meds", "operators.meds.to_meds")
    w(runner, "merge_commit_target", "table.commit",
      note=lambda a, out: {"meds": a[1].root.name == "meds"})
    w(SnapshotTable, "compact", "table.compact")
    w(SnapshotTable, "key_bucket", "table.key_bucket")
    w(SnapshotTable, "read", "table.read", note=input_files)
    w(SnapshotTable, "read_changes", "table.read_changes", note=input_files)
    w(IncrementalAggView, "refresh", "operators.incremental.refresh")


def _per_batch(tracer, name, batches, kids, agg=sum):
    """Median over apply_batch spans of the summed durations of the
    ``name`` spans inside each."""
    vals = []
    for b in batches:
        ids = tracer.subtree_ids(b, kids)
        vals.append(agg([s["end"] - s["start"] for s in tracer.spans
                         if s["id"] in ids and s["name"] == name and s["end"]]
                        or [0.0]))
    return median(vals)


def apply_layers(tracer: Tracer, log: EventLog, n_events: int,
                 n_winners: int) -> dict[str, tuple[float, str]]:
    """Per-layer numbers of the apply path over the traced phase."""
    kids = tracer.children()
    batches = tracer.named("runner.apply_batch")
    mev = n_events / 1e6
    out: dict[str, tuple[float, str]] = {}

    apply_jobs, data_jobs, compact_jobs = [], [], []
    driver_only, n_jobs, n_tasks, files_added = [], [], [], []
    for b in batches:
        ids = tracer.subtree_ids(b, kids)
        jobs = log.jobs_of(ids)
        apply_jobs += jobs
        comp_ids = set()
        for s in tracer.spans:
            if s["id"] in ids and s["name"] == "table.compact":
                comp_ids |= tracer.subtree_ids(s, kids)
        compact_jobs += [j for j in jobs if j["span"] in comp_ids]
        data_jobs += [j for j in jobs if j["span"] not in comp_ids]
        covered = union_length([(max(j["submit"], b["start"]),
                                 min(j["end"] or b["end"], b["end"]))
                                for j in jobs])
        driver_only.append(b["end"] - b["start"] - covered)
        n_jobs.append(len(jobs))
        n_tasks.append(sum(st["tasks"] for j in jobs for st in j["stages"]))
        files_added.append(b["note"]["files"])

    def scan(st):  # the WAL scan stage, fused with the LWW map-side combine
        return st["file_scan"]

    def reduce(st):  # post-exchange: LWW reduce, normalize and write, fused
        return st["shuffle_read"] > 0

    out["sources.wal.read_batch_s"] = (_per_batch(tracer, "sources.wal.read_batch", batches, kids), "s")
    out["sources.wal.input_bytes_per_event"] = (
        sum(s["note"]["bytes"] for s in tracer.named("sources.wal.read_batch")) / n_events, "B")
    out["sources.wal.scan_task_s_per_mevent"] = (stage_sum(data_jobs, "run_ms", scan) / 1000 / mev, "s")
    evolve = _per_batch(tracer, "plans.align.evolve", batches, kids)
    align = _per_batch(tracer, "plans.align.align", batches, kids)
    out["plans.align.evolve_align_s"] = (evolve + align, "s")
    out["operators.upsert.lww_plan_s"] = (_per_batch(tracer, "operators.upsert.last_writer_wins", batches, kids), "s")
    out["operators.upsert.shuffle_bytes_per_event"] = (stage_sum(data_jobs, "shuffle_write", scan) / n_events, "B")
    out["operators.upsert.reduce_task_s_per_mevent"] = (stage_sum(data_jobs, "run_ms", reduce) / 1000 / mev, "s")
    out["operators.upsert.winners_per_event"] = (n_winners / n_events, "ratio")
    out["runner.normalize_events_s"] = (_per_batch(tracer, "runner.normalize_events", batches, kids), "s")
    out["runner.apply_batch_s"] = (median([b["end"] - b["start"] for b in batches]), "s")
    out["runner.driver_only_s_per_batch"] = (median(driver_only), "s")
    out["runner.spark_jobs_per_batch"] = (median(n_jobs), "count")
    out["runner.spark_tasks_per_batch"] = (median(n_tasks), "count")
    out["operators.meds.to_meds_s"] = (_per_batch(tracer, "operators.meds.to_meds", batches, kids), "s")
    commits = tracer.named("table.commit")
    out["table.commit_state_s"] = (median([s["end"] - s["start"] for s in commits
                                           if not s["note"]["meds"]]), "s")
    out["table.commit_meds_s"] = (median([s["end"] - s["start"] for s in commits
                                          if s["note"]["meds"]]), "s")
    out["table.data_bytes_written_per_event"] = (stage_sum(data_jobs, "out_bytes") / n_events, "B")
    out["table.files_added_per_batch"] = (median(files_added), "count")
    comp = tracer.named("table.compact")
    out["table.compact_s"] = (sum(s["end"] - s["start"] for s in comp), "s")
    out["table.compact_calls"] = (len(comp), "count")
    out["table.compact_bytes_rewritten_per_event"] = (stage_sum(compact_jobs, "out_bytes") / n_events, "B")
    out["spark.gc_s_per_mevent"] = (stage_sum(apply_jobs, "gc_ms") / 1000 / mev, "s")
    out["spark.spill_bytes"] = (stage_sum(apply_jobs, "spill"), "B")
    return out
