"""CLI entry point — runs under ``spark-submit --py-files`` or plain python.

Usage (cluster):

    zip -r omop_meds_spark.zip omop_meds_spark
    spark-submit --py-files omop_meds_spark.zip -m omop_meds_spark ...  # or:
    spark-submit --py-files omop_meds_spark.zip cli.py replay --wal ... --table ...

Usage (local):

    python -m omop_meds_spark gen    --wal /tmp/wal --events 100000
    python -m omop_meds_spark replay --wal /tmp/wal --table /tmp/tbl [--cores 32]
    python -m omop_meds_spark stream --wal /tmp/wal --table /tmp/tbl
    python -m omop_meds_spark status --table /tmp/tbl

``replay`` resumes from the snapshot log (committed batches are no-ops), so
re-running after a crash continues mid-stream — the resumability contract.
When submitted to a real cluster, omit ``--cores`` and let the session come
from the cluster config (the builder only sets ``master`` when ``--cores``
is given).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _session(cores: int | None):
    from .session import get_spark

    if cores is None:
        # cluster mode: respect spark-submit's master/conf entirely
        from pyspark.sql import SparkSession

        return SparkSession.builder.getOrCreate()
    return get_spark(app_name="omop-meds-cdc", cores=cores, shuffle_partitions=cores)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="omop_meds_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("gen", help="generate a deterministic synthetic WAL")
    g.add_argument("--wal", required=True)
    g.add_argument("--events", type=int, default=100_000)
    g.add_argument("--repos", type=int, default=50)
    g.add_argument("--files", type=int, default=20)
    g.add_argument("--seed", type=int, default=42)

    for name in ("replay", "stream"):
        r = sub.add_parser(name, help=f"{name} the WAL into the snapshot table")
        r.add_argument("--wal", required=True)
        r.add_argument("--table", required=True)
        r.add_argument("--cores", type=int, default=None)
        r.add_argument("--buckets", type=int, default=32)
        r.add_argument("--files-per-batch", type=int, default=4)
        if name == "replay":
            r.add_argument("--dlq", action="store_true",
                           help="quarantine structurally invalid events "
                                "(null key/seq, unknown op) under "
                                "{table}/dlq instead of applying them")
            r.add_argument("--constraint", action="append", default=[],
                           help="SQL predicate every event must satisfy "
                                "(repeatable); violators quarantine to the "
                                "DLQ with a recorded reason")
            r.add_argument("--concurrent", action="store_true",
                           help="optimistic multi-writer mode: this replay "
                                "may run alongside other --concurrent "
                                "replays applying disjoint batches of the "
                                "same WAL to the same table")

    s = sub.add_parser("status", help="print snapshot-table status (no Spark)")
    s.add_argument("--table", required=True)

    c = sub.add_parser("compact", help="fold hot buckets' delta generations")
    c.add_argument("--table", required=True)
    c.add_argument("--cores", type=int, default=None)
    c.add_argument("--threshold", type=int, default=2,
                   help="compact buckets with >= this many generations")

    v = sub.add_parser("vacuum", help="drop data/manifests outside the retention window")
    v.add_argument("--table", required=True)
    v.add_argument("--keep-versions", type=int, default=2)
    v.add_argument("--min-age-s", type=float, default=0.0,
                   help="never sweep unreferenced files younger than this "
                        "(use > max stage-to-publish time when lease-less "
                        "--concurrent writers may be mid-commit)")

    fl = sub.add_parser("files", help="list the snapshot's live data files "
                                      "with footer stats (no Spark)")
    fl.add_argument("--table", required=True)
    fl.add_argument("--version", type=int, default=None)
    fl.add_argument("--ref", default=None, help="tag name (alternative to --version)")
    fl.add_argument("--summary", action="store_true",
                    help="per-bucket rollup (files, generations, rows, "
                         "bytes) instead of one line per file")

    fk = sub.add_parser("fsck", help="scan for orphan data files / torn "
                                     "manifests from crashed writes (no Spark)")
    fk.add_argument("--table", required=True)
    fk.add_argument("--remove", action="store_true",
                    help="unlink the orphans (writer-lease-guarded); "
                         "default is report-only")

    dq = sub.add_parser("dlq", help="inspect the dead-letter queue")
    dq.add_argument("--table", required=True)
    dq.add_argument("--cores", type=int, default=None)

    tg = sub.add_parser("tag", help="pin a named snapshot ref that survives "
                                    "vacuum (no Spark)")
    tg.add_argument("--table", required=True)
    tg.add_argument("--name", required=True)
    tg.add_argument("--version", type=int, default=None,
                    help="version to pin (default: current)")
    tg.add_argument("--drop", action="store_true",
                    help="drop the tag instead of creating it")

    wp = sub.add_parser("staged", help="write-audit-publish: list, publish, "
                                       "or drop pending staged batches (no Spark)")
    wp.add_argument("--table", required=True)
    wp.add_argument("--publish", default=None, metavar="NAME",
                    help="atomically publish this stage into the snapshot log")
    wp.add_argument("--drop", default=None, metavar="NAME",
                    help="discard this stage and unlink its data files")
    wp.add_argument("--force", action="store_true",
                    help="publish even if the table advanced past the "
                         "stage's base version (skip the fast-forward guard)")

    rs = sub.add_parser("restore", help="revert live content to a snapshot "
                                        "as a FORWARD diff commit")
    rs.add_argument("--table", required=True)
    rs.add_argument("--version", type=int, default=None)
    rs.add_argument("--ref", default=None, help="tag name (alternative to --version)")
    rs.add_argument("--cores", type=int, default=None)

    dl = sub.add_parser("delete", help="row-level soft DELETE: tombstone "
                                       "live rows matching a SQL predicate "
                                       "(change-feed visible, time travel "
                                       "keeps history)")
    dl.add_argument("--table", required=True)
    dl.add_argument("--where", required=True,
                    help="SQL boolean expression over the live columns")
    dl.add_argument("--cores", type=int, default=None)

    pg = sub.add_parser("purge", help="GDPR hard erase: physically rewrite "
                                      "affected buckets without the matched "
                                      "keys (run delete first to announce; "
                                      "follow with --vacuum to unlink "
                                      "pre-purge files)")
    pg.add_argument("--table", required=True)
    pg.add_argument("--where", required=True,
                    help="SQL boolean expression over the live columns")
    pg.add_argument("--vacuum", action="store_true",
                    help="after the rewrite, vacuum(keep_versions=1) so no "
                         "retained snapshot or on-disk file still holds the "
                         "purged rows")
    pg.add_argument("--cores", type=int, default=None)

    rb = sub.add_parser(
        "rebucket", help="transactionally change the table's bucket count "
                         "(one full LWW rewrite; layout flips at the commit)")
    rb.add_argument("--table", required=True)
    rb.add_argument("--buckets", type=int, required=True,
                    help="new bucket count (e.g. grow 32 -> 1024 as the table grows)")
    rb.add_argument("--cores", type=int, default=None)

    mv = sub.add_parser(
        "view", help="create/refresh an incremental materialized view over "
                     "the table's change feed (aggregate, or --scd2 history)")
    mv.add_argument("--table", required=True, help="source CDC table root")
    mv.add_argument("--out", required=True, help="view table root")
    mv.add_argument("--dims", default=None,
                    help="comma-separated group-by columns (aggregate mode)")
    mv.add_argument("--sum", default="",
                    help="comma-separated measure columns (SUM), optional")
    mv.add_argument("--scd2", action="store_true",
                    help="maintain a type-2 HISTORY view instead of an "
                         "aggregate (per-key version logs; intervals on read)")
    mv.add_argument("--cores", type=int, default=None)

    ch = sub.add_parser("changes", help="summarize the change feed between "
                                        "two versions (Delta table_changes "
                                        "analogue)")
    ch.add_argument("--table", required=True)
    ch.add_argument("--since", type=int, required=True,
                    help="exclusive lower version bound")
    ch.add_argument("--to", type=int, default=None,
                    help="inclusive upper version bound (default: current)")
    ch.add_argument("--cores", type=int, default=None)

    fz = sub.add_parser("finalize", help="write metadata/{dataset.json,codes,subject_splits}")
    fz.add_argument("--table", required=True, help="CDC table root (reads the live MEDS target)")
    fz.add_argument("--out", required=True)
    fz.add_argument("--name", default="omop_meds_spark_dataset")
    fz.add_argument("--version", default="0.1")
    fz.add_argument("--cores", type=int, default=None)

    args = ap.parse_args(argv)

    if args.cmd == "gen":
        from .sources.gen import generate_wal

        m = generate_wal(args.wal, n_events=args.events, n_repos=args.repos,
                         n_files=args.files, seed=args.seed)
        print(json.dumps({"files": m["n_files"], "events": m["n_events"]}))
        return 0

    if args.cmd == "status":
        from .schemas import KEY_COLS
        from .table import SnapshotTable

        t = SnapshotTable(args.table, KEY_COLS)
        m = t.latest()
        if m is None:
            print(json.dumps({"version": None}))
            return 0
        print(json.dumps({
            "version": m["version"],
            "committed_batches": m["committed_hwm"] + 1 + len(m["committed_extra"]),
            "watermark_seq": m.get("watermark_seq"),
            "offsets": m.get("offsets", {}),
            "buckets": len(m.get("files", {})),
        }))
        return 0

    if args.cmd == "vacuum":
        from .schemas import KEY_COLS
        from .table import SnapshotTable

        print(json.dumps(SnapshotTable(args.table, KEY_COLS).vacuum(
            args.keep_versions, min_age_s=args.min_age_s)))
        return 0

    if args.cmd == "files":
        from .schemas import KEY_COLS
        from .table import SnapshotTable

        rows = SnapshotTable(args.table, KEY_COLS)._file_rows(
            version=args.version, ref=args.ref)
        if rows is None:
            print(json.dumps({"files": None}))
            return 0
        cols = ("bucket", "path", "generation", "rows", "bytes",
                "row_groups", "stats")
        if args.summary:
            agg: dict[int, dict] = {}
            for r in rows:
                d = agg.setdefault(r[0], {"bucket": r[0], "files": 0,
                                          "generations": set(),
                                          "rows": 0, "bytes": 0})
                d["files"] += 1
                d["generations"].add(r[2])
                d["rows"] += r[3]
                d["bytes"] += r[4]
            for b in sorted(agg):
                d = agg[b]
                d["generations"] = len(d["generations"])
                print(json.dumps(d))
        else:
            for r in rows:
                print(json.dumps(dict(zip(cols, r))))
        return 0

    if args.cmd == "fsck":
        from .schemas import KEY_COLS
        from .table import SnapshotTable

        print(json.dumps(SnapshotTable(args.table, KEY_COLS).fsck(remove=args.remove)))
        return 0

    if args.cmd == "dlq":
        from pathlib import Path

        from .runner import read_dlq_dir

        spark = _session(args.cores)
        df = read_dlq_dir(spark, Path(args.table) / "dlq")
        if df is None:
            print(json.dumps({"quarantined": 0, "by_reason": {}}))
            return 0
        by_reason = {r["_reject_reason"]: r["n"] for r in
                     df.groupBy("_reject_reason").count()
                     .withColumnRenamed("count", "n").collect()}
        print(json.dumps({"quarantined": df.count(), "by_reason": by_reason}))
        return 0

    if args.cmd == "tag":
        from .schemas import KEY_COLS
        from .table import SnapshotTable

        t = SnapshotTable(args.table, KEY_COLS)
        if args.drop:
            print(json.dumps({"dropped": t.drop_tag(args.name),
                              "tags": t.tags()}))
        else:
            v = t.tag(args.name, args.version)
            print(json.dumps({"tagged": args.name, "version": v,
                              "tags": t.tags()}))
        return 0

    if args.cmd == "staged":
        from .schemas import KEY_COLS
        from .table import SnapshotTable

        t = SnapshotTable(args.table, KEY_COLS)
        if args.publish:
            ok = t.publish_staged(args.publish,
                                  require_fast_forward=not args.force)
            print(json.dumps({"published": args.publish if ok else None,
                              "already_committed": not ok,
                              "version": t.version}))
        elif args.drop:
            print(json.dumps({"dropped": t.drop_staged(args.drop),
                              "staged": t.staged()}))
        else:
            print(json.dumps({"staged": t.staged()}))
        return 0

    if args.cmd == "changes":
        from .schemas import KEY_COLS
        from .table import SnapshotTable

        from pyspark.sql import functions as F

        spark = _session(args.cores)
        t = SnapshotTable(args.table, KEY_COLS)
        df = t.read_changes(spark, args.since, to_version=args.to)
        if df is None:
            print(json.dumps({"changes": 0, "by_commit": {}}))
            return 0
        by_commit = {
            str(r["_commit_version"]): {"rows": r["rows"],
                                        "deletes": r["deletes"]}
            for r in df.groupBy("_commit_version").agg(
                F.count("*").alias("rows"),
                F.sum(F.when(F.col("op") == "D", 1).otherwise(0))
                 .cast("long").alias("deletes")).collect()}
        print(json.dumps({"changes": sum(v["rows"] for v in by_commit.values()),
                          "by_commit": by_commit}))
        return 0

    if args.cmd == "restore":
        from .schemas import KEY_COLS
        from .table import SnapshotTable

        spark = _session(args.cores)
        t = SnapshotTable(args.table, KEY_COLS)
        print(json.dumps(t.restore(spark, version=args.version, ref=args.ref)))
        return 0

    if args.cmd == "delete":
        from .schemas import KEY_COLS
        from .table import SnapshotTable

        spark = _session(args.cores)
        t = SnapshotTable(args.table, KEY_COLS)
        print(json.dumps(t.delete_where(spark, args.where)))
        return 0

    if args.cmd == "purge":
        from .schemas import KEY_COLS
        from .table import SnapshotTable

        spark = _session(args.cores)
        t = SnapshotTable(args.table, KEY_COLS)
        out = t.purge_where(spark, args.where)
        if args.vacuum:
            out["vacuum"] = t.vacuum(keep_versions=1)
        print(json.dumps(out))
        return 0

    if args.cmd == "compact":
        from .schemas import KEY_COLS
        from .table import SnapshotTable

        spark = _session(args.cores)
        t = SnapshotTable(args.table, KEY_COLS)
        hot = t.hot_buckets(args.threshold)
        done = t.compact(spark, buckets=hot) if hot else False
        print(json.dumps({"compacted_buckets": hot if done else []}))
        return 0

    if args.cmd == "rebucket":
        from .schemas import KEY_COLS
        from .table import SnapshotTable

        spark = _session(args.cores)
        t = SnapshotTable(args.table, KEY_COLS)
        old = t.n_buckets
        changed = t.rebucket(spark, args.buckets)
        print(json.dumps({"rebucketed": bool(changed),
                          "from": old, "to": t.n_buckets}))
        return 0

    if args.cmd == "view":
        from .operators.incremental import IncrementalAggView, SCD2View
        from .schemas import KEY_COLS
        from .table import SnapshotTable

        spark = _session(args.cores)
        src = SnapshotTable(args.table, KEY_COLS)
        if args.scd2:
            view = SCD2View(args.out, src)
            before = view.cursor
            refreshed = view.refresh(spark)
            iv = view.read_intervals(spark)
            print(json.dumps({
                "refreshed": bool(refreshed),
                "cursor": {"before": before, "after": view.cursor},
                "intervals": (iv.count() if iv is not None else 0),
            }))
            return 0
        if not args.dims:
            raise SystemExit("view: --dims is required (or pass --scd2)")
        view = IncrementalAggView(
            args.out, src, dims=args.dims.split(","),
            sum_cols=[c for c in args.sum.split(",") if c])
        before = view.cursor
        refreshed = view.refresh(spark)
        out = view.read(spark)
        print(json.dumps({
            "refreshed": bool(refreshed),
            "cursor": {"before": before, "after": view.cursor},
            "groups": (out.count() if out is not None else 0),
        }))
        return 0

    if args.cmd == "finalize":
        from pathlib import Path

        from .operators.finalize import finalize_metadata
        from .operators.meds import MEDS_KEY_COLS
        from .table import SnapshotTable

        spark = _session(args.cores)
        meds = SnapshotTable(Path(args.table) / "meds", MEDS_KEY_COLS)
        live = meds.read_live(spark)
        if live is None:
            print(json.dumps({"error": "empty MEDS target"}))
            return 1
        meta = finalize_metadata(live, args.out, args.name, args.version)
        print(json.dumps(meta))
        return 0

    spark = _session(args.cores)
    t0 = time.monotonic()
    if args.cmd == "replay":
        from .runner import CDCRunner

        r = CDCRunner(spark, args.wal, args.table, n_buckets=args.buckets,
                      files_per_batch=args.files_per_batch,
                      dlq=getattr(args, "dlq", False),
                      constraints=getattr(args, "constraint", []),
                      concurrent_writers=getattr(args, "concurrent", False))
        metrics = r.run()
    else:
        from .streaming.stream_runner import StreamingCDCRunner

        r = StreamingCDCRunner(spark, args.wal, args.table, n_buckets=args.buckets,
                               files_per_batch=args.files_per_batch)
        metrics = r.run_available()
    wall = time.monotonic() - t0
    n_events = sum(m.get("n_events", 0) for m in metrics)
    print(json.dumps({
        "mode": args.cmd,
        "batches_applied": len(metrics),
        "n_events": n_events,
        "wall_s": round(wall, 3),
        "events_per_s": round(n_events / wall, 1) if wall > 0 and n_events else None,
        "final_keys": (r.final_state().count() if r.final_state() is not None else 0),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
