"""``catchup``: a backlog replay through ``CDCRunner`` of a WAL over a
small key space, applied in a few large batches.

Nearly every event loses last-writer-wins, so the WAL scan, the LWW
exchange and per-event CPU dominate; per-batch fixed cost, normalize,
commit and compaction do little work (three generations per bucket never
reach the default compaction threshold). A run replays the WAL into fresh
tables, closed loop, in whole replays; the whole first replay is the
warm-up (JIT, codegen, page cache) and is not timed: CPU time per event
still falls from batch to batch over the first replay while the JIT
compiles.
"""

from __future__ import annotations

import concurrent.futures as cf
import multiprocessing as mp
import time
from pathlib import Path

import cdc
from harness import (Procs, Result, dir_bytes, head_bytes, host_diag,
                     host_sample, last_job_id, median, run_dir, start_session)

WAL = dict(n_events=600_000, n_repos=20, paths_per_repo=50, n_files=12)
# --seconds sets the work: whole timed replays at about this many seconds each
NOMINAL_REPLAY_S = 12
STATE_COLS = ["repo", "path", "commit", "lang", "size_bytes", "content_sha256",
              "seq_no", "token_count", "lang_pred", "n_lines", "max_line_len",
              "lang_code"]
MEDS_COLS = ["subject_id", "time", "code", "numeric_value", "text_value", "seq_no"]


def oracle_fingerprint(wal, which: str) -> dict:
    """Fingerprint and row count of a single-threaded pandas replay, which
    shares no code with the Spark path: ``replay_oracle`` for the state
    table, ``meds_replay_oracle`` for MEDS."""
    from omop_meds_spark import verify
    from omop_meds_spark.sources.gen import meds_replay_oracle, replay_oracle

    if which == "state":
        pdf = replay_oracle(wal)
        pdf["size_bytes"] = pdf["size_bytes"].astype("Int64")
        return {"fp": list(verify.pandas_fingerprint(pdf, STATE_COLS)), "rows": len(pdf)}
    pdf = meds_replay_oracle(wal)
    return {"fp": list(verify.pandas_fingerprint(pdf, MEDS_COLS)), "rows": len(pdf)}


def apply_counted(spark, runner, batch) -> dict:
    """Apply one batch; its counts depend only on seed and size."""
    j0 = last_job_id(spark)
    m = runner.apply_batch(batch)
    return {"events": m["n_events"], "winners": m["n_keys"],
            "spark_jobs": last_job_id(spark) - j0}


def cached_oracle(wal: str, which: str) -> dict:
    wal = Path(wal)
    return cdc.cached_json(wal / f"oracle-{which}.json",
                           lambda: oracle_fingerprint(wal, which))


def run(seed: int, seconds: float, trace: bool, t_proc: float) -> None:
    from omop_meds_spark import verify
    from omop_meds_spark.runner import CDCRunner

    res = Result()
    t0 = time.monotonic()
    wal = cdc.cached_wal("catchup", seed, **WAL)
    t_gen = time.monotonic() - t0

    rd = run_dir()
    spark = start_session("perfbench-catchup", rd / "eventlog" if trace else None)
    procs = Procs(spark)
    replays = [CDCRunner(spark, wal, rd / f"r{i}")
               for i in range(1 + max(1, round(seconds / NOMINAL_REPLAY_S)))]
    work = [(r, b) for r in replays for b in r.reader.plan_batches()]
    n_warm = sum(r is replays[0] for r, _ in work)
    # warm-up: the whole first replay (JIT, codegen, page cache)
    counts = [apply_counted(spark, *w) for w in work[:n_warm]]
    tracer = None
    if trace:
        from tracing import Tracer

        tracer = Tracer(spark)
        cdc.wrap_layers(tracer)
        tracer.active = True

    wal_bytes = sum(p.stat().st_size for p in wal.glob("*.parquet"))
    host0 = host_sample()
    t_start = time.monotonic()
    setup_s = t_start - t_proc - t_gen
    cpu0 = procs.cpu_s()
    walls = []
    for runner, batch in work[n_warm:]:
        t = time.monotonic()
        counts.append(apply_counted(spark, runner, batch))
        walls.append(time.monotonic() - t)
    cpu = procs.cpu_s() - cpu0
    res.op(len(work))
    events = sum(c["events"] for c in counts[n_warm:])
    winners = sum(c["winners"] for c in counts[n_warm:])
    t_timed = time.monotonic() - t_start
    host1 = host_sample()
    if tracer:
        tracer.active = False

    # the two oracle replays run in their own processes while Spark checks
    with cf.ProcessPoolExecutor(2, mp_context=mp.get_context("spawn")) as pool:
        pending = {k: pool.submit(cached_oracle, str(wal), k) for k in ("state", "meds")}
        fps = [(verify.state_fingerprint(r.final_state(), STATE_COLS),
                verify.state_fingerprint(r.final_meds(), MEDS_COLS)) for r in replays]
        oracle = {k: f.result() for k, f in pending.items()}
    for i, (st, md) in enumerate(fps):
        res.check(list(st) == oracle["state"]["fp"], f"replay {i} state {st} != {oracle['state']}")
        res.check(list(md) == oracle["meds"]["fp"], f"replay {i} meds {md} != {oracle['meds']}")
    last = replays[-1]
    n_files, written = 0, 0
    for r in replays:
        for t in (r.table, r.meds_table):
            n, b = dir_bytes(t.root / "data")
            n_files += n
            written += b
    live_bytes = head_bytes(last.table) + head_bytes(last.meds_table)
    manifest = cdc.manifest_bytes(last)
    peak = procs.peak_rss_mb()
    spark.stop()

    info = {"workload": "catchup", "seed": seed, "setup_s": round(setup_s, 2),
            "gen_s": round(t_gen, 2), "timed_s": round(t_timed, 2),
            "host": host_diag(host0, host1),
            "counts": {"per_batch": counts, "files_written": n_files,
                       "bytes_written": written,
                       "compactions": sum(cdc.compactions(r) for r in replays)},
            "replays": len(replays),
            # wall-clock throughput is printed, not gated (see README)
            "p50": {"apply_events_per_s": events / sum(walls),
                    "batch_p50_s": median(walls)}}
    if tracer:
        from tracing import EventLog

        log = EventLog(rd / "eventlog")
        info["under_trace"] = {"apply_events_per_s": events / sum(walls),
                               "cpu_s_per_mevent": cpu / (events / 1e6)}
        for name, (v, unit) in cdc.apply_layers(tracer, log, events, winners).items():
            res.put(name, v, unit)
        res.put("table.manifest_bytes", manifest, "B")
        # no lookup, change feed, scan or view refresh runs here: those
        # layers do no work and read 0
        for name, unit in cdc.READ_LAYERS.items():
            res.put(name, 0, unit)
        info["self_s"] = {k: round(v, 3) for k, v in sorted(tracer.self_times().items())}
    else:
        res.put("setup_s", setup_s, "s")
        res.put("cpu_s_per_mevent", cpu / (events / 1e6), "s/Mevent")
        res.put("write_amplification", written / (wal_bytes * len(replays)), "ratio")
        res.put("table_bytes_per_live_row", live_bytes / oracle["state"]["rows"], "B/row")
        res.put("peak_rss_mb", peak, "MB")
    res.emit(info)
