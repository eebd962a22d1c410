"""``tail``: a steady tail through ``CDCRunner`` over a large key space
that is preloaded during set-up, one small WAL segment per batch.

After every commit the benchmark runs a fixed closed-loop read mix: one
``IncrementalAggView.refresh`` (over ``lang``, a column present in every
schema era), a few ``SnapshotTable.lookup`` calls on state, one
``read_changes`` on MEDS since the previous commit and one ``read_live``
scan of MEDS with a group-by. Every answer is checked against a pandas
replay of the WAL that shares no code with the Spark path.
"""

from __future__ import annotations

import hashlib
import random
import time

import cdc
from harness import (Procs, Result, dir_bytes, head_bytes, host_diag,
                     host_sample, last_job_id, median, run_dir, start_session)

# 100k events over 20k keys in 100 segments of 1000 events. Both schema
# evolution points (60% and 80% of the stream) fall inside the preload, so
# every timed segment is in the last schema era.
WAL = dict(n_events=100_000, n_repos=100, paths_per_repo=200, n_files=100)
# the preload is one batch of 81 files; it also absorbs the first batch's
# JIT and codegen cost. Every bucket then holds one generation, so the
# default compaction cadence (8 generations) fires on the seventh cycle.
PRELOAD_FILES = 81
NOMINAL_CYCLE_S = 14.0
LOOKUPS = 3
KEY = ["repo", "path"]


def load_wal(wal) -> "pd.DataFrame":
    """Every WAL row with its file index, columns renamed to the first
    schema era's names."""
    import pandas as pd
    import pyarrow.parquet as pq

    parts = []
    for i, fp in enumerate(sorted(wal.glob("*.parquet"))):
        pdf = pq.read_table(fp).to_pandas()
        pdf = pdf.rename(columns={"language": "lang"})
        pdf["file"] = i
        parts.append(pdf[["file", "seq_no", "op", "repo", "path", "commit", "content"]])
    return pd.concat(parts, ignore_index=True)


class Oracle:
    """Last-writer-wins state per key, advanced one WAL file at a time."""

    def __init__(self, ev, upto: int):
        first = ev[ev.file < upto].sort_values("seq_no")
        first = first.drop_duplicates(KEY, keep="last")
        self.state = {(r.repo, r.path): (r.seq_no, r.op, r.commit, r.content)
                      for r in first.itertuples()}
        self.ev = ev

    def advance(self, file: int) -> int:
        """Apply one segment; returns its number of distinct keys."""
        seg = self.ev[self.ev.file == file]
        for r in seg.itertuples():
            k = (r.repo, r.path)
            cur = self.state.get(k)
            if cur is None or r.seq_no > cur[0]:
                self.state[k] = (r.seq_no, r.op, r.commit, r.content)
        return seg[KEY].drop_duplicates().shape[0]

    def live(self) -> int:
        return sum(1 for v in self.state.values() if v[1] != "D")

    def expect(self, key) -> tuple | None:
        v = self.state.get(key)
        if v is None or v[1] == "D":
            return None
        return (v[0], v[2], hashlib.sha256(v[3].encode()).hexdigest())

    def pick_keys(self, rng: random.Random, seg_keys: list) -> list:
        """A live key the segment touched, a deleted key, any key."""
        live = [k for k in seg_keys if self.state[k][1] != "D"]
        dead = [k for k in seg_keys if self.state[k][1] == "D"] or sorted(
            k for k, v in self.state.items() if v[1] == "D")
        keys = [rng.choice(live), rng.choice(dead)]
        keys += [rng.choice(seg_keys) for _ in range(LOOKUPS - 2)]
        return keys


def run(seed: int, seconds: float, trace: bool, t_proc: float) -> None:
    import pandas as pd
    from omop_meds_spark.operators.incremental import IncrementalAggView
    from omop_meds_spark.runner import CDCRunner
    from omop_meds_spark.sources.gen import replay_oracle
    from omop_meds_spark.sources.wal import WalBatch

    res = Result()
    cycles = max(1, round(seconds / NOMINAL_CYCLE_S))
    n_pre = PRELOAD_FILES
    t0 = time.monotonic()
    wal = cdc.cached_wal("tail", seed, **WAL)
    files = [str(p) for p in sorted(wal.glob("*.parquet"))]
    ev = load_wal(wal)
    oracle = Oracle(ev, n_pre)
    # expected answers of every timed cycle (segment n_pre + i)
    rng = random.Random(seed)
    plan = []
    for i in range(cycles):
        f = n_pre + i
        n_keys = oracle.advance(f)
        seg_keys = sorted(set(zip(*(ev[ev.file == f][c] for c in KEY))))
        keys = oracle.pick_keys(rng, seg_keys)
        plan.append({"file": f, "n_keys": n_keys, "live": oracle.live(),
                     "keys": keys, "expect": [oracle.expect(k) for k in keys]})
    t_gen = time.monotonic() - t0

    rd = run_dir()
    spark = start_session("perfbench-tail", rd / "eventlog" if trace else None)
    procs = Procs(spark)
    runner = CDCRunner(spark, wal, rd / "t")
    view = IncrementalAggView(rd / "view", runner.table, dims=["lang"],
                              sum_cols=["token_count"])
    runner.apply_batch(WalBatch(0, tuple(files[:n_pre])))
    view.refresh(spark)
    # the first read of each kind, on the preloaded state
    runner.table.lookup(spark, dict(zip(KEY, plan[0]["keys"][0]))).collect()
    runner.meds_table.read_changes(spark, runner.meds_table.version - 1).collect()
    runner.meds_table.read_live(spark).groupBy("code").count().collect()
    tracer = None
    if trace:
        from tracing import Tracer

        tracer = Tracer(spark)
        cdc.wrap_layers(tracer)

    def span(name):
        return tracer.open(name) if tracer and tracer.active else None

    def end(s):
        if s is not None:
            tracer.close(s)

    got = []  # (cycle plan, lookup rows, change rows, scan rows)
    lat = {"fresh": [], "view": [], "lookup": [], "change": [], "scan": []}
    counts = []
    events = 0

    def cycle(c: dict, batch_id: int) -> None:
        nonlocal events
        v_meds = runner.meds_table.version
        j0 = last_job_id(spark)
        t = time.monotonic()
        m = runner.apply_batch(WalBatch(batch_id, (files[c["file"]],)))
        fresh = time.monotonic() - t
        jobs = last_job_id(spark) - j0
        t = time.monotonic()
        view.refresh(spark)
        t_view = time.monotonic() - t
        rows, t_look = [], []
        for k in c["keys"]:
            s = span("bench.lookup")
            t = time.monotonic()
            df = runner.table.lookup(spark, dict(zip(KEY, k)))
            rows.append([] if df is None else
                        df.select("seq_no", "commit", "content_sha256").collect())
            t_look.append(time.monotonic() - t)
            end(s)
        s = span("bench.changefeed")
        t = time.monotonic()
        ch = runner.meds_table.read_changes(spark, v_meds)
        changes = [] if ch is None else ch.collect()
        t_change = time.monotonic() - t
        end(s)
        s = span("bench.scan")
        t = time.monotonic()
        scan = runner.meds_table.read_live(spark).groupBy("code").count().collect()
        t_scan = time.monotonic() - t
        end(s)
        got.append((c, rows, changes, scan))
        res.op(2)  # apply and refresh; the reads are counted by their checks
        events += m["n_events"]
        counts.append({"events": m["n_events"], "winners": m["n_keys"],
                       "spark_jobs": jobs})
        lat["fresh"].append(fresh)
        lat["view"].append(t_view)
        lat["lookup"] += t_look
        lat["change"].append(t_change)
        lat["scan"].append(t_scan)

    files0, bytes0 = (sum(x) for x in zip(dir_bytes(runner.table.root / "data"),
                                          dir_bytes(runner.meds_table.root / "data")))
    host0 = host_sample()
    t_start = time.monotonic()
    setup_s = t_start - t_proc - t_gen
    cpu0 = procs.cpu_s()
    if tracer:
        tracer.active = True
    for i, c in enumerate(plan):
        cycle(c, 1 + i)
    if tracer:
        tracer.active = False
    cpu = procs.cpu_s() - cpu0
    t_timed = time.monotonic() - t_start
    host1 = host_sample()
    files1, bytes1 = (sum(x) for x in zip(dir_bytes(runner.table.root / "data"),
                                          dir_bytes(runner.meds_table.root / "data")))
    wal_bytes = sum((wal / f"{p['file']:06d}.parquet").stat().st_size for p in plan)

    # ---- checks, outside the timed phase
    for c, rows, changes, scan in got:
        for k, want, r in zip(c["keys"], c["expect"], rows):
            have = None if not r else tuple(r[0])
            res.check(len(r) <= 1 and have == want,
                      f"lookup {k} at file {c['file']}: {r} != {want}")
        res.check(len(changes) == c["n_keys"],
                  f"change feed at file {c['file']}: {len(changes)} rows != {c['n_keys']} keys")
        res.check(sum(r["count"] for r in scan) == c["live"],
                  f"scan at file {c['file']}: {sum(r['count'] for r in scan)} != {c['live']}")
    prefix = rd / "prefix"
    prefix.mkdir()
    for p in sorted(wal.glob("*.parquet"))[:plan[-1]["file"] + 1]:
        (prefix / p.name).hardlink_to(p)
    state = replay_oracle(prefix)
    want = state.groupby("lang").agg(n_rows=("lang", "size"),
                                     sum_token_count=("token_count", "sum"))
    have = pd.DataFrame([r.asDict() for r in view.read(spark).collect()]).set_index("lang")
    ok = (len(want) == len(have) and all(
        int(have.loc[g, "n_rows"]) == int(w.n_rows)
        and int(have.loc[g, "sum_token_count"]) == int(w.sum_token_count)
        for g, w in want.iterrows() if g in have.index))
    res.check(ok, f"view {have.to_dict()} != {want.to_dict()}")
    res.check(len(state) == plan[-1]["live"],
              f"incremental oracle live {plan[-1]['live']} != replay_oracle {len(state)}")
    live_bytes = head_bytes(runner.table) + head_bytes(runner.meds_table)
    peak = procs.peak_rss_mb()
    n_compactions = cdc.compactions(runner)
    manifest = cdc.manifest_bytes(runner)
    spark.stop()

    info = {"workload": "tail", "seed": seed, "setup_s": round(setup_s, 2),
            "gen_s": round(t_gen, 2), "timed_s": round(t_timed, 2),
            "host": host_diag(host0, host1), "cycles": cycles,
            "counts": {"per_batch": counts, "files_written": files1 - files0,
                       "bytes_written": bytes1 - bytes0,
                       "compactions": n_compactions},
            "latency_s": {k: [round(x, 3) for x in v] for k, v in lat.items()},
            "p50": p50s(lat, events)}
    if tracer:
        from tracing import EventLog

        log = EventLog(rd / "eventlog")
        winners = sum(c["winners"] for c in counts)
        for name, (v, unit) in tail_layers(tracer, log, events, winners, manifest).items():
            res.put(name, v, unit)
        info["under_trace"] = {"cpu_s_per_mevent": cpu / (events / 1e6)}
        info["self_s"] = {k: round(v, 3) for k, v in sorted(tracer.self_times().items())}
    else:
        res.put("setup_s", setup_s, "s")
        res.put("cpu_s_per_mevent", cpu / (events / 1e6), "s/Mevent")
        res.put("write_amplification", (bytes1 - bytes0) / wal_bytes, "ratio")
        res.put("table_bytes_per_live_row", live_bytes / plan[-1]["live"], "B/row")
        res.put("peak_rss_mb", peak, "MB")
    res.emit(info)


def p50s(lat: dict, events: int) -> dict:
    """The tail's wall-clock latencies. They are printed, not gated: their
    run-to-run spread on a shared host is wider than any admissible bound
    (see README)."""
    return {"apply_events_per_s": events / sum(lat["fresh"]),
            "freshness_p50_s": median(lat["fresh"]),
            "view_refresh_p50_s": median(lat["view"]),
            "lookup_p50_s": median(lat["lookup"]),
            "changefeed_p50_s": median(lat["change"]),
            "scan_p50_s": median(lat["scan"])}


def tail_layers(tracer, log, events: int, winners: int, manifest_bytes: int) -> dict:
    from tracing import stage_sum

    out = cdc.apply_layers(tracer, log, events, winners)
    kids = tracer.children()

    def per(name, fn):
        return median([fn(s, log.jobs_of(tracer.subtree_ids(s, kids)))
                       for s in tracer.named(name)])

    def dur(s, jobs):
        return s["end"] - s["start"]

    def noted(key, *names):
        def total(s, jobs):
            ids = tracer.subtree_ids(s, kids)
            return sum(x["note"][key] for x in tracer.spans
                       if x["id"] in ids and x["name"] in names and x["end"])
        return total

    out["operators.incremental.refresh_s"] = (per("operators.incremental.refresh", dur), "s")
    out["table.lookup_s"] = (per("bench.lookup", dur), "s")
    out["table.changefeed_s"] = (per("bench.changefeed", dur), "s")
    out["table.scan_s"] = (per("bench.scan", dur), "s")
    out["table.key_bucket_s"] = (per("table.key_bucket", dur), "s")
    out["table.lookup_files_scanned"] = (per("bench.lookup", noted("files", "table.read")), "count")
    out["table.lookup_spark_jobs"] = (per("bench.lookup", lambda s, j: len(j)), "count")
    out["table.read_changes_s"] = (median([s["end"] - s["start"] for s in tracer.named("table.read_changes")
                                           if s["parent"] is not None and tracer.spans[s["parent"]]["name"] == "bench.changefeed"]), "s")
    out["table.changefeed_input_bytes"] = (per("bench.changefeed", noted("bytes", "table.read_changes")), "B")
    out["table.scan_input_bytes"] = (per("bench.scan", noted("bytes", "table.read")), "B")
    out["table.scan_shuffle_bytes"] = (per("bench.scan", lambda s, j: stage_sum(j, "shuffle_write")), "B")
    out["table.manifest_bytes"] = (manifest_bytes, "B")
    out["operators.incremental.refresh_input_bytes"] = (
        per("operators.incremental.refresh", noted("bytes", "table.read", "table.read_changes")), "B")
    out["operators.incremental.refresh_spark_jobs"] = (
        per("operators.incremental.refresh", lambda s, j: len(j)), "count")
    return out
