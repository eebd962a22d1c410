"""``queries``: the 11-query headline suite over seeded sf0.1-sized tables.

Each query gets one untimed warm-up, then repeats closed loop into a
``noop`` sink in whole rounds of all eleven. Every result is checked
against its DuckDB twin in ``oracles.ORACLES`` (columns, row count,
values). ``HEADLINE`` names the operator module each query exercises.
"""

from __future__ import annotations

import time

from harness import CACHE, Procs, Result, host_diag, host_sample, median, start_session

# query -> the operator module it calls
HEADLINE = {
    "tpch_q1": "aggregation (Catalyst only)",
    "tpch_q3": "joins (broadcast + shuffle)",
    "tpch_q5": "joins (six-way)",
    "cdc_apply_events": "operators.upsert (last_writer_wins)",
    "dedup_earliest": "operators.upsert window form (row_number)",
    "sessionize": "window functions",
    "minhash_lsh_pairs": "operators.dedup",
    "text_features": "functions.text",
    "embedding_topk": "operators.similarity (brute force)",
    "ann_ivf_topk": "operators.similarity (IVF)",
    "asof_join_latest": "operators.temporal",
}
TABLES = ["region", "nation", "customer", "supplier", "orders", "lineitem",
          "events", "documents", "embeddings"]
# --seconds sets the work: whole rounds at about this many seconds each
NOMINAL_ROUND_S = 12.0


def run(seed: int, seconds: float, trace: bool, t_proc: float) -> None:
    import duckdb
    from omop_meds_spark.oracles import ORACLES
    from omop_meds_spark.queries import ALL_QUERIES
    from tools.parity_check import compare

    import tables

    res = Result()
    t0 = time.monotonic()
    data = CACHE / f"queries-s{seed}"
    if not (data / "embeddings.parquet").exists():
        tables.generate(data, seed)
    data.touch()
    t_gen = time.monotonic() - t0

    spark = start_session("perfbench-queries")
    procs = Procs(spark)
    for name in HEADLINE:  # warm-up: plan, codegen, file listing
        ALL_QUERIES[name](spark, str(data)).write.format("noop").mode("overwrite").save()
    host0 = host_sample()
    t_start = time.monotonic()
    setup_s = t_start - t_proc - t_gen
    took = {name: [] for name in HEADLINE}
    for _ in range(max(1, round(seconds / NOMINAL_ROUND_S))):
        for name in HEADLINE:
            t = time.monotonic()
            ALL_QUERIES[name](spark, str(data)).write.format("noop").mode("overwrite").save()
            took[name].append(time.monotonic() - t)
            res.op()
    t_timed = time.monotonic() - t_start
    host1 = host_sample()

    con = duckdb.connect()
    for tname in TABLES:
        con.sql(f"CREATE VIEW {tname} AS SELECT * FROM '{data}/{tname}.parquet'")
    for name in HEADLINE:
        bad = compare(name, ALL_QUERIES[name](spark, str(data)).toPandas(),
                      con.sql(ORACLES[name]).df())
        res.check(not bad, f"{name}: {bad}")
    peak = procs.peak_rss_mb()
    spark.stop()

    if trace:  # the per-query medians are the per-layer attribution
        for name, xs in took.items():
            res.put(f"queries.{name}_s", median(xs), "s")
    else:
        res.put("setup_s", setup_s, "s")
        res.put("suite_s", sum(median(xs) for xs in took.values()), "s")
        res.put("peak_rss_mb", peak, "MB")
    res.emit({"workload": "queries", "seed": seed, "setup_s": round(setup_s, 2),
              "gen_s": round(t_gen, 2), "timed_s": round(t_timed, 2),
              "host": host_diag(host0, host1),
              "counts": {"rounds": len(took["tpch_q1"])},
              "latency": {k: [round(x, 3) for x in v] for k, v in took.items()}})
