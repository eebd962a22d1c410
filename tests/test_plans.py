"""Physical-plan regression tests: the plan shapes PLANS.md documents are
asserted, not just described — pushdown reaching the scan, dimension
broadcasts, exchange budgets, no nested loops. A refactor that silently
de-optimizes a hot path fails here."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(spark, name):
    from omop_meds_spark.queries import ALL_QUERIES

    return ALL_QUERIES[name](spark, SF)._jdf.queryExecution().executedPlan().toString()


def _exchanges(plan: str) -> int:
    return len(re.findall(r"Exchange (hash|range)partitioning", plan))


def test_tpch_q5_broadcasts_and_pushdown(spark):
    plan = _plan(spark, "tpch_q5")
    assert "BroadcastHashJoin" in plan
    assert "PushedFilters" in plan and "o_orderdate" in plan
    # grouped aggregate is the only shuffle-ish stage; no nested loops
    assert "NestedLoop" not in plan


def test_cdc_upsert_exactly_one_exchange(spark):
    plan = _plan(spark, "cdc_upsert_latest")
    assert _exchanges(plan) == 1  # the LWW key hash; no window
    assert "max_by" in plan
    assert "Window" not in plan and "NestedLoop" not in plan


def test_lww_combines_below_its_one_key_exchange(spark):
    """What the LWW kernel promises: ONE key exchange, with ONE partial
    (map-side) ``max_by`` below it, so each map task ships at most one row
    per key. Not promised: a sort-free plan (the struct-valued buffer is
    not fixed-width, so both aggregates are ``SortAggregate``)."""
    from omop_meds_spark.operators.upsert import last_writer_wins

    batch = spark.createDataFrame(
        [("r", f"p{i % 5}", i, f"e{i}", "U", "x" * 10) for i in range(50)],
        "repo string, path string, seq_no long, event_id string, op string, "
        "content string")
    plan = (last_writer_wins(batch, ["repo", "path"])
            ._jdf.queryExecution().executedPlan().toString())
    assert _exchanges(plan) == 1
    assert plan.count("partial_max_by") == 1
    # the tree prints top-down: below the exchange is before it
    assert plan.index("partial_max_by") > plan.index("Exchange hashpartitioning")


def test_text_features_zero_exchanges(spark):
    plan = _plan(spark, "text_features")
    assert _exchanges(plan) == 0
    # column-pruned scan: only doc_id + text read
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(c.split(":")[0] for c in m.group(1).split(",")) == {"doc_id", "text"}


def test_semi_join_is_broadcast_left_semi(spark):
    plan = _plan(spark, "semi_join_cohort")
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "PushedFilters" in plan and "c_mktsegment" in plan


def test_asof_join_single_window_exchange(spark):
    plan = _plan(spark, "asof_join_latest")
    # dim pre-agg + the window partition — and nothing else
    assert _exchanges(plan) <= 2
    assert "NestedLoop" not in plan


def test_rolling_window_single_exchange(spark):
    plan = _plan(spark, "rolling_user_stats")
    # one user-keyed hash exchange feeding ONE Window node evaluating the
    # sliding RANGE frame — no self-join, no explode, no second shuffle
    assert _exchanges(plan) == 1
    assert len(re.findall(r"\bWindow\b", plan)) == 1
    assert "Join" not in plan and "Generate" not in plan


def test_interval_join_no_nested_loop(spark):
    plan = _plan(spark, "interval_join_sessions")
    assert "NestedLoop" not in plan


def test_ann_lsh_signature_is_zero_exchange(spark):
    """The LSH signature must be a projection (driver-side plane-weight
    literals, narrow Column algebra) — the only shuffle in the whole ANN
    plan is the final per-query window; the bucket join is a broadcast.
    Guards against regressing to the posexplode + two-shuffle signature
    (corpus×dim rows through the exchange at real embedding widths)."""
    plan = _plan(spark, "ann_lsh_topk")
    assert _exchanges(plan) == 1  # window partitionBy(query_id) only
    assert "BroadcastHashJoin" in plan  # bucket join broadcasts queries
    assert "Generate" not in plan  # no posexplode anywhere


def test_embedding_near_dup_two_bucket_exchanges_only(spark):
    """Self-join on the bucket key: one hash exchange per side, nothing
    else — the signature itself must stay shuffle-free."""
    plan = _plan(spark, "embedding_near_dup")
    assert _exchanges(plan) <= 2
    assert "Generate" not in plan and "NestedLoop" not in plan


def test_codes_metadata_joins_broadcast(spark):
    plan = _plan(spark, "codes_metadata")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "NestedLoop" not in plan


def test_change_feed_zero_exchange_scan(spark, tmpdir_path):
    """The change feed is a plain union of the range's delta-file scans —
    no exchange, no join, no window; cost is O(changed data)."""
    from omop_meds_spark.table import SnapshotTable

    t = SnapshotTable(tmpdir_path, ["repo", "path"], n_buckets=4)
    for i in range(3):
        t.commit_delta_auto(
            spark.createDataFrame([(f"r{i}", "p", i, "U")],
                                  "repo string, path string, seq_no long, op string"),
            i)
    df = t.read_changes(spark, since_version=0)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert _exchanges(plan) == 0
    assert "Join" not in plan and "Window" not in plan


def test_point_lookup_pushes_key_predicate(spark, tmpdir_path):
    """The key equality must reach the parquet scan (PushedFilters), on a
    scan already pruned to the key's single bucket."""
    from omop_meds_spark.table import SnapshotTable, _file_buckets

    t = SnapshotTable(tmpdir_path, ["repo", "path"], n_buckets=8)
    t.commit_delta_auto(
        spark.createDataFrame([(f"r{i}", f"p{i}", i, "U") for i in range(20)],
                              "repo string, path string, seq_no long, op string"),
        0)
    df = t.lookup(spark, {"repo": "r3", "path": "p3"})
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "repo" in plan
    m = t.latest()
    b = t.key_bucket(spark, {"repo": "r3", "path": "p3"})
    # one delta file holds the bucket (its rows filtered to it) →
    # single-generation fast path: no LWW exchange either
    (f,) = [f for fs in m["files"].values() for f in fs]
    assert b in _file_buckets(m, "0", f) and _exchanges(plan) == 0


def test_minhash_lsh_single_signature_subtree(spark):
    """The LSH pair generation must be join-free: one signature pipeline
    (shingle explode + md5 + agg), one bucket agg, nested-transform pair
    expansion — NOT a self-join whose sides each recompute the signature
    (the old shape ran the md5 pipeline 4x)."""
    plan = _plan(spark, "minhash_lsh_pairs")
    assert "Join" not in plan
    # shingles, bands, per-bucket id_a, per-id_a suffix — once each (the
    # two-step pair explode keeps array values O(bucket), not O(bucket^2))
    assert plan.count("Generate") == 4
    assert _exchanges(plan) == 3  # sig agg, bucket agg, distinct
    assert "flatten" not in plan  # no materialized full pair array


def test_minhash_lsh_max_size_bucket(spark):
    """Force one bucket to its worst case — n identical docs land in the
    SAME bucket in every band — and check the pair set is exactly C(n,2)
    with a<b ordering. The two-step explode means the largest array value
    during this query is n ids (O(bucket)), not n^2/2 pair structs; with
    the cap lowered below n the bucket is dropped entirely."""
    from omop_meds_spark.operators.dedup import minhash_lsh_pairs

    n = 120
    docs = spark.createDataFrame(
        [(i, "the same exact document text repeated verbatim for lsh") for i in range(n)],
        "doc_id long, text string",
    )
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", k=8, bands=4).collect()
    assert len(pairs) == n * (n - 1) // 2
    assert all(r.id_a < r.id_b for r in pairs)
    capped = minhash_lsh_pairs(docs, "doc_id", "text", k=8, bands=4, max_bucket=n - 1)
    assert capped.count() == 0


def test_ivf_assignment_is_projection(spark):
    """IVF corpus assignment must add NO corpus exchange: the codebook
    joins in as a broadcast one-row cross join and the argmin is Column
    algebra. The only hash exchange in the whole plan is the final
    per-query window; the cell join broadcasts the (tiny) probe side.
    Guards against regressing to a corpus×centroid row explosion with a
    groupBy(id) argmin (a full-corpus shuffle per assignment)."""
    plan = _plan(spark, "ann_ivf_topk")
    assert _exchanges(plan) == 1  # window partitionBy(query_id) only
    assert "BroadcastHashJoin" in plan  # cell join broadcasts the probes
    # the only Generate allowed is the n_probe explode on the query side:
    # never a corpus-side explode
    assert plan.count("Generate explode") <= 1


def test_lsh_probe_broadcasts_batch_not_corpus(spark):
    """The incremental probe must broadcast the BATCH side: the corpus'
    bucket index is the big relation (at 100 TB a persisted table) and may
    never be rebroadcast or re-shuffled per micro-batch. Exchange budget:
    probe sig agg + corpus sig agg + corpus bucket agg + final distinct."""
    plan = _plan(spark, "lsh_incremental_probe")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "NestedLoop" not in plan
    assert _exchanges(plan) == 4


def test_lsh_probe_semantics(spark):
    """A new doc finds its corpus near-twin via shared band buckets; an
    unrelated new doc matches nothing; a corpus doc re-arriving as an
    update never pairs with itself; the corpus-bucket cap drops
    boilerplate clusters."""
    from omop_meds_spark.operators.dedup import minhash_lsh_probe

    base = "the quick brown fox jumps over the lazy dog near the old river bank"
    corpus = spark.createDataFrame(
        [(1, base), (2, base + " today"),
         (3, "completely different corpus text about spark physical plans")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(100, base),  # near-dup of 1 and 2
         (101, "unrelated fresh content with no twin anywhere at all zqx"),
         (1, base)],   # an UPDATE of corpus doc 1 re-arriving
        "doc_id long, text string",
    )
    got = {(r.new_id, r.corpus_id)
           for r in minhash_lsh_probe(batch, corpus, "doc_id", "text").collect()}
    assert (100, 1) in got
    assert all(n != c for n, c in got), "self-match leaked through"
    assert not any(n == 101 for n, _ in got), "unrelated doc matched"
    # cap: an n-identical boilerplate cluster in the corpus is dropped
    boiler = spark.createDataFrame(
        [(i, base) for i in range(10, 20)], "doc_id long, text string"
    )
    capped = minhash_lsh_probe(batch, boiler, "doc_id", "text", max_bucket=5)
    assert capped.count() == 0


def test_corpus_prep_single_scan_two_exchanges(spark):
    """The composite prep pass must scan the text ONCE (quality, lang,
    tokens, fingerprint in one projection) and shuffle exactly twice
    (fingerprint survivor agg, language rollup)."""
    plan = _plan(spark, "corpus_prep_summary")
    assert _exchanges(plan) == 2
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan and "Generate" not in plan


def test_salted_join_salt_in_shuffle_key(spark):
    """The salt must be part of the join key. When the dim fits a
    broadcast, Catalyst rightly broadcasts (skew is a shuffle problem —
    salting is then free); with broadcast off (the genuinely-big-dim case
    the operator exists for) the exchange must hash (key, salt) so a hot
    key's rows spread over n_salts reducers."""
    plan = _plan(spark, "skew_salted_join")
    assert re.search(r"Join \[[^\]]*__salt", plan), "salt not in join keys"
    assert plan.count("Generate explode") == 1  # the dim-side salt fan-out

    thr = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(thr)
    spark.conf.set(thr, "-1")
    try:
        plan = _plan(spark, "skew_salted_join")
    finally:
        spark.conf.set(thr, prev)
    assert re.search(r"hashpartitioning\([^)]*__salt", plan), "salt not in shuffle key"


def test_salted_join_semantics(spark):
    """Result set identical to the plain join under extreme skew (every
    fact row the same key), and 'left' preserves unmatched fact rows."""
    from omop_meds_spark.operators.joins import salted_join

    fact = spark.createDataFrame(
        [(1, f"v{i}") for i in range(500)] + [(99, "orphan")], "k long, v string")
    dim = spark.createDataFrame([(1, "one"), (2, "two")], "dk long, name string")
    inner = salted_join(fact, dim, "k", "dk", n_salts=4)
    assert inner.count() == 500
    assert inner.filter(F.col("name") != "one").count() == 0
    left = salted_join(fact, dim, "k", "dk", n_salts=4, how="left")
    assert left.count() == 501
    assert left.filter(F.col("name").isNull()).count() == 1
    # the hot key really does spread: >1 distinct salt over its rows
    salts = (fact.withColumn(
        "s", F.pmod(F.xxhash64(F.struct(*fact.columns)), F.lit(4)))
        .filter(F.col("k") == 1).select("s").distinct().count())
    assert salts > 1


def test_stratified_sample_single_exchange(spark):
    """Per-stratum top-k: one hash exchange on the stratum key, no global
    sort (a global Sort would mean someone rewrote it as orderBy+limit)."""
    plan = _plan(spark, "stratified_sample")
    assert _exchanges(plan) == 1, plan
    assert "rangepartitioning" not in plan, plan


def test_token_packing_single_exchange(spark):
    """Cumulative-sum binning: one hash exchange on source for the window;
    scan pruned to the three consumed columns."""
    plan = _plan(spark, "token_packing")
    assert _exchanges(plan) == 1, plan
    assert "text" not in plan.split("ReadSchema")[-1], plan


def test_scd2_query_single_exchange(spark):
    """The SCD2 queries keep the operator's one-exchange guarantee when
    driven over the real events table."""
    for q in ("scd2_history", "scd2_change_only"):
        plan = _plan(spark, q)
        assert _exchanges(plan) == 1, f"{q}:\n{plan}"


def test_tf_idf_broadcasts_doc_counts(spark):
    """The per-language doc-count side must broadcast (it is |langs| rows);
    the only hash exchanges are the (lang, term) aggregate family and the
    final top-k window over the term dictionary — never a corpus join."""
    plan = _plan(spark, "tf_idf_terms")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan and "NestedLoop" not in plan, plan


def test_keyword_search_filters_before_shuffle(spark):
    """The query-term IN-filter must apply on the exploded stream BEFORE
    the doc-keyed aggregate exchange — the shuffle carries only matching
    postings. One exchange total, no join."""
    plan = _plan(spark, "keyword_search")
    assert _exchanges(plan) == 1, plan
    assert "Join" not in plan, plan
    # the IN-list literal sits between the Exchange and the Generate in the
    # printed tree (parents print first): Exchange … Filter(IN) … Generate
    m = re.search(r"IN \(\s*spark\s*,\s*merge\s*,\s*window\s*\)", plan)
    assert m, plan
    assert plan.index("Exchange") < m.start() < plan.index("Generate"), plan


def test_pii_pseudonymize_zero_exchanges(spark):
    """De-identification is a pure projection: zero exchanges, and the
    scan reads only the four consumed columns."""
    plan = _plan(spark, "pii_pseudonymize")
    assert _exchanges(plan) == 0, plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = set(c.split(":")[0] for c in m.group(1).split(","))
    assert cols == {"c_custkey", "c_name", "c_acctbal", "c_nationkey"}, cols


def test_doc_chunks_zero_exchanges(spark):
    plan = _plan(spark, "doc_chunks")
    # pure projection + generate: no shuffle, no Python, pruned scan
    assert _exchanges(plan) == 0
    assert "Generate" in plan  # the posexplode fan-out
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(c.split(":")[0] for c in m.group(1).split(",")) == {"doc_id", "text"}


def test_funnel_single_exchange_no_joins(spark):
    plan = _plan(spark, "funnel_conversion")
    # ONE user-keyed exchange for the collect_list fold; the relational
    # k-join chain (the oracle) would be k shuffles + joins
    assert _exchanges(plan) == 1
    assert "Join" not in plan
    # the step filter is pushed into the scan
    assert "PushedFilters" in plan and "event_type" in plan


def test_fuzzy_join_broadcasts_catalog_not_corpus(spark):
    plan = _plan(spark, "fuzzy_vocab_match")
    # the non-equi distance predicate makes a BroadcastNestedLoopJoin the
    # RIGHT plan — over the distinct-token dictionary, never the corpus:
    # the distinct aggregate sits BELOW the join
    assert "BroadcastNestedLoopJoin" in plan
    i_agg = plan.find("HashAggregate")
    i_join = plan.find("BroadcastNestedLoopJoin")
    assert 0 <= i_join < i_agg  # executedPlan prints top-down: join above agg


def test_pivot_single_exchange_declared_domain(spark):
    plan = _plan(spark, "event_type_pivot")
    # conditional aggregation over the declared domain = ONE user-keyed
    # exchange with map-side combine (the .pivot() API twin would compile
    # to Catalyst's two-phase rewrite: an extra (user, type) exchange)
    assert _exchanges(plan) == 1
    assert "Join" not in plan and "Generate" not in plan


def test_unpivot_adds_no_exchange(spark):
    plan = _plan(spark, "event_type_unpivot")
    # melt is projection-side row fan-out (Expand) over the pivot's own
    # aggregate — still exactly one exchange end-to-end
    assert _exchanges(plan) == 1
    assert "Expand" in plan or "Generate" in plan


def test_scd2_asof_enrich_no_interval_join(spark):
    plan = _plan(spark, "scd2_asof_enrich")
    # dim dedup agg + ONE carry-forward window partition — tombstones ride
    # the window as payload; never an interval build or a range join
    assert _exchanges(plan) <= 2
    assert "NestedLoop" not in plan
    assert plan.count("Window") >= 1


def test_latency_percentiles_single_exchange(spark):
    plan = _plan(spark, "latency_percentiles")
    assert _exchanges(plan) == 1
    assert "Window" not in plan and "Join" not in plan


def test_hot_key_report_broadcast_totals_no_global_window(spark):
    plan = _plan(spark, "hot_key_report")
    # per-key agg -> 1-row broadcast totals -> top-k; the grand total must
    # NOT be a global unpartitioned window over the keyspace
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row cross join
    assert "TakeOrderedAndProject" in plan    # top-k, never a full sort


def test_value_decile_no_global_sort_or_window(spark):
    plan = _plan(spark, "value_decile_bucketing")
    # decile boundaries come from a 1-row broadcast, never a global
    # unpartitioned ntile window or a full sort
    assert "Window" not in plan
    assert "Sort" not in plan.replace("SortMergeJoin", "")
    assert "BroadcastNestedLoopJoin" in plan
    assert _exchanges(plan) <= 2
