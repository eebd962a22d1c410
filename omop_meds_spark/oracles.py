"""DuckDB oracle SQL twins for every query in ``queries.py``.

Each SQL statement is the exact relational semantics of its Spark twin,
written for DuckDB 1.0 over the driver's pre-registered parquet views
(region nation customer supplier part orders lineitem events documents
embeddings). Cross-engine determinism conventions (see queries.py):
DECIMAL-exact aggregation cast to double, md5-based 60-bit hashes,
floor-quantized embeddings, identical aliases.
"""

from __future__ import annotations

from .operators.dedup import DEFAULT_MAX_BUCKET as _MAX_BUCKET


def _md5l(e: str) -> str:
    """60-bit int hash — twin of functions.text.md5_long."""
    return f"(('0x' || substr(md5({e}), 1, 15))::BIGINT)"


TOKS = "regexp_extract_all(lower(text), '[a-z0-9]+')"
_REV = "(l_extendedprice::DECIMAL(18,4) * (1.0::DECIMAL(18,4) - l_discount::DECIMAL(18,4)))"
# A DECIMAL sum reaches DOUBLE through VARCHAR: DuckDB's direct cast of a
# large DECIMAL is not correctly rounded (2702042220.8499002 for the exact
# sum 2702042220.84990000, where Spark gives 2702042220.8499), while its
# text-to-DOUBLE parse is.

ORACLES: dict[str, str] = {}

ORACLES["tpch_q1"] = f"""
SELECT l_returnflag, l_linestatus,
       (SUM(l_quantity::DECIMAL(18,4)))::VARCHAR::DOUBLE AS sum_qty,
       (SUM(l_extendedprice::DECIMAL(18,4)))::VARCHAR::DOUBLE AS sum_base_price,
       (SUM({_REV}))::VARCHAR::DOUBLE AS sum_disc_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""

ORACLES["tpch_q3"] = f"""
SELECT l_orderkey, o_orderdate, o_orderpriority,
       (SUM({_REV}))::VARCHAR::DOUBLE AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '2000-01-01 00:00:00'
  AND l_shipdate  > TIMESTAMP '2000-01-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""

ORACLES["tpch_q5"] = f"""
SELECT n_name, (SUM({_REV}))::VARCHAR::DOUBLE AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'
GROUP BY n_name
"""

ORACLES["cdc_upsert_latest"] = """
SELECT user_id, event_type, ts AS last_ts, value AS last_value, event_id AS last_event_id
FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
WHERE rn = 1
"""

ORACLES["cdc_apply_events"] = """
WITH w AS (
  SELECT *, CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events)
SELECT user_id, ts AS last_ts, event_type AS last_type, value AS last_value
FROM w WHERE rn = 1 AND op <> 'D'
"""

ORACLES["scd2_history"] = """
WITH h AS (
  SELECT user_id, event_id, event_type, value, ts AS valid_from,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
  FROM events)
SELECT user_id, event_id, event_type, value, valid_from, valid_to,
       valid_to IS NULL AS is_current
FROM h WHERE event_type <> 'error'
"""

ORACLES["scd2_change_only"] = """
WITH e AS (
  SELECT user_id, event_id, event_type, value, ts,
         (event_type = 'error') AS is_del
  FROM events),
m AS (
  SELECT *,
         lag(is_del)      OVER w AS p_del,
         lag(event_type)  OVER w AS p_type
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
c AS (
  SELECT * FROM m
  WHERE is_del OR p_del IS NULL OR p_del
        OR (NOT is_del AND event_type IS DISTINCT FROM p_type)),
h AS (
  SELECT *, ts AS valid_from,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
  FROM c)
SELECT user_id, event_id, event_type, value, valid_from, valid_to,
       valid_to IS NULL AS is_current
FROM h WHERE NOT is_del
"""

ORACLES["merge_into_docs"] = """
WITH t AS (SELECT doc_id, lang, source, n_chars FROM documents WHERE doc_id < 400),
     s AS (SELECT doc_id, lang, 'recrawl' AS source,
                  n_chars + (doc_id % 7) AS n_chars
           FROM documents WHERE doc_id >= 200)
SELECT t.doc_id, t.lang,
       CASE WHEN s.doc_id IS NOT NULL AND s.n_chars % 5 <> 0
                 AND s.n_chars > t.n_chars
            THEN s.source ELSE t.source END AS source,
       CASE WHEN s.doc_id IS NOT NULL AND s.n_chars % 5 <> 0
                 AND s.n_chars > t.n_chars
            THEN s.n_chars ELSE t.n_chars END AS n_chars
FROM t LEFT JOIN s ON t.doc_id = s.doc_id
WHERE s.doc_id IS NULL OR s.n_chars % 5 <> 0
UNION ALL
SELECT s.doc_id, s.lang, s.source, s.n_chars
FROM s LEFT JOIN t ON s.doc_id = t.doc_id
WHERE t.doc_id IS NULL
"""

ORACLES["cdc_change_feed"] = """
WITH src AS (
  SELECT user_id, epoch_us(ts) AS seq_no, event_type,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
         event_id, event_id % 2 AS commit_batch
  FROM events),
w AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, commit_batch
                               ORDER BY seq_no DESC, event_id DESC) AS rn
  FROM src)
SELECT user_id, seq_no, event_type, op, commit_batch FROM w WHERE rn = 1
"""

# WAP publish must be byte-identical to a direct apply — the oracle IS the
# direct-apply SQL (twin of queries.wap_staged_apply)
ORACLES["wap_staged_apply"] = """
WITH w AS (
  SELECT *, CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events)
SELECT user_id, ts AS last_ts, event_type AS last_type, value AS last_value
FROM w WHERE rn = 1 AND op <> 'D'
"""

# Bloom-filtered equality read: pruning must be invisible to results —
# the oracle is the plain winner filter (twin of queries.bloom_eq_read)
ORACLES["bloom_eq_read"] = """
WITH w AS (
  SELECT *, CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events)
SELECT user_id, ts AS last_ts, value AS last_value
FROM w WHERE rn = 1 AND op <> 'D' AND event_type = 'purchase'
"""

ORACLES["dedup_earliest"] = """
SELECT o_custkey, o_orderkey AS first_orderkey, o_orderdate AS first_orderdate
FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate ASC, o_orderkey ASC) AS rn
      FROM orders)
WHERE rn = 1
"""

# the salted join must produce the PLAIN join's exact result set — the
# oracle is deliberately the unsalted formulation
ORACLES["skew_salted_join"] = """
SELECT s_name, COUNT(*) AS n_li,
       (SUM(l_quantity::DECIMAL(18,4)))::VARCHAR::DOUBLE AS sum_qty
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_name
"""

ORACLES["semi_join_cohort"] = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
"""

ORACLES["anti_join_orphans"] = """
SELECT c_custkey, c_name
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""

ORACLES["concept_join_preference"] = """
WITH li AS (
  SELECT l_orderkey, l_linenumber,
         nullif(l_partkey, 0) AS l_partkey,
         nullif(l_suppkey, 0) AS l_suppkey
  FROM lineitem),
c AS (
  SELECT p_partkey AS concept_id, p_name AS concept_name,
         p_brand AS vocabulary_id, p_type AS concept_code
  FROM part)
SELECT li.l_orderkey, li.l_linenumber, li.l_partkey, li.l_suppkey,
       COALESCE(CASE WHEN c1.concept_code IS NOT NULL THEN c1.vocabulary_id
                     WHEN c2.concept_code IS NOT NULL THEN c2.vocabulary_id
                END, 'OMOP_lineitem') AS preferred_vocabulary_name,
       COALESCE(c1.concept_code, c2.concept_code,
                concat_ws(':', 'l_partkey',
                          concat_ws(',', li.l_partkey::VARCHAR, li.l_suppkey::VARCHAR))
       ) AS preferred_code
FROM li
LEFT JOIN c c1 ON li.l_partkey = c1.concept_id
LEFT JOIN c c2 ON li.l_suppkey = c2.concept_id
"""

ORACLES["group_count_codes"] = """
SELECT event_type, COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type
"""

ORACLES["preferred_time_resolver"] = """
WITH b AS (
  SELECT event_id,
         CASE WHEN event_type = 'click' THEN NULL ELSE ts END AS pts,
         CASE WHEN value > 400.0 THEN ts + INTERVAL '48 hours' ELSE NULL END AS ov,
         ts::DATE AS pd
  FROM events),
p AS (
  SELECT event_id, ov,
         COALESCE(pts, pd::TIMESTAMP + INTERVAL '23 hours 59 minutes 59 seconds') AS prim
  FROM b)
SELECT event_id,
       CASE WHEN ov IS NOT NULL AND ov > prim THEN ov ELSE prim END AS preferred_time
FROM p
"""

ORACLES["sentinel_dates"] = """
SELECT event_id,
       make_timestamp(
         COALESCE(CASE WHEN y = 0 THEN 1800 ELSE y END, 1900),
         COALESCE(nullif(m, 0), 1),
         COALESCE(nullif(d, 0), 1),
         0, 0, 0.0) AS birth_ts
FROM (SELECT event_id,
             CASE WHEN user_id % 10 = 0 THEN 0
                  WHEN user_id % 11 = 0 THEN NULL
                  ELSE year(ts) END AS y,
             CASE WHEN user_id % 7 = 0 THEN 0 ELSE month(ts) END AS m,
             CASE WHEN user_id % 5 = 0 THEN NULL ELSE day(ts) END AS d
      FROM events)
"""

ORACLES["gender_decode_zero_scrub"] = """
WITH g AS (
  SELECT event_id,
         nullif(([8507, 8532, 0, 1234])[(user_id % 4 + 1)::INT], 0)::BIGINT AS concept_id
  FROM events)
SELECT event_id, concept_id,
       CASE WHEN concept_id = 8507 THEN 'Male'
            WHEN concept_id = 8532 THEN 'Female'
            ELSE concept_id::VARCHAR END AS gender
FROM g
"""

ORACLES["code_templates"] = """
WITH c AS (
  SELECT event_id,
         concat_ws('//', upper(event_type), (user_id % 100)::VARCHAR)
         || CASE WHEN value >= 250.0 THEN '//end' ELSE '//start' END AS code
  FROM events)
SELECT event_id, code, regexp_replace(code, '(//start|//end)$', '') AS base_code
FROM c
"""

ORACLES["union_align"] = """
SELECT l_orderkey, l_linenumber,
       (l_quantity::INT)::DOUBLE AS l_quantity, NULL::DOUBLE AS l_tax
FROM lineitem WHERE l_linenumber % 2 = 0
UNION ALL
SELECT l_orderkey, l_linenumber, l_quantity, l_tax
FROM lineitem WHERE l_linenumber % 2 = 1
"""

ORACLES["json_extract_props"] = """
SELECT event_id, json_extract_string(props, '$.k')::BIGINT AS k FROM events
"""

ORACLES["sessionize"] = """
WITH l AS (
  SELECT user_id, event_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
  FROM events),
f AS (
  SELECT user_id, event_id, ts,
         CASE WHEN pts IS NULL OR epoch_us(ts) - epoch_us(pts) > 1800000000
              THEN 1 ELSE 0 END AS ns
  FROM l)
SELECT user_id, event_id,
       (SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING))::BIGINT AS session_id
FROM f
"""

# the incremental fold must land on exactly the full recompute over the
# final live state: LWW winner per user over the WHOLE stream, tombstones
# out, grouped by the winner's event_type — sums in DECIMAL, cast at the edge
ORACLES["scd2_view_intervals"] = """
WITH w AS (
  SELECT user_id, event_id, event_type, value, ts,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
         row_number() OVER (PARTITION BY user_id, event_id % 2
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events),
v AS (SELECT * FROM w WHERE rn = 1),
h AS (
  SELECT user_id, event_type, value, op,
         epoch_us(ts) AS valid_from,
         lead(epoch_us(ts)) OVER (
             PARTITION BY user_id
             ORDER BY epoch_us(ts), CAST(event_id AS VARCHAR)) AS valid_to
  FROM v)
SELECT user_id, event_type, value, valid_from, valid_to,
       valid_to IS NULL AS is_current
FROM h WHERE op <> 'D'
"""

ORACLES["table_restore"] = """
WITH w AS (
  SELECT *, CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events WHERE event_id % 2 = 0)
SELECT user_id, event_type AS cur_type, value AS cur_value
FROM w WHERE rn = 1 AND op <> 'D'
"""

ORACLES["dml_delete_purge"] = """
WITH w AS (
  SELECT *, CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
  FROM events)
SELECT user_id, event_type AS cur_type, value AS cur_value
FROM w WHERE rn = 1 AND op <> 'D'
  AND event_type NOT IN ('click', 'purchase')
"""

ORACLES["incremental_agg_view"] = """
WITH src AS (
  SELECT user_id, epoch_us(ts) AS seq_no, event_id, event_type, value,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
  FROM events),
w AS (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY seq_no DESC, event_id DESC) AS rn
  FROM src)
SELECT event_type, COUNT(*) AS n_rows,
       (SUM(value::DECIMAL(18,4)))::VARCHAR::DOUBLE AS sum_value
FROM w WHERE rn = 1 AND op <> 'D'
GROUP BY event_type
"""

ORACLES["rollup_order_stats"] = """
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n_orders,
       (SUM(o_totalprice::DECIMAL(18,4)))::VARCHAR::DOUBLE AS total_price
FROM orders
GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
"""

ORACLES["top_orders_per_priority"] = """
SELECT o_orderpriority, o_orderkey, price, rn FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice::DOUBLE AS price,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders)
WHERE rn <= 3
"""

ORACLES["rolling_user_stats"] = """
WITH e AS (
  SELECT user_id, event_id, value,
         date_diff('second', TIMESTAMP '2024-01-01 00:00:00', ts) AS tsec
  FROM events)
SELECT user_id, event_id,
       COUNT(*) OVER w AS n_1h,
       (SUM(value::DECIMAL(18,2)) OVER w)::VARCHAR::DOUBLE
           / (COUNT(*) OVER w)
           AS avg_value_1h
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY tsec
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
"""

ORACLES["median_quantity_by_flag"] = """
SELECT l_returnflag,
       quantile_cont(l_quantity::DOUBLE, 0.5) AS median_qty,
       quantile_cont(l_quantity::DOUBLE, 0.9) AS p90_qty,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
"""

_MEDS_EVENTS = """
  SELECT o_custkey::BIGINT AS subject_id, o_orderdate AS time,
         concat_ws('//', 'ORDER', o_orderstatus) || '//start' AS code,
         o_totalprice AS numeric_value, NULL::VARCHAR AS text_value
  FROM orders
  UNION ALL
  SELECT o_custkey::BIGINT, o_orderdate + INTERVAL '720 hours',
         concat_ws('//', 'ORDER', o_orderstatus) || '//end',
         NULL::DOUBLE, o_orderpriority
  FROM orders
"""

ORACLES["meds_event_explosion"] = f"SELECT * FROM ({_MEDS_EVENTS})"
# the YAML-config-driven twin must produce the IDENTICAL stream
ORACLES["meds_event_explosion_cfg"] = ORACLES["meds_event_explosion"]

ORACLES["meds_code_counts"] = f"""
WITH ev AS ({_MEDS_EVENTS})
SELECT regexp_replace(code, '(//start|//end)$', '') AS base_code,
       COUNT(*) AS occurrence_count,
       COUNT(DISTINCT subject_id) AS n_subjects
FROM ev GROUP BY 1
"""

ORACLES["codes_metadata"] = """
WITH c AS (
  SELECT p_partkey::BIGINT AS concept_id, p_brand AS vocabulary_id,
         p_name AS description, p_type AS concept_code
  FROM part),
rel AS (
  SELECT p_partkey::BIGINT AS concept_id_1,
         ((p_partkey * 7) % 2000 + 1)::BIGINT AS concept_id_2,
         CASE WHEN p_size % 3 = 0 THEN 'Maps to' ELSE 'Subsumes' END AS relationship_id
  FROM part),
pc AS (
  SELECT r.concept_id_1 AS concept_id,
         CASE WHEN (c2.vocabulary_id || '//' || c2.concept_code) IS NOT NULL
              THEN [c2.vocabulary_id || '//' || c2.concept_code] END AS parent_codes
  FROM rel r LEFT JOIN c c2 ON r.concept_id_2 = c2.concept_id
  WHERE r.relationship_id = 'Maps to')
SELECT c.vocabulary_id || '//' || c.concept_id::VARCHAR AS code,
       c.vocabulary_id, c.concept_id, c.description,
       to_json(pc.parent_codes)::VARCHAR AS parent_codes_json
FROM c LEFT JOIN pc USING (concept_id)
"""

ORACLES["care_site_lookup"] = """
SELECT s_suppkey, s_nationkey::BIGINT AS care_site_id, n_name AS care_site_name
FROM supplier LEFT JOIN nation ON s_nationkey = n_nationkey
"""

ORACLES["meds_subject_shards"] = f"""
SELECT user_id AS subject_id, event_id,
       ({_md5l("user_id::VARCHAR")} % 8)::INT AS shard_id,
       row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos
FROM events
"""

ORACLES["asof_join_latest"] = """
WITH dim AS (
  SELECT user_id % 50 AS k, ts AS price_ts, MAX(value) AS price
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
l AS (SELECT event_id, user_id % 50 AS k, ts FROM events)
SELECT l.event_id, l.k, l.ts, d.price_ts AS matched_ts, d.price
FROM l ASOF LEFT JOIN dim d ON l.k = d.k AND l.ts >= d.price_ts
"""

ORACLES["scd2_asof_enrich"] = """
WITH dim AS (
  SELECT user_id, ts AS dim_ts,
         max_by(event_type, event_id) AS t0,
         max_by(value, event_id) AS v0,
         max_by(event_type, event_id) = 'error' AS del
  FROM events WHERE event_id % 2 = 0 GROUP BY 1, 2),
f AS (SELECT event_id, user_id, ts, value AS fact_value
      FROM events WHERE event_id % 2 = 1)
SELECT f.event_id, f.user_id, f.ts, f.fact_value,
       CASE WHEN NOT coalesce(d.del, TRUE) THEN d.dim_ts END AS dim_ts,
       CASE WHEN NOT coalesce(d.del, TRUE) THEN d.t0 END AS dim_type,
       CASE WHEN NOT coalesce(d.del, TRUE) THEN d.v0 END AS dim_value
FROM f ASOF LEFT JOIN dim d ON f.user_id = d.user_id AND f.ts >= d.dim_ts
"""

ORACLES["interval_join_sessions"] = """
WITH iv AS (
  SELECT event_id AS interval_id, user_id % 20 AS k,
         ts AS win_start, ts + INTERVAL '2 hours' AS win_end
  FROM events WHERE event_type = 'signup'),
l AS (SELECT event_id, user_id % 20 AS k, ts FROM events)
SELECT l.event_id, iv.interval_id, l.k, l.ts, iv.win_start
FROM l JOIN iv ON l.k = iv.k AND l.ts >= iv.win_start AND l.ts < iv.win_end
"""

ORACLES["subject_splits"] = f"""
WITH s AS (SELECT DISTINCT user_id AS subject_id FROM events),
h AS (SELECT subject_id, {_md5l("subject_id::VARCHAR")} % 1000 AS b FROM s)
SELECT subject_id,
       CASE WHEN b < 800 THEN 'train'
            WHEN b < 900 THEN 'tuning'
            ELSE 'held_out' END AS split
FROM h
"""

ORACLES["text_features"] = f"""
WITH b AS (
  SELECT doc_id, text,
         length(text) AS char_count,
         len(regexp_extract_all(text, '\\S+')) AS word_count,
         len(regexp_extract_all(text, '[.!?]+')) AS sentence_count,
         len(regexp_extract_all(text, '[.,!?;:\\-()]')) AS punctuation_count,
         len(regexp_extract_all(text, '[0-9]')) AS digit_count,
         len(regexp_extract_all(text, '[A-Z]')) AS uppercase_count,
         len(list_distinct({TOKS})) AS unique_word_count,
         length(regexp_replace(text, '\\s', '', 'g')) AS nonspace,
         len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS token_count
  FROM documents)
SELECT doc_id, char_count, word_count, sentence_count, punctuation_count,
       digit_count, uppercase_count, unique_word_count,
       CASE WHEN word_count > 0 THEN nonspace::DOUBLE / word_count ELSE 0.0 END AS avg_word_length,
       CASE WHEN word_count > 0 THEN unique_word_count::DOUBLE / word_count ELSE 0.0 END AS lexical_diversity,
       token_count
FROM b
"""

# reference-exact NLP semantics (see functions/text.py *_ref block)
_STRIP = "'^[.,!?;:]+|[.,!?;:]+$'"
ORACLES["text_features_ref"] = rf"""
WITH w AS (
  SELECT doc_id, text,
         regexp_extract_all(text, '\S+') AS words,
         len(regexp_extract_all(text, '\S+'))::BIGINT AS word_count,
         len(list_filter(regexp_split_to_array(text, '[.!?]+'),
                         s -> regexp_matches(s, '\S')))::BIGINT AS sentence_count_ref
  FROM documents),
b AS (
  SELECT doc_id, word_count, sentence_count_ref,
         length(text)::BIGINT AS char_count,
         list_aggregate(list_transform(words,
             x -> length(regexp_replace(x, {_STRIP}, '', 'g'))), 'sum') AS strip_total,
         len(list_distinct(list_transform(words,
             x -> regexp_replace(lower(x), {_STRIP}, '', 'g'))))::BIGINT AS unique_word_count_ref,
         len(regexp_extract_all(text, '[.,!?;:\-()"'']'))::BIGINT AS punctuation_count_ref
  FROM w)
SELECT doc_id, word_count, char_count, sentence_count_ref,
       CASE WHEN word_count > 0 THEN strip_total::DOUBLE / word_count
            ELSE 0.0 END AS avg_word_length_ref,
       CASE WHEN sentence_count_ref > 0 THEN word_count::DOUBLE / sentence_count_ref
            ELSE 0.0 END AS avg_sentence_length_ref,
       unique_word_count_ref,
       CASE WHEN word_count > 0 THEN unique_word_count_ref::DOUBLE / word_count
            ELSE 0.0 END AS lexical_diversity_ref,
       punctuation_count_ref
FROM b
"""

_LANG_RX = {
    "en": r"\b(the|and|of|to|is|that|with)\b",
    "de": r"\b(der|die|das|und|ist|nicht|mit)\b",
    "fr": r"\b(le|la|les|et|est|dans|pour)\b",
    "es": r"\b(el|los|las|es|en|para|una)\b",
}
_SCORES = ",\n         ".join(
    f"len(regexp_extract_all(lower(text), '{rx}')) AS s_{lang}"
    for lang, rx in _LANG_RX.items()
)
ORACLES["lang_id"] = f"""
WITH s AS (
  SELECT doc_id,
         {_SCORES}
  FROM documents),
m AS (SELECT doc_id, s_en, s_de, s_fr, s_es,
             greatest(s_en, s_de, s_fr, s_es) AS best FROM s)
SELECT doc_id,
       CASE WHEN best = 0 THEN 'und'
            WHEN s_en = best THEN 'en'
            WHEN s_de = best THEN 'de'
            WHEN s_fr = best THEN 'fr'
            WHEN s_es = best THEN 'es' END AS pred_lang
FROM m
"""

ORACLES["quality_score"] = f"""
WITH b AS (
  SELECT doc_id,
         length(text) AS chars,
         len(regexp_extract_all(text, '\\S+')) AS words,
         len(regexp_extract_all(text, '[A-Za-z]')) AS alpha,
         len(regexp_extract_all(lower(text), '{_LANG_RX["en"]}')) AS stop,
         length(regexp_replace(text, '\\s', '', 'g')) AS nonspace,
         len(regexp_extract_all(text, '[.!?]+')) AS sentences
  FROM documents),
r AS (
  SELECT doc_id,
         CASE WHEN chars > 0 THEN alpha::DOUBLE / chars ELSE 0.0 END AS alpha_ratio,
         least(CASE WHEN words > 0 THEN stop::DOUBLE * 10.0 / words ELSE 0.0 END, 1.0) AS stop_ratio,
         CASE WHEN words > 0 THEN nonspace::DOUBLE / words ELSE 0.0 END AS awl,
         sentences
  FROM b)
SELECT doc_id,
       (alpha_ratio + stop_ratio
        + CASE WHEN awl >= 2.0 AND awl <= 12.0 THEN 1.0 ELSE 0.0 END
        + CASE WHEN sentences > 0 THEN 1.0 ELSE 0.0 END) / 4.0 AS quality
FROM r
"""

ORACLES["token_count_by_source"] = """
SELECT source,
       (SUM(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))))::BIGINT AS total_tokens,
       COUNT(*) AS n_docs
FROM documents GROUP BY source
"""

# tf·idf with idf = n_docs/df (raw ratio, ln-free): score is one exact
# bigint→double convert, one IEEE multiply, one IEEE divide — the same
# three correctly-rounded ops Spark runs, so the doubles are bit-equal
ORACLES["tf_idf_terms"] = f"""
WITH tok AS (
  SELECT lang, doc_id, unnest({TOKS}) AS term FROM documents),
stats AS (
  SELECT lang, term, COUNT(*)::BIGINT AS tf,
         COUNT(DISTINCT doc_id)::BIGINT AS df
  FROM tok GROUP BY lang, term),
nd AS (SELECT lang, COUNT(*)::BIGINT AS n_docs FROM documents GROUP BY lang),
scored AS (
  SELECT s.lang, s.term, s.tf, s.df,
         (s.tf::DOUBLE * n.n_docs) / s.df AS tf_idf
  FROM stats s JOIN nd n USING (lang)),
r AS (SELECT *, row_number() OVER (
        PARTITION BY lang ORDER BY tf_idf DESC, term ASC) AS rnk
      FROM scored)
SELECT lang, term, tf, df, tf_idf, rnk FROM r WHERE rnk <= 10
"""

ORACLES["keyword_search"] = f"""
WITH tok AS (
  SELECT doc_id, unnest({TOKS}) AS term FROM documents),
posting AS (
  SELECT DISTINCT doc_id, term FROM tok
  WHERE term IN ('spark', 'merge', 'window'))
SELECT doc_id, COUNT(*)::BIGINT AS n_hit
FROM posting GROUP BY doc_id HAVING COUNT(*) = 3
"""

ORACLES["pii_pseudonymize"] = """
SELECT c_custkey,
       sha256(c_name) AS name_token,
       substr(c_name, 1, 1) || '***'
         || regexp_replace(substr(c_name, length(c_name) - 2, 3),
                           '[0-9]', '#', 'g') AS name_masked,
       (floor(c_acctbal / 1000) * 1000)::BIGINT AS acctbal_band,
       c_nationkey
FROM customer
"""

ORACLES["doc_fingerprint_dedup"] = f"""
SELECT md5(array_to_string({TOKS}, ' ')) AS fp,
       MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
FROM documents GROUP BY 1
"""

# benchmark decontamination: strict n-grams (docs < n tokens contribute
# nothing — generate_series(1, len-n+1) is empty), gram key = md5_long of
# the space-joined window; eval slice = doc_id % 97 == 0; n=3 to match
# the query (see queries.ngram_decontaminate on why not the production
# 13-gram default). Twin of operators/decontam.contamination_hits.
_GRAMS_DECON = f"""
  SELECT doc_id,
         {_md5l("array_to_string(toks[i:i+2], ' ')")} AS gh
  FROM (SELECT doc_id, {TOKS} AS toks FROM documents),
       unnest(generate_series(1, len(toks) - 2)) AS t(i)
"""
ORACLES["ngram_decontaminate"] = f"""
WITH grams AS ({_GRAMS_DECON}),
ev AS (SELECT DISTINCT gh FROM grams WHERE doc_id % 97 = 0)
SELECT g.doc_id, COUNT(DISTINCT g.gh) AS n_hits
FROM grams g JOIN ev USING (gh)
WHERE g.doc_id % 97 <> 0
GROUP BY g.doc_id
"""

# Gopher repetition gate: every fraction is ONE bigint/bigint division
# (bit-identical doubles); top-word share via per-token frequency (equal
# to the Spark side's max-run-on-sorted-array). Twin of
# functions/text.repetition_features.
ORACLES["gopher_repetition"] = f"""
WITH tok AS (SELECT doc_id, {TOKS} AS toks FROM documents),
freq AS (SELECT doc_id, t, COUNT(*) AS c
         FROM tok, unnest(toks) AS u(t) GROUP BY doc_id, t),
words AS (SELECT doc_id, MAX(c) AS top_cnt, SUM(c) AS n_words,
                 COUNT(*) AS n_distinct
          FROM freq GROUP BY doc_id),
g2 AS (SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS g
       FROM tok, unnest(generate_series(1, len(toks) - 1)) AS t(i)),
gstat AS (SELECT doc_id, COUNT(*) AS n_g, COUNT(DISTINCT g) AS n_dg
          FROM g2 GROUP BY doc_id)
SELECT t.doc_id,
       COALESCE(w.n_words, 0)::BIGINT AS n_words,
       CASE WHEN w.n_words > 0
            THEN (w.n_words - w.n_distinct)::DOUBLE / w.n_words
            ELSE 0.0 END AS dup_word_frac,
       CASE WHEN w.n_words > 0
            THEN w.top_cnt::DOUBLE / w.n_words ELSE 0.0 END AS top_word_frac,
       CASE WHEN g.n_g > 0
            THEN (g.n_g - g.n_dg)::DOUBLE / g.n_g ELSE 0.0 END AS dup_2gram_frac
FROM tok t LEFT JOIN words w USING (doc_id) LEFT JOIN gstat g USING (doc_id)
"""

# composite corpus-prep pass: quality gate -> exact-dedup survivor election
# (arg_min on doc_id per fingerprint) -> per-language rollup; the quality
# and lang CTEs are the same expressions as their standalone oracles, so
# the gate boundary (>= 0.5) compares bit-identical doubles in both engines
ORACLES["corpus_prep_summary"] = f"""
WITH b AS (
  SELECT doc_id,
         length(text) AS chars,
         len(regexp_extract_all(text, '\\S+')) AS words,
         len(regexp_extract_all(text, '[A-Za-z]')) AS alpha,
         len(regexp_extract_all(lower(text), '{_LANG_RX["en"]}')) AS stop,
         length(regexp_replace(text, '\\s', '', 'g')) AS nonspace,
         len(regexp_extract_all(text, '[.!?]+')) AS sentences,
         md5(array_to_string({TOKS}, ' ')) AS fp,
         len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS n_tokens,
         {_SCORES}
  FROM documents),
r AS (
  SELECT doc_id, fp, n_tokens, s_en, s_de, s_fr, s_es,
         CASE WHEN chars > 0 THEN alpha::DOUBLE / chars ELSE 0.0 END AS alpha_ratio,
         least(CASE WHEN words > 0 THEN stop::DOUBLE * 10.0 / words ELSE 0.0 END, 1.0) AS stop_ratio,
         CASE WHEN words > 0 THEN nonspace::DOUBLE / words ELSE 0.0 END AS awl,
         sentences
  FROM b),
scored AS (
  SELECT doc_id, fp, n_tokens,
         (alpha_ratio + stop_ratio
          + CASE WHEN awl >= 2.0 AND awl <= 12.0 THEN 1.0 ELSE 0.0 END
          + CASE WHEN sentences > 0 THEN 1.0 ELSE 0.0 END) / 4.0 AS quality,
         CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
              WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
              WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
              WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
              WHEN s_es = greatest(s_en, s_de, s_fr, s_es) THEN 'es' END AS pred_lang
  FROM r),
surv AS (
  SELECT fp, arg_min(pred_lang, doc_id) AS pred_lang,
         arg_min(n_tokens, doc_id) AS n_tokens
  FROM scored WHERE quality >= 0.5 GROUP BY fp)
SELECT pred_lang, COUNT(*) AS n_docs, (SUM(n_tokens))::BIGINT AS total_tokens
FROM surv GROUP BY pred_lang
"""

_SHINGLES = f"""
  SELECT doc_id, CASE WHEN len(toks) >= 3
              THEN list_transform(range(1, len(toks) - 1),
                                  i -> array_to_string(toks[i:i+2], ' '))
              ELSE [array_to_string(toks, ' ')] END AS shingles
  FROM (SELECT doc_id, {TOKS} AS toks FROM documents)
"""
# universal-hash family — same constants as dedup.MH_A/MH_B/MH_R over one
# md5 base hash per shingle (8x fewer md5s; the per-j XOR re-permutes the
# argmin, see dedup.py). Parity is exact: both engines run identical
# integer arithmetic, overflow-free in 62 bits.
from .operators.dedup import MH_A as _MH_A  # noqa: E402
from .operators.dedup import MH_B as _MH_B  # noqa: E402
from .operators.dedup import MH_R as _MH_R  # noqa: E402

_MH_BASE = "list_transform(shingles, s -> " + _md5l("s") + ")"
_MH = ",\n       ".join(
    f"list_min(list_transform(hs, h -> {_MH_A[j]} * "
    f"(xor(h, {_MH_R[j]}) % 2147483647) + {_MH_B[j]})) AS mh_{j}"
    for j in range(8)
)
ORACLES["minhash_signatures"] = f"""
WITH sh AS ({_SHINGLES}),
hb AS (SELECT doc_id, {_MH_BASE} AS hs FROM sh)
SELECT doc_id,
       {_MH}
FROM hb
"""

_BANDS = "\n    UNION ALL\n".join(
    f"    SELECT doc_id AS id, {b} AS band, "
    + _md5l(f"mh_{2 * b}::VARCHAR || ',' || mh_{2 * b + 1}::VARCHAR")
    + " AS bh FROM sig"
    for b in range(4)
)
ORACLES["minhash_lsh_pairs"] = f"""
WITH sh AS ({_SHINGLES}),
hb AS (SELECT doc_id, {_MH_BASE} AS hs FROM sh),
sig AS (
  SELECT doc_id,
         {_MH}
  FROM hb),
banded_all AS (
{_BANDS}
),
-- degenerate-bucket cap: interpolated from dedup.DEFAULT_MAX_BUCKET so
-- parity can never drift from the Spark side, even when a band bucket
-- exceeds the cap at larger SF
banded AS (
  SELECT b.* FROM banded_all b
  JOIN (SELECT band, bh FROM banded_all GROUP BY band, bh
        HAVING COUNT(*) <= {_MAX_BUCKET}) ok
    ON b.band = ok.band AND b.bh = ok.bh
)
SELECT DISTINCT a.id AS id_a, b.id AS id_b
FROM banded a JOIN banded b ON a.band = b.band AND a.bh = b.bh AND a.id < b.id
"""

# incremental probe twin: the batch (doc_id % 10 = 0) probes the corpus'
# (band, bh) buckets; the cap applies to CORPUS buckets only, mirroring the
# Spark index filter (dedup.minhash_lsh_probe). The shingle/band CTEs are
# the shared fragments re-rooted on each side's filtered relation.
def _shingles_where(pred: str) -> str:
    return _SHINGLES.replace("FROM documents)", f"FROM documents WHERE {pred})")


def _bands_from(sig_name: str) -> str:
    return _BANDS.replace("FROM sig", f"FROM {sig_name}")


ORACLES["lsh_incremental_probe"] = f"""
WITH sh_new AS ({_shingles_where("doc_id % 10 = 0")}),
hb_new AS (SELECT doc_id, {_MH_BASE} AS hs FROM sh_new),
sig_new AS (
  SELECT doc_id,
         {_MH}
  FROM hb_new),
banded_new AS (
{_bands_from("sig_new")}
),
sh_c AS ({_shingles_where("doc_id % 10 <> 0")}),
hb_c AS (SELECT doc_id, {_MH_BASE} AS hs FROM sh_c),
sig_c AS (
  SELECT doc_id,
         {_MH}
  FROM hb_c),
banded_c_all AS (
{_bands_from("sig_c")}
),
banded_c AS (
  SELECT b.* FROM banded_c_all b
  JOIN (SELECT band, bh FROM banded_c_all GROUP BY band, bh
        HAVING COUNT(*) <= {_MAX_BUCKET}) ok
    ON b.band = ok.band AND b.bh = ok.bh
)
SELECT DISTINCT n.id AS new_id, c.id AS corpus_id
FROM banded_new n
JOIN banded_c c ON n.band = c.band AND n.bh = c.bh AND n.id <> c.id
"""

_SIMHASH_TERMS = "\n       + ".join(
    "CASE WHEN COALESCE(list_aggregate(list_transform(hs, "
    f"x -> CASE WHEN (x >> {b}) & 1 = 1 THEN 1 ELSE -1 END), 'sum'), 0) > 0 "
    f"THEN {2**b} ELSE 0 END"
    for b in range(16)
)
ORACLES["simhash_groups"] = f"""
WITH h AS (
  SELECT doc_id,
         list_transform(list_distinct({TOKS}), t -> {_md5l('t')}) AS hs
  FROM documents)
SELECT doc_id,
       ({_SIMHASH_TERMS})::BIGINT AS simhash
FROM h
"""

# jaccard on LSH candidates: the banded-minhash candidate pairs (same CTEs
# as minhash_lsh_pairs) exact-verified by token-set Jaccard.
ORACLES["jaccard_pairs"] = f"""
WITH sh AS ({_SHINGLES}),
hb AS (SELECT doc_id, {_MH_BASE} AS hs FROM sh),
sig AS (
  SELECT doc_id,
         {_MH}
  FROM hb),
banded_all AS (
{_BANDS}
),
banded AS (
  SELECT b.* FROM banded_all b
  JOIN (SELECT band, bh FROM banded_all GROUP BY band, bh
        HAVING COUNT(*) <= {_MAX_BUCKET}) ok
    ON b.band = ok.band AND b.bh = ok.bh
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.bh = b.bh AND a.id < b.id),
t1 AS (
  SELECT doc_id AS id, list_distinct({TOKS}) AS toks
  FROM documents),
p AS (
  SELECT c.id_a, c.id_b,
         CASE WHEN len(list_distinct(list_concat(a.toks, b.toks))) > 0
              THEN len(list_intersect(a.toks, b.toks))::DOUBLE
                   / len(list_distinct(list_concat(a.toks, b.toks)))
              ELSE 0.0 END AS jaccard
  FROM cand c JOIN t1 a ON c.id_a = a.id JOIN t1 b ON c.id_b = b.id)
SELECT id_a, id_b, jaccard FROM p WHERE jaccard >= 0.8
"""

ORACLES["binary_metadata"] = """
SELECT doc_id,
       octet_length(encode(text))::BIGINT AS n_bytes,
       sha256(text) AS sha256,
       lang AS media_lang
FROM documents
"""

ORACLES["windowed_event_counts"] = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
       COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY 1, 2
"""

_CM = """
SELECT doc_id,
       len(string_split(text, chr(10)))::BIGINT AS n_lines,
       octet_length(encode(text))::BIGINT AS n_bytes,
       coalesce(list_max(list_transform(string_split(text, chr(10)),
                                        x -> length(x))), 0)::BIGINT AS max_line_len
FROM documents
"""
ORACLES["content_metrics_udf"] = _CM
ORACLES["content_metrics_jvm"] = _CM

ORACLES["code_mapping_udf"] = """
SELECT doc_id,
       CASE WHEN lang = 'en' THEN 'LANG//english'
            WHEN lang = 'de' THEN 'LANG//german'
            ELSE 'LANG//' || coalesce(lang, 'unknown') END AS lang_code
FROM documents
"""

ORACLES["media_decode"] = """
SELECT doc_id::BIGINT AS media_id,
       CASE WHEN doc_id % 3 = 0 THEN 'image/png'
            WHEN doc_id % 3 = 1 THEN 'audio/wav'
            ELSE 'video/mp4' END AS media_type,
       octet_length(encode(text))::BIGINT AS n_bytes,
       sha256(text) AS sha256,
       (16 + ('0x' || substr(sha256(text), 1, 2))::INT % 240)::BIGINT AS width,
       (16 + ('0x' || substr(sha256(text), 3, 2))::INT % 240)::BIGINT AS height
FROM documents
"""
# media_frame_sample: payloads are ASCII-sanitized in the query (non-
# printable → '?'), so byte windows == character windows and the per-frame
# sha256 is substr + sha256 in SQL. n frames = min(8, max(1, bytes // 64)).
ORACLES["media_frame_sample"] = r"""
WITH m AS (
  SELECT doc_id::BIGINT AS media_id,
         regexp_replace(text, '[^\x20-\x7E]', '?', 'g') AS s
  FROM documents),
n AS (SELECT media_id, s, least(8, greatest(1, length(s) // 64)) AS nf FROM m)
SELECT media_id, r.range AS frame_idx,
       sha256(substr(s, r.range * 64 + 1, 64)) AS frame_sha256
FROM n JOIN range(8) r ON r.range < n.nf
"""

# wav_decode_real: the engine builds a REAL RIFF/WAVE 16-bit-PCM payload
# (one sample per ascii-safe character, sample = (ascii-79)*256) and parses
# it back with a pure-Python decoder; the oracle recomputes the decoded
# aggregates directly from the text — an exact, library-free check of the
# binary encode→decode round trip. Rate interpolated from the module
# constant so parity cannot drift.
from .operators.multimodal import WAV_RATE as _WAV_RATE  # noqa: E402

ORACLES["ppm_decode_real"] = r"""
WITH t AS (
  SELECT doc_id::BIGINT AS media_id,
         regexp_replace(text, '[^\x20-\x7E]', '?', 'g') AS s
  FROM documents),
cx AS (
  SELECT media_id, length(s)::BIGINT AS width,
         list_transform(range(1, length(s) + 1),
                        i -> ascii(substr(s, i, 1))) AS codes
  FROM t)
SELECT media_id, width, 1::BIGINT AS height, 255::BIGINT AS maxval,
       -- R + G = code + (255 - code) = 255 per pixel; B sums separately
       (255 * width
        + COALESCE(list_aggregate(
            list_transform(codes, c -> (c * 7) % 256), 'sum'), 0))::BIGINT
         AS checksum,
       GREATEST(
         COALESCE(list_aggregate(codes, 'max'), 0),
         COALESCE(255 - list_aggregate(codes, 'min'), 0),
         COALESCE(list_aggregate(
           list_transform(codes, c -> (c * 7) % 256), 'max'), 0))::BIGINT
         AS max_px
FROM cx
"""

ORACLES["png_decode_real"] = r"""
WITH t AS (
  SELECT doc_id::BIGINT AS media_id,
         regexp_replace(text, '[^\x20-\x7E]', '?', 'g') AS s
  FROM documents),
cx AS (
  SELECT media_id, length(s)::BIGINT AS width,
         list_transform(range(1, length(s) + 1),
                        i -> ascii(substr(s, i, 1))) AS codes
  FROM t)
SELECT media_id, width, 1::BIGINT AS height, 8::BIGINT AS bit_depth,
       COALESCE(list_aggregate(codes, 'sum'), 0)::BIGINT AS checksum,
       COALESCE(list_aggregate(codes, 'max'), 0)::BIGINT AS max_px
FROM cx
"""

ORACLES["gif_decode_real"] = r"""
WITH t AS (
  SELECT doc_id::BIGINT AS media_id,
         regexp_replace(text, '[^\x20-\x7E]', '?', 'g') AS s
  FROM documents),
cx AS (
  SELECT media_id, length(s)::BIGINT AS width,
         (1 + media_id % 3)::BIGINT AS nf,
         list_transform(range(1, length(s) + 1),
                        i -> ascii(substr(s, i, 1))) AS codes
  FROM t)
SELECT media_id, width, 1::BIGINT AS height, nf AS n_frames,
       (nf * COALESCE(list_aggregate(codes, 'sum'), 0)
        - width * (nf * (nf - 1) // 2))::BIGINT AS checksum,
       COALESCE(list_aggregate(codes, 'max'), 0)::BIGINT AS max_px
FROM cx
"""

ORACLES["gif_frames_real"] = r"""
WITH t AS (
  SELECT doc_id::BIGINT AS media_id,
         regexp_replace(text, '[^\x20-\x7E]', '?', 'g') AS s
  FROM documents),
cx AS (
  SELECT media_id, length(s)::BIGINT AS width,
         (1 + media_id % 3)::BIGINT AS nf,
         list_transform(range(1, length(s) + 1),
                        i -> ascii(substr(s, i, 1))) AS codes
  FROM t)
SELECT media_id, k.range::BIGINT AS frame_idx, width AS n_pixels,
       (COALESCE(list_aggregate(codes, 'sum'), 0)
        - k.range * width)::BIGINT AS frame_checksum
FROM cx JOIN range(3) k ON k.range < cx.nf
"""

ORACLES["wav_decode_real"] = rf"""
WITH t AS (
  SELECT doc_id::BIGINT AS media_id,
         regexp_replace(text, '[^\x20-\x7E]', '?', 'g') AS s
  FROM documents),
smp AS (
  SELECT media_id,
         list_transform(range(1, length(s) + 1),
                        i -> (ascii(substr(s, i, 1)) - 79) * 256) AS samples
  FROM t)
SELECT media_id,
       len(samples)::BIGINT AS n_samples,
       {_WAV_RATE}::BIGINT AS sample_rate,
       (len(samples) * 1000 // {_WAV_RATE})::BIGINT AS duration_ms,
       COALESCE(list_aggregate(list_transform(samples, x -> abs(x)), 'max'), 0)::BIGINT
         AS peak_abs,
       COALESCE(list_aggregate(samples, 'sum'), 0)::BIGINT AS checksum
FROM smp
"""

# LSH ANN: hyperplane weights are the same md5-60-bit arithmetic as the
# minhash SQL ((md5_long(plane|dim) % 2001) - 1000); bucket = sign-bit
# string over the 6 plane projections, ordered by plane; scoring = the
# quantized int dot restricted to same-bucket candidates (twin of
# operators/similarity.py lsh_ann_topk with n_planes=6, dim=64, k=5).
ORACLES["ann_lsh_topk"] = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> floor(x::DOUBLE * 10000)::BIGINT) AS e
  FROM embeddings),
hp AS (
  SELECT p.range::INT AS plane, d.range::INT AS dim,
         (('0x' || substr(md5(p.range::VARCHAR || '|' || d.range::VARCHAR), 1, 15))::BIGINT
          % 2001) - 1000 AS w
  FROM range(6) p, range(64) d),
pl AS (SELECT plane, list(w ORDER BY dim) AS ws FROM hp GROUP BY plane),
proj AS (
  SELECT e.vec_id, pl.plane,
         list_aggregate(list_transform(range(1, 65), i -> e.e[i] * pl.ws[i]), 'sum') AS dot
  FROM e, pl),
b AS (
  SELECT vec_id,
         string_agg(CASE WHEN dot > 0 THEN '1' ELSE '0' END, '' ORDER BY plane) AS bucket
  FROM proj GROUP BY vec_id),
q AS (SELECT e.vec_id AS query_id, e.e AS qe, b.bucket
      FROM e JOIN b USING (vec_id) WHERE vec_id < 10),
c AS (SELECT e.vec_id AS neighbor_id, e.e AS ce, b.bucket
      FROM e JOIN b USING (vec_id)),
s AS (
  SELECT query_id, neighbor_id,
         (list_aggregate(list_transform(range(1, len(qe) + 1), i -> qe[i] * ce[i]),
                         'sum'))::BIGINT AS score
  FROM q JOIN c USING (bucket) WHERE neighbor_id <> query_id),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id) AS rank FROM s)
SELECT query_id, rank, neighbor_id, score FROM r WHERE rank <= 5
"""

# cosine near-dup: same bucket CTEs as ann_lsh_topk; exact quantized cosine
# (int dot + IEEE sqrt/mul/div are bit-identical across engines)
# IVF ANN: centroids = the 8 smallest-vec_id quantized vectors; every vector
# assigned to its nearest centroid (exact int64 L2^2, ties -> lower cid);
# queries probe their 2 nearest cells; scoring = quantized int dot within
# probed cells (twin of operators/similarity.py ivf_topk with
# n_centroids=8, n_probe=2, k=5, dim=64).
ORACLES["ann_ivf_topk"] = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> floor(x::DOUBLE * 10000)::BIGINT) AS e
  FROM embeddings),
cent AS (SELECT vec_id AS cid, e AS ce FROM e ORDER BY vec_id LIMIT 8),
d AS (
  SELECT e.vec_id, cent.cid,
         list_aggregate(list_transform(range(1, 65),
             i -> (e.e[i] - cent.ce[i]) * (e.e[i] - cent.ce[i])), 'sum') AS dist
  FROM e, cent),
assign AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM d) WHERE rn = 1),
qcell AS (
  SELECT vec_id AS query_id, cid AS cell FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM d WHERE vec_id < 10) WHERE rn <= 2),
c AS (SELECT a.vec_id AS neighbor_id, e.e AS ce, a.cell
      FROM assign a JOIN e ON a.vec_id = e.vec_id),
q AS (SELECT vec_id AS query_id, e AS qe FROM e WHERE vec_id < 10),
s AS (
  SELECT qc.query_id, c.neighbor_id,
         (list_aggregate(list_transform(range(1, 65), i -> q.qe[i] * c.ce[i]),
                         'sum'))::BIGINT AS score
  FROM qcell qc JOIN c USING (cell) JOIN q ON q.query_id = qc.query_id
  WHERE c.neighbor_id <> qc.query_id),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id) AS rank FROM s)
SELECT query_id, rank, neighbor_id, score FROM r WHERE rank <= 5
"""

ORACLES["embedding_near_dup"] = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> floor(x::DOUBLE * 10000)::BIGINT) AS e
  FROM embeddings),
hp AS (
  SELECT p.range::INT AS plane, d.range::INT AS dim,
         (('0x' || substr(md5(p.range::VARCHAR || '|' || d.range::VARCHAR), 1, 15))::BIGINT
          % 2001) - 1000 AS w
  FROM range(6) p, range(64) d),
pl AS (SELECT plane, list(w ORDER BY dim) AS ws FROM hp GROUP BY plane),
proj AS (
  SELECT e.vec_id, pl.plane,
         list_aggregate(list_transform(range(1, 65), i -> e.e[i] * pl.ws[i]), 'sum') AS dot
  FROM e, pl),
b AS (
  SELECT vec_id,
         string_agg(CASE WHEN dot > 0 THEN '1' ELSE '0' END, '' ORDER BY plane) AS bucket
  FROM proj GROUP BY vec_id),
q AS (SELECT e.vec_id AS id, e.e, b.bucket FROM e JOIN b USING (vec_id)),
p AS (
  SELECT a.id AS id_a, bb.id AS id_b,
         (list_aggregate(list_transform(range(1, 65), i -> a.e[i] * bb.e[i]), 'sum'))::DOUBLE
         / (sqrt((list_aggregate(list_transform(range(1, 65), i -> a.e[i] * a.e[i]), 'sum'))::DOUBLE)
            * sqrt((list_aggregate(list_transform(range(1, 65), i -> bb.e[i] * bb.e[i]), 'sum'))::DOUBLE))
         AS cosine
  FROM q a JOIN q bb ON a.bucket = bb.bucket AND a.id < bb.id)
SELECT id_a, id_b, cosine FROM p WHERE cosine >= 0.2
"""

_QE = "list_transform(embedding, x -> floor(x::DOUBLE * 10000)::BIGINT)"
ORACLES["embedding_topk"] = f"""
WITH q AS (SELECT vec_id AS query_id, {_QE} AS qe FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, {_QE} AS ce FROM embeddings),
s AS (
  SELECT query_id, neighbor_id,
         (list_aggregate(list_transform(range(1, len(qe) + 1), i -> qe[i] * ce[i]),
                         'sum'))::BIGINT AS score
  FROM q, c WHERE neighbor_id <> query_id),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id) AS rank FROM s)
SELECT query_id, rank, neighbor_id, score FROM r WHERE rank <= 5
"""

# transitive closure over the embedding near-dup pair graph: compose the
# EXACT same pair SQL as a CTE so the cluster oracle can never drift from
# the pair oracle, then walk it with a recursive CTE (cluster id = the
# component's min vec_id; singletons map to themselves)
ORACLES["near_dup_clusters"] = f"""
WITH RECURSIVE pairs AS ({ORACLES["embedding_near_dup"]}),
edges AS (SELECT id_a AS a, id_b AS b FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
walk AS (
  SELECT vec_id AS doc_id, vec_id AS reach FROM embeddings
  UNION
  SELECT w.doc_id, e.b FROM walk w JOIN edges e ON w.reach = e.a
)
SELECT doc_id, min(reach) AS cluster_id FROM walk GROUP BY doc_id
"""

ORACLES["stratified_sample"] = f"""
WITH r AS (
  SELECT lang, doc_id,
         row_number() OVER (PARTITION BY lang
                            ORDER BY {_md5l("doc_id::VARCHAR")}, doc_id) AS sample_rank
  FROM documents)
SELECT lang, doc_id, sample_rank FROM r WHERE sample_rank <= 30
"""

ORACLES["token_packing"] = """
SELECT source, doc_id, n_chars,
       ((SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) - n_chars)
        // 20000)::BIGINT AS bin_id
FROM documents
"""

ORACLES["doc_chunks"] = """
SELECT doc_id,
       (s // 150)::INT  AS chunk_idx,
       s::BIGINT        AS chunk_start,
       substring(text, s::INT + 1, 200) AS chunk_text
FROM (SELECT doc_id, text,
             unnest(range(0, greatest(length(text), 1), 150)) AS s
      FROM documents)
"""

ORACLES["funnel_conversion"] = """
WITH s1 AS (SELECT user_id, min(ts) AS step1_ts FROM events
            WHERE event_type = 'view' GROUP BY user_id),
s2 AS (SELECT e.user_id, min(e.ts) AS step2_ts FROM events e
       JOIN s1 ON e.user_id = s1.user_id
       WHERE e.event_type = 'click' AND e.ts > s1.step1_ts
       GROUP BY e.user_id),
s3 AS (SELECT e.user_id, min(e.ts) AS step3_ts FROM events e
       JOIN s2 ON e.user_id = s2.user_id
       WHERE e.event_type = 'purchase' AND e.ts > s2.step2_ts
       GROUP BY e.user_id)
SELECT s1.user_id, step1_ts, step2_ts, step3_ts
FROM s1 JOIN s2 ON s1.user_id = s2.user_id
        JOIN s3 ON s1.user_id = s3.user_id
"""

ORACLES["fuzzy_vocab_match"] = """
WITH toks AS (
  SELECT DISTINCT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
  FROM documents),
cat(canonical) AS (VALUES ('joyn'), ('skan'), ('colum'), ('windoww'),
                          ('qery'), ('tabel'), ('streem'), ('vectr'))
SELECT token, canonical, levenshtein(token, canonical)::BIGINT AS dist
FROM toks, cat
WHERE abs(length(token) - length(canonical)) <= 1
  AND levenshtein(token, canonical) <= 1
"""

ORACLES["cube_returns"] = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       (SUM(l_quantity::DECIMAL(18,4)))::VARCHAR::DOUBLE AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""

ORACLES["latency_percentiles"] = """
SELECT event_type, count(*) AS n,
       quantile_cont(value, 0.5) AS p50,
       quantile_cont(value, 0.9) AS p90,
       quantile_cont(value, 0.99) AS p99
FROM events GROUP BY 1
"""

ORACLES["hot_key_report"] = """
WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
tot AS (SELECT sum(n) AS total, avg(n) AS avg_n FROM c)
SELECT c.user_id, c.n,
       c.n / tot.total AS share,
       c.n / tot.avg_n AS skew
FROM c, tot
ORDER BY c.n DESC, c.user_id DESC LIMIT 20
"""

ORACLES["ivf_index_search"] = """
WITH qz AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(floor(x::DOUBLE * 10000) AS BIGINT)) AS e
  FROM embeddings),
q AS (SELECT e AS qe FROM qz WHERE vec_id = 7),
cents AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, e AS ce
  FROM qz WHERE vec_id % 2 = 0 ORDER BY vec_id LIMIT 8),
dists AS (
  SELECT z.vec_id, c.cid,
         list_sum(list_transform(list_zip(z.e, c.ce),
                  s -> (s[1] - s[2]) * (s[1] - s[2]))) AS d
  FROM qz z CROSS JOIN cents c),
assign AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
    FROM dists) WHERE rn = 1),
probes AS (
  SELECT c.cid FROM cents c, q
  ORDER BY list_sum(list_transform(list_zip(q.qe, c.ce),
                    s -> (s[1] - s[2]) * (s[1] - s[2]))), c.cid
  LIMIT 3)
SELECT z.vec_id, a.cell::INT AS cell,
       list_sum(list_transform(list_zip(z.e, q.qe),
                s -> s[1] * s[2]))::BIGINT AS score
FROM qz z JOIN assign a USING (vec_id), q
WHERE a.cell IN (SELECT cid FROM probes)
ORDER BY score DESC, z.vec_id
LIMIT 10
"""

ORACLES["ivf_kmeans_search"] = """
WITH qz AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(floor(x::DOUBLE * 10000) AS BIGINT)) AS e
  FROM embeddings),
ev AS (SELECT * FROM qz WHERE vec_id % 2 = 0),
q AS (SELECT e AS qe FROM qz WHERE vec_id = 7),
c0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, e AS ce
  FROM ev ORDER BY vec_id LIMIT 8),
-- Lloyd iteration 1 over the build-time live corpus (even vec_ids):
-- argmin assignment (dist, cid tie order), coordinate-wise floor-integer
-- mean sum//n; empty cells keep their previous centroid via the LEFT JOIN
a1 AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT z.vec_id, c.cid,
           row_number() OVER (PARTITION BY z.vec_id ORDER BY
             list_sum(list_transform(list_zip(z.e, c.ce),
                      s -> (s[1] - s[2]) * (s[1] - s[2]))), c.cid) AS rn
    FROM ev z CROSS JOIN c0 c) WHERE rn = 1),
s1 AS (
  SELECT a.cell, generate_subscripts(z.e, 1) AS p, unnest(z.e) AS v
  FROM ev z JOIN a1 a USING (vec_id)),
m1 AS (
  SELECT cell AS cid, list(CAST(floor(s::DOUBLE / n) AS BIGINT) ORDER BY p) AS ce
  FROM (SELECT cell, p, SUM(v) AS s, COUNT(*) AS n FROM s1 GROUP BY cell, p)
  GROUP BY cell),
c1 AS (SELECT c0.cid, COALESCE(m1.ce, c0.ce) AS ce
       FROM c0 LEFT JOIN m1 USING (cid)),
-- Lloyd iteration 2
a2 AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT z.vec_id, c.cid,
           row_number() OVER (PARTITION BY z.vec_id ORDER BY
             list_sum(list_transform(list_zip(z.e, c.ce),
                      s -> (s[1] - s[2]) * (s[1] - s[2]))), c.cid) AS rn
    FROM ev z CROSS JOIN c1 c) WHERE rn = 1),
s2 AS (
  SELECT a.cell, generate_subscripts(z.e, 1) AS p, unnest(z.e) AS v
  FROM ev z JOIN a2 a USING (vec_id)),
m2 AS (
  SELECT cell AS cid, list(CAST(floor(s::DOUBLE / n) AS BIGINT) ORDER BY p) AS ce
  FROM (SELECT cell, p, SUM(v) AS s, COUNT(*) AS n FROM s2 GROUP BY cell, p)
  GROUP BY cell),
c2 AS (SELECT c1.cid, COALESCE(m2.ce, c1.ce) AS ce
       FROM c1 LEFT JOIN m2 USING (cid)),
-- frozen codebook = c2: assign ALL vectors, probe 3 cells, score top-10
assign AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT z.vec_id, c.cid,
           row_number() OVER (PARTITION BY z.vec_id ORDER BY
             list_sum(list_transform(list_zip(z.e, c.ce),
                      s -> (s[1] - s[2]) * (s[1] - s[2]))), c.cid) AS rn
    FROM qz z CROSS JOIN c2 c) WHERE rn = 1),
probes AS (
  SELECT c.cid FROM c2 c, q
  ORDER BY list_sum(list_transform(list_zip(q.qe, c.ce),
                    s -> (s[1] - s[2]) * (s[1] - s[2]))), c.cid
  LIMIT 3)
SELECT z.vec_id, a.cell::INT AS cell,
       list_sum(list_transform(list_zip(z.e, q.qe),
                s -> s[1] * s[2]))::BIGINT AS score
FROM qz z JOIN assign a USING (vec_id), q
WHERE a.cell IN (SELECT cid FROM probes)
ORDER BY score DESC, z.vec_id
LIMIT 10
"""

ORACLES["value_decile_bucketing"] = """
WITH totals AS (
  SELECT user_id, sum(value) AS total_value, count(*) AS n_events
  FROM events GROUP BY 1),
b AS (SELECT quantile_cont(total_value,
        [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS bs FROM totals)
SELECT t.user_id, t.total_value, t.n_events,
       1 + len(list_filter(b.bs, x -> t.total_value > x)) AS decile
FROM totals t, b
"""

ORACLES["price_histogram"] = """
SELECT floor(l_extendedprice / 5000.0)::BIGINT AS price_bucket,
       COUNT(*) AS n,
       min(l_extendedprice) AS lo,
       max(l_extendedprice) AS hi
FROM lineitem
GROUP BY 1
"""

_PIVOT_WIDE = """
SELECT user_id,
       COUNT(*) FILTER (event_type = 'click')    AS n_click,
       COUNT(*) FILTER (event_type = 'error')    AS n_error,
       COUNT(*) FILTER (event_type = 'purchase') AS n_purchase,
       COUNT(*) FILTER (event_type = 'signup')   AS n_signup,
       COUNT(*) FILTER (event_type = 'view')     AS n_view
FROM events GROUP BY user_id
"""

ORACLES["event_type_pivot"] = _PIVOT_WIDE

ORACLES["event_type_unpivot"] = f"""
WITH wide AS ({_PIVOT_WIDE})
SELECT user_id, metric, n_events
FROM wide UNPIVOT (n_events FOR metric IN
  (n_click, n_error, n_purchase, n_signup, n_view))
"""

ORACLES["cohort_retention"] = """
WITH first AS (SELECT user_id,
                      min(date_trunc('day', ts))::TIMESTAMP AS cohort_day
               FROM events GROUP BY user_id),
act AS (SELECT DISTINCT user_id,
               date_trunc('day', ts)::TIMESTAMP AS day FROM events)
SELECT f.cohort_day,
       date_diff('day', f.cohort_day, a.day)::BIGINT AS day_offset,
       COUNT(DISTINCT a.user_id) AS n_users
FROM act a JOIN first f USING (user_id)
GROUP BY 1, 2
"""
