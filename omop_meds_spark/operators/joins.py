"""Join vocabulary (reference J1-J9) as reusable DataFrame transforms.

The reference's joins are all equi-joins on integer keys with small
dimension sides (concept, care_site, patient link) — broadcast candidates
(reference: src/OMOP_MEDS/pre_meds_utils.py:224-441, pre_meds.py:252-283).
The factory style (config-parameterized closures returning
``DataFrame -> DataFrame``) mirrors ``join_concept``
(pre_meds_utils.py:318-463).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.codes import determine_concept_id, vocab_default_fill, zero_scrub


def semi_join(fact: DataFrame, cohort: DataFrame, key: str) -> DataFrame:
    """J1/J3: keep fact rows whose key appears in the cohort (broadcast —
    the cohort/patient-link side is small by construction)."""
    return fact.join(F.broadcast(cohort.select(key).distinct()), key, "left_semi")


def anti_join_count(fact: DataFrame, cohort: DataFrame, key: str) -> int:
    """J2: diagnostic — how many fact keys have no cohort match."""
    return fact.join(F.broadcast(cohort.select(key).distinct()), key, "left_anti").count()


def join_concept(
    table_name: str,
    concept_ref_cols: list[str],
    prefer_source: bool = False,
    output_cols: list[str] | None = None,
):
    """J4/J5 + F9/F10 + P5: the reference's central operator, as a factory.

    Returns ``fn(df, concept_df, cohort_df) -> DataFrame`` that:
    1. semi-joins the fact table against the cohort (subject gate),
    2. zero-scrubs the concept reference columns (0 = "no concept"),
    3. left-joins the (broadcast) concept dimension once per reference
       column with suffixed output names,
    4. resolves the preferred (vocabulary, code) pair,
    5. projects a stable, duplicate-free column order.

    Reference: pre_meds_utils.py:318-463; idempotence across calls tested
    like tests/test_join_concept_batch_safety.py.
    """
    ref_cols = list(concept_ref_cols)
    base_output = list(output_cols) if output_cols else None

    def fn(df: DataFrame, concept: DataFrame, cohort: DataFrame | None,
           subject_col: str = "subject_id") -> DataFrame:
        if cohort is not None:
            df = semi_join(df, cohort, subject_col)
        for rc in ref_cols:
            df = df.withColumn(rc, zero_scrub(rc))
        joined = df
        suffixes = []
        for rc in ref_cols:
            # strip the table-name prefix for the suffix, as the reference
            # does (measurement_source_concept_id -> source_concept_id)
            clean = rc.removeprefix(f"{table_name}_")
            suffixes.append(clean)
            cdim = concept.select(
                F.col("concept_id").alias(f"__cid_{clean}"),
                F.col("concept_name").alias(f"concept_name_{clean}"),
                F.col("vocabulary_id").alias(f"vocabulary_id_{clean}"),
                F.col("concept_code").alias(f"concept_code_{clean}"),
            )
            joined = joined.join(
                F.broadcast(cdim), joined[rc] == cdim[f"__cid_{clean}"], "left"
            ).drop(f"__cid_{clean}")

        primary, source = suffixes[0], (suffixes[1] if len(suffixes) > 1 else suffixes[0])
        fallback = F.concat_ws(
            ":", F.lit(ref_cols[0]), F.concat_ws(",", *[F.col(c).cast("string") for c in ref_cols])
        )
        vocab, code = determine_concept_id(
            mapped_vocab=F.col(f"vocabulary_id_{primary}"),
            mapped_code=F.col(f"concept_code_{primary}"),
            source_vocab=F.col(f"vocabulary_id_{source}"),
            source_code=F.col(f"concept_code_{source}"),
            fallback=fallback,
            prefer_source=prefer_source,
        )
        joined = joined.withColumn(
            "preferred_vocabulary_name", vocab_default_fill(vocab, table_name)
        ).withColumn("preferred_code", code)

        # stable-order duplicate-free projection (reference P1)
        ordered = stable_projection(
            joined.columns,
            (base_output or []) + ref_cols + ["preferred_vocabulary_name", "preferred_code"],
            always=[subject_col],
        )
        return joined.select(*ordered)

    return fn


def stable_projection(existing: list[str], wanted: list[str], always: list[str] = ()) -> list[str]:
    """P1: ordered, de-duplicated projection list, skipping absent columns
    (reference: pre_meds_utils.py:443-461)."""
    out: list[str] = []
    for c in list(always) + list(wanted):
        if c in existing and c not in out:
            out.append(c)
    return out


def join_parent_codes(concept: DataFrame, concept_relationship: DataFrame) -> DataFrame:
    """J7: build parent_codes from 'Maps to' relationships
    (reference: pre_meds_utils.py:601-616)."""
    rel = concept_relationship.filter(F.col("relationship_id") == "Maps to")
    target = concept.select(
        F.col("concept_id").alias("concept_id_2"),
        F.concat_ws("//", F.col("vocabulary_id"), F.col("concept_code")).alias("parent_code"),
    )
    mapped = rel.join(F.broadcast(target), "concept_id_2").select(
        F.col("concept_id_1").alias("concept_id"), "parent_code"
    )
    parents = mapped.groupBy("concept_id").agg(
        F.sort_array(F.collect_set("parent_code")).alias("parent_codes")
    )
    return concept.join(parents, "concept_id", "left")


def extract_codes_metadata(concept: DataFrame, concept_relationship: DataFrame) -> DataFrame:
    """J7/F12, reference-faithful: code-metadata table
    (code, vocabulary_id, concept_id, description, parent_codes) exactly as
    the reference builds it (pre_meds_utils.py:574-676):

    * one output row PER 'Maps to' relationship (the reference left-joins
      the un-aggregated relationship frame — a concept with N parents
      yields N rows; no relationship yields one row with null parents),
    * ``parent_codes`` is the parent's ``vocabulary_id//concept_code``
      wrapped as a single-element list (string→list cast semantics:
      null stays null),
    * ``code`` is ``vocabulary_id//concept_id`` of the concept itself.

    The aggregated (sorted, de-duplicated) variant is
    :func:`join_parent_codes` — pick per downstream contract. The parent
    dimension is broadcast (concept is dimension-sized); the rel→base join
    is a keyed equi-join shuffle, linear at scale."""
    base = concept.select(
        F.col("concept_id").cast("long").alias("concept_id"),
        F.col("vocabulary_id"),
        F.col("concept_name").alias("description"),
    )
    parent_dim = concept.select(
        F.col("concept_id").cast("long").alias("concept_id_2"),
        F.concat(F.col("vocabulary_id"), F.lit("//"), F.col("concept_code")).alias("__pc"),
    )
    rels = concept_relationship.filter(F.col("relationship_id") == "Maps to").select(
        F.col("concept_id_1").cast("long").alias("concept_id"),
        F.col("concept_id_2").cast("long").alias("concept_id_2"),
    )
    parents = rels.join(F.broadcast(parent_dim), "concept_id_2", "left").select(
        "concept_id",
        F.when(F.col("__pc").isNotNull(), F.array(F.col("__pc"))).alias("parent_codes"),
    )
    return base.join(parents, "concept_id", "left").select(
        F.concat(F.col("vocabulary_id"), F.lit("//"), F.col("concept_id").cast("string")).alias(
            "code"
        ),
        "vocabulary_id",
        "concept_id",
        "description",
        "parent_codes",
    )


def care_site_enrich(
    fact: DataFrame,
    care_site: DataFrame | None,
    id_col: str = "care_site_id",
    name_col: str = "care_site_name",
) -> DataFrame:
    """J8: broadcast-join care-site names onto a fact table, degrading to
    the raw id when the dimension is unavailable (reference
    pre_meds.py:252-283: missing/unreadable care_site table →
    ``care_site_name = care_site_id``)."""
    if care_site is None:
        return fact.withColumn(name_col, F.col(id_col))
    dim = care_site.select(F.col(id_col), F.col(name_col))
    return fact.join(F.broadcast(dim), id_col, "left")


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Explicitly skew-salted equi-join, for join keys too hot even for
    AQE's post-shuffle skew splitting (AQE splits a skewed PARTITION, but a
    single pathological key still lands every row in one task; salting
    splits the KEY).

    The dimension side is replicated across ``n_salts`` salt values (an
    explode on a literal range — O(|dim| * n_salts), the price of the
    trick, so keep it for genuinely small-to-medium dims); the fact side
    derives a deterministic per-row salt from the full row content, so a
    hot key's rows spread over ``n_salts`` reducers. The join key becomes
    (key, salt) — same result set as the plain join, shuffle fan-in per
    task bounded by 1/n_salts of the hot key.

    Hot GROUPs need no salt: the LWW aggregate's map-side combine
    already bounds them (see operators/upsert.py); this handles hot JOIN
    keys. Identical duplicate fact rows share a salt (content hash) —
    acceptable: real-world hot keys are many DISTINCT rows per key.

    ``how`` supports 'inner' and 'left' (fact-preserving); dim-preserving
    joins would need the salts flipped.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    salt = F.pmod(F.xxhash64(F.struct(*fact.columns)), F.lit(n_salts))
    fact_s = fact.withColumn("__salt", salt)
    dim_s = dim.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    ).withColumn("__salt", F.col("__salt").cast("bigint"))
    joined = fact_s.join(
        dim_s,
        # dataframe-qualified refs: bare F.col(key) is AMBIGUOUS whenever
        # the two sides share the key name (the common fact_key == dim_key
        # case) or any other column name
        (fact_s[fact_key] == dim_s[dim_key]) & (fact_s["__salt"] == dim_s["__salt"]),
        how,
    )
    if fact_key == dim_key:
        joined = joined.drop(dim_s[dim_key])  # match plain `on=` key dedup
    return joined.drop("__salt")


def fuzzy_token_join(
    tokens: DataFrame,
    catalog: DataFrame,
    token_col: str = "token",
    canon_col: str = "canonical",
    max_dist: int = 1,
) -> DataFrame:
    """Approximate-string (edit-distance) join: each distinct token matches
    every catalog entry within ``max_dist`` Levenshtein edits — the
    data-cleaning / entity-resolution primitive (typo'd codes to canonical
    vocabulary, misspelled entity names to a reference list).

    Spark-first shape for the realistic cardinality split (huge corpus
    vocabulary x small canonical catalog):

    * the CORPUS side is first reduced to its distinct-token DICTIONARY —
      one map-side-combining aggregate; the raw corpus never meets the
      fuzzy predicate,
    * the CATALOG side broadcasts; the non-equi predicate makes this a
      BroadcastNestedLoopJoin, which is the RIGHT plan here: |dict| x
      |catalog| comparisons, never corpus-sized,
    * the LENGTH-BAND block (||a|-|b|| <= max_dist, a necessary condition
      of the edit distance) prunes pairs before any DP work, and the
      distance itself is computed with ``F.levenshtein``'s THRESHOLD form
      (Spark 3.5+), which abandons the DP matrix as soon as the bound is
      exceeded (returns -1) instead of paying O(|a|*|b|) per pair.

    For catalog sizes past broadcast range, block both sides on a shared
    key (length band + first char) into an equi-join before the distance
    filter — same semantics, hash-join plan; this function keeps the
    broadcast shape because a canonical vocabulary is by construction
    small.

    Returns (token, canonical, dist), dist <= max_dist.
    """
    toks = tokens.select(F.col(token_col).alias("token")).distinct()
    cat = catalog.select(F.col(canon_col).alias("canonical"))
    # threshold form: early-exits past max_dist and returns -1, so the
    # within-bound result is the exact distance and the predicate is >= 0
    dist = F.levenshtein(F.col("token"), F.col("canonical"), max_dist)
    return (
        toks.join(
            F.broadcast(cat),
            (F.abs(F.length("token") - F.length("canonical")) <= max_dist)
            & (dist >= 0),
        )
        .select("token", "canonical", dist.alias("dist"))
    )
