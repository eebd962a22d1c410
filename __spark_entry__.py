"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship CDC upsert over sf0.001.
``queries()`` — one entry per implemented operator (SURVEY.md §2 + the
training-data-pipeline ops); implementations in
``omop_meds_spark/queries.py``.
``oracle_sql()`` — exact DuckDB twins in ``omop_meds_spark/oracles.py``:
EVERY query has one (91/91; zero rows-only entries — the LSH-ANN bucket
math, byte-window frame hashing, and quantized-cosine scoring are all
expressed exactly in SQL).

The driver's per-round gate samples the FIRST 50 ``queries()`` entries;
``ALL_QUERIES`` is ordered by evidence debt (see the comment at its
definition) and ``python tools/parity_check.py`` is the full-91 local gate.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from omop_meds_spark.oracles import ORACLES  # noqa: E402
from omop_meds_spark.queries import ALL_QUERIES  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the CDC apply kernel (last-writer-wins with delete
    tombstones) over the sf0.001 events WAL."""
    from omop_meds_spark.queries import cdc_apply_events

    return cdc_apply_events(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(ALL_QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
