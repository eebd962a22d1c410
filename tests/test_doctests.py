"""Executable docstring examples (the reference CI runs
``pytest --doctest-modules``, reference .github/workflows/tests.yaml:38).

Only Spark-free modules/functions carry doctests — Column-building code
needs a session and is covered by the main suites — so this collector runs
them without JVM startup cost.
"""

from __future__ import annotations

import doctest

import omop_meds_spark.event_config as event_config
import omop_meds_spark.operators.multimodal as multimodal
import omop_meds_spark.operators.gif as gif
import omop_meds_spark.operators.png as png
import omop_meds_spark.table as table
import omop_meds_spark.verify as verify


def _run(mod) -> None:
    res = doctest.testmod(mod, verbose=False, raise_on_error=False)
    assert res.attempted > 0, f"{mod.__name__}: no doctests collected"
    assert res.failed == 0, f"{mod.__name__}: {res.failed} doctest failures"


def test_table_doctests():
    _run(table)


def test_event_config_doctests():
    _run(event_config)


def test_verify_doctests():
    _run(verify)


def test_multimodal_doctests():
    # the WAV encode/decode helpers are pure Python (struct only)
    _run(multimodal)


def test_vector_index_doctests():
    # the driver-side quantization twin is pure Python — its doctest pins
    # the floor (not round) convention the JVM parity depends on
    import omop_meds_spark.operators.vector_index as vector_index
    _run(vector_index)


def test_png_doctests():
    # the PNG chunk walk and unfilters are pure Python
    _run(png)


def test_gif_doctests():
    # the GIF stack (LZW included) is pure Python
    _run(gif)
