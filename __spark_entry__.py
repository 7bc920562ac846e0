"""Driver contract (PySpark target): ``entry``, ``queries``, ``oracle_sql``.

``entry(spark)`` is a smoke check.  Every ``queries()[name]`` pairs with
``oracle_sql()[name]``, a DuckDB twin; the operator gate is

    python tools/selfcheck.py --sf /root/testdata/sf0.01

which runs each query and compares it against its oracle (row-count +
schema + order-insensitive value hash).

Implementation lives in ``mergeextractor_spark/``; queries register
themselves in ``mergeextractor_spark.registry``.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from mergeextractor_spark.registry import load_all  # noqa: E402
from mergeextractor_spark.session import apply_session_tuning  # noqa: E402

_SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    apply_session_tuning(spark)
    from mergeextractor_spark.plans.extract_pipeline import flagship

    return flagship(spark, _SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {key: q.spark for key, q in load_all().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB twins for every SQL-expressible query; keys without an entry
    get a rows-only check."""
    return {key: q.oracle for key, q in load_all().items() if q.oracle is not None}
