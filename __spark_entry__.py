"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

The registry lives in ``quality_filter.entry_queries``; the DuckDB oracle
SQL is *generated from the same frozen constants* as the Spark expressions
(quality_filter.sqlgen) so the two sides cannot drift.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: derive turn-grained
    transcripts from documents, score with the native rule engine, filter
    out every non-Clean turn, scrub PII, reassemble conversations under
    stable (conv_id, turn_idx) order."""
    from quality_filter.entry_queries import QUERIES

    return QUERIES["full_clean_reassemble"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from quality_filter.entry_queries import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    from quality_filter.entry_queries import ORACLES

    q = queries()
    return {n: ORACLES[n] for n in q if n in ORACLES}
