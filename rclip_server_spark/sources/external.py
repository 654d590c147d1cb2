"""ndjson metadata source (reference B11).

The ndjson metadata scan (index_wikimedia.py:180-185) is spark.read.json —
schema inference, predicate pushdown, and parallelism for free — plus a
SEEDED shuffle standing in for the reference's random.shuffle work-order
randomization. The B12 external enumeration is the ``external_enum``
Python DataSource in ``sources/pydatasource.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_ndjson(spark: SparkSession, path: str, shuffle_seed: int | None = None) -> DataFrame:
    """B11: newline-delimited JSON scan; optional seeded random re-ordering
    (the reference shuffles its work list, IW:185 — here a deterministic
    orderBy(rand(seed)) so runs are reproducible)."""
    df = spark.read.json(path)
    if shuffle_seed is not None:
        df = df.orderBy(F.rand(shuffle_seed))
    return df
