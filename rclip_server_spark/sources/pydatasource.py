"""Custom Python DataSource (Spark 4 datasource API) for external
enumerations — reference B12 (SURVEY.md §2: a partitioned DataSource is
right when the enumeration itself is large or paginated).

The reference walks MediaWiki category members over HTTP
(index_wikimedia.py:105-109), one page at a time on one machine. As a
DataSource, each PARTITION fetches one page range on an executor: the
enumeration parallelizes, and Spark's planner sees a normal relation it can
project/filter like any other. No network exists in this container, so the
fetch is a deterministic synthesizer with the pagination plumbing real —
swap `_fetch_page` for an HTTP call in production.

Usage:
    spark.dataSource.register(ExternalEnumDataSource)
    df = (spark.read.format("external_enum")
          .option("total", 1000).option("page_size", 100).load())
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StructType


class _PagePartition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


class ExternalEnumReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self.total = int(options.get("total", 1000))
        self.page_size = int(options.get("page_size", 100))

    def partitions(self):
        return [
            _PagePartition(start, min(start + self.page_size, self.total))
            for start in range(0, self.total, self.page_size)
        ]

    def read(self, partition: _PagePartition):
        # executor-side page fetch — deterministic synthesizer standing in
        # for the HTTP category-members call (keeps plumbing testable)
        import hashlib

        for i in range(partition.start, partition.end):
            h = hashlib.md5(str(i).encode()).hexdigest()[:8]
            yield (
                f"File:pic_{i}_{h}.jpg",
                f"http://img.example/commons/pic_{i}_{h}.jpg",
                i,
            )


class ExternalEnumDataSource(DataSource):
    """format name: external_enum"""

    @classmethod
    def name(cls) -> str:
        return "external_enum"

    def schema(self) -> str:
        return "title string, url string, page_index bigint"

    def reader(self, schema: StructType) -> ExternalEnumReader:
        return ExternalEnumReader(schema, self.options)

    def simpleStreamReader(self, schema: StructType) -> "ExternalEnumStreamReader":
        return ExternalEnumStreamReader(self.options)


class ExternalEnumStreamReader(SimpleDataSourceStreamReader):
    """Streaming form of the same enumeration: each micro-batch reads the
    next ``page_size`` indices (the offset is the cursor a paginated API
    hands back — here a plain integer). This is the continuous-ingestion
    front half of a streaming indexer: an external_enum stream feeds a
    foreachBatch upsert, with exactly-once delivery coming from Spark's
    checkpointed offsets plus the idempotent merge.

    `read(start)` is called on the DRIVER (Simple API: no partition
    planning; right for cursor-paginated APIs that cannot be split);
    `readBetweenOffsets` replays a committed range after restart, which a
    deterministic fetch makes trivially consistent."""

    def __init__(self, options: dict):
        self.total = int(options.get("total", 1000))
        self.page_size = int(options.get("page_size", 100))

    def initialOffset(self) -> dict:
        return {"index": 0}

    def _rows(self, start: int, end: int):
        import hashlib

        for i in range(start, end):
            h = hashlib.md5(str(i).encode()).hexdigest()[:8]
            yield (
                f"File:pic_{i}_{h}.jpg",
                f"http://img.example/commons/pic_{i}_{h}.jpg",
                i,
            )

    def read(self, start: dict):
        # a LIST-iterator, not a generator: Spark's prefetch cache
        # copy.copy()s the returned iterator between micro-batch planning
        # and execution, and generators are neither copyable nor picklable
        lo = int(start["index"])
        hi = min(lo + self.page_size, self.total)
        return iter(list(self._rows(lo, hi))), {"index": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(list(self._rows(int(start["index"]), int(end["index"]))))


def register(spark) -> None:
    spark.dataSource.register(ExternalEnumDataSource)
