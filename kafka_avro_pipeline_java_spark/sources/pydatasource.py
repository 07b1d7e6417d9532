"""Custom connector via the Python DataSource API (Spark 4).

The reference's only extensibility story is "write another Java consumer";
Spark 4's `pyspark.sql.datasource` lets a user add a whole SOURCE in pure
Python — schema, partition planning, and per-partition readers — and have
it parallelize like any built-in format. This module ships a deterministic
example connector:

- ``hashrange`` — N rows of (id, h) where h is the engine-portable
  md5-derived 60-bit hash of the id (functions/hashing.py semantics, but
  computed in plain Python inside the reader). Deterministic ⇒ the rows a
  cluster produces are a pure function of the options, so even a custom
  connector's OUTPUT is DuckDB-oracle-checkable (plans/relational.py::
  source_python_datasource).

Scale shape: ``partitions()`` returns `parts` input splits; each executor
reader materializes only its own [start, end) slice — the same contract a
real connector (REST pages, Kafka partitions, pre-signed object ranges)
fulfils. Options are strings per the API; unknown options are ignored.

Reference contrast: 03-consumer hand-rolls partition fan-out with a thread
pool (Main.java:28-64); here the engine owns scheduling and the connector
only declares its splits.
"""

from __future__ import annotations

import hashlib

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)


def _hash60(s: str) -> int:
    """First 15 hex chars of md5 as an int — identical to
    functions/hashing.py::portable_hash64 and the DuckDB expression
    CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)."""
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


class _Slice(InputPartition):
    def __init__(self, start: int, end: int):
        self.start, self.end = start, end


class HashRangeReader(DataSourceReader):
    def __init__(self, options):
        self.n = int(options.get("n", "1000"))
        self.parts = max(1, int(options.get("parts", "4")))

    def partitions(self):
        step = -(-self.n // self.parts)  # ceil
        return [
            _Slice(i * step, min(self.n, (i + 1) * step))
            for i in range(self.parts)
            if i * step < self.n
        ]

    def read(self, partition: _Slice):
        for i in range(partition.start, partition.end):
            yield (i, _hash60(str(i)))


class HashRangeDataSource(DataSource):
    """``spark.read.format("hashrange").option("n", "...").load()`` after
    ``spark.dataSource.register(HashRangeDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "hashrange"

    def schema(self) -> str:
        return "id bigint, h bigint"

    def reader(self, schema) -> HashRangeReader:
        return HashRangeReader(self.options)


class HashTickStreamReader(SimpleDataSourceStreamReader):
    """Streaming half of the connector: a Python micro-batch source with
    explicit OFFSET bookkeeping — the contract Kafka's source fulfils
    (initialOffset → read advances the cursor → commit acknowledges),
    expressed in the simple single-partition reader form. Each batch
    emits ``rows_per_batch`` (id, h) rows continuing from the committed
    offset; payloads are the same portable md5 hash, so replays after
    restart are byte-identical — the determinism exactly-once recovery
    needs from a source."""

    def __init__(self, options):
        self.rows_per_batch = int(options.get("rows_per_batch", "5"))

    def initialOffset(self):
        return {"next": 0}

    def read(self, start):
        lo = start["next"]
        hi = lo + self.rows_per_batch
        rows = [(i, _hash60(str(i))) for i in range(lo, hi)]
        return (iter(rows), {"next": hi})

    def readBetweenOffsets(self, start, end):
        # replay path (failure recovery): regenerate the identical rows
        return iter(
            (i, _hash60(str(i))) for i in range(start["next"], end["next"])
        )


class HashTickDataSource(DataSource):
    """``spark.readStream.format("hashticks")...`` — batch format
    ``hashrange``'s streaming sibling; registered by the same
    ``spark.dataSource.register`` call sites."""

    @classmethod
    def name(cls) -> str:
        return "hashticks"

    def schema(self) -> str:
        return "id bigint, h bigint"

    def simpleStreamReader(self, schema) -> HashTickStreamReader:
        return HashTickStreamReader(self.options)
