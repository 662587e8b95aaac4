"""Pluggable Spark 4 Python Data Source for the reference's raw
formats: ``spark.read.format("boatrace").load(glob)`` reads daily
``K/B*.TXT`` files and ``.lzh`` archives (any mix) and emits the
engine's tagged parsed-row schema (``parse/kernel.PARSED_SCHEMA``).

It is the SQL face of the one ingest path, not a second one: each task
reads its files and hands the bytes to ``parse/kernel.parse_bytes``,
the same function the ``binaryFile`` scan (``parse_files``) and the
streaming ingest run. What the DataSourceV2 contract adds is catalog
citizenship — the format is usable from pure SQL (``CREATE TEMPORARY
VIEW r USING boatrace OPTIONS (path ...)``) in any session that
registered it.

Registration is per-session: ``register(spark)`` (idempotent).

Packing: file listing happens once at planning time on the driver
(exactly like Spark's built-in file sources); executors must see the
same filesystem. Each task reads ``FILES_PER_TASK`` consecutive files
of the sorted listing.
"""

from __future__ import annotations

import glob as _glob
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
)
from pyspark.sql.pandas.types import to_arrow_schema

from boatrace_database_spark.parse.kernel import PARSED_SCHEMA, parse_bytes

_ARROW_SCHEMA = to_arrow_schema(PARSED_SCHEMA)
FILES_PER_TASK = 16


class _FilesPartition(InputPartition):
    def __init__(self, paths: list[str]):
        self.paths = paths


class BoatraceReader(DataSourceReader):
    def __init__(self, options: dict):
        path = options.get("path")
        if not path:
            raise ValueError("boatrace source requires a path (glob)")
        self.files = sorted(_glob.glob(path))
        if not self.files:
            raise ValueError(f"boatrace source matched no files: {path}")

    def partitions(self) -> list[InputPartition]:
        return [
            _FilesPartition(self.files[i : i + FILES_PER_TASK])
            for i in range(0, len(self.files), FILES_PER_TASK)
        ]

    def read(self, partition: _FilesPartition) -> Iterator:
        import pyarrow as pa

        for path in partition.paths:
            with open(path, "rb") as fh:
                content = fh.read()
            for out in parse_bytes(path, content):
                yield pa.RecordBatch.from_pandas(
                    out, schema=_ARROW_SCHEMA, preserve_index=False
                )


class BoatraceDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "boatrace"

    def schema(self):
        return PARSED_SCHEMA

    def reader(self, schema) -> BoatraceReader:
        return BoatraceReader(self.options)


def register(spark) -> None:
    """Register the format on this session (idempotent — re-registering
    replaces the entry)."""
    spark.dataSource.register(BoatraceDataSource)
