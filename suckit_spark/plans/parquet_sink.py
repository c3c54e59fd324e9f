"""Parquet stores written by the Python workers that hold the rows.

Spark's own writer goes through Hadoop's local file system, which (without
Hadoop's native library) launches a ``chmod`` from the driver JVM for every
file and directory it creates: nine per one-file write, hundreds per crawl.
Each child shares the multi-GB JVM's memory until it execs, so a sampler of
the process tree's RSS that catches one counts the JVM twice. Here each task
that has rows writes one ``part-<partition>-c000.parquet`` with pyarrow,
under a hidden name renamed into place when its input is done: a reader
never sees a partial file, and a retried task replaces its own.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame


def reset_dir(path: str) -> None:
    """Overwrite semantics, on the driver: ``path`` exists and is empty."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)


class PartitionFile:
    """This task's part file under ``path``: published on a clean exit,
    dropped on any exception (an abandoned stage's ``GeneratorExit`` too).
    ``schema`` is the Spark schema pandas batches are converted to."""

    def __init__(self, path: str, schema=None):
        from pyspark import TaskContext
        from pyspark.sql.pandas.types import to_arrow_schema

        name = f"part-{TaskContext.get().partitionId():05d}-c000.parquet"
        self.final = os.path.join(path, name)
        self.tmp = os.path.join(path, f".{name}.tmp")
        self.schema = schema and to_arrow_schema(schema)
        self.writer = None

    def write(self, table) -> None:
        import pyarrow.parquet as pq

        if not table.num_rows:
            return
        if self.writer is None:
            self.writer = pq.ParquetWriter(self.tmp,
                                           self.schema or table.schema)
        self.writer.write_table(table)

    def write_pandas(self, pdf) -> None:
        """Columns not in the schema are left out; casts are unchecked, as
        in PySpark's own conversion of ``mapInPandas`` output."""
        import pyarrow as pa

        self.write(pa.Table.from_pandas(pdf, self.schema, preserve_index=False,
                                        safe=False))

    def __enter__(self) -> "PartitionFile":
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        if self.writer is not None:
            self.writer.close()
            if exc_type is None:
                os.replace(self.tmp, self.final)
            else:
                os.remove(self.tmp)


def parquet_stage(df: DataFrame, path: str, partitions: int) -> DataFrame:
    """The lazy stage that writes ``df`` under ``path`` (emptied now) from
    at most ``partitions`` tasks: its partitions are coalesced, with no
    shuffle, never split. The stage returns no rows, so the caller runs it
    with a ``noop`` write, alone or unioned with other such stages (then one
    Spark stage writes them all, each table from its own tasks)."""
    reset_dir(path)

    def sink(batches):
        import pyarrow as pa

        with PartitionFile(path) as out:
            for batch in batches:
                out.write(pa.Table.from_batches([batch]))
        return iter(())

    return df.coalesce(partitions).mapInArrow(sink, "written long")
