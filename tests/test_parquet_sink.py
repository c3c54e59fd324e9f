"""plans/parquet_sink.py: the crawl's stores are written task by task from
the Python workers, one published file per task that had rows."""

import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from suckit_spark.plans import parquet_sink
from suckit_spark.plans.checkpoint import _partition_rows


class _Task:
    def partitionId(self):
        return 3


@pytest.fixture
def task(monkeypatch):
    import pyspark

    monkeypatch.setattr(pyspark.TaskContext, "get", classmethod(
        lambda cls: _Task()))


def test_partition_file_publishes_on_clean_exit_only(tmp_path, task):
    table = pa.table({"url": ["http://a/", "http://b/"], "n": [1, 2]})
    with parquet_sink.PartitionFile(str(tmp_path)) as out:
        out.write(table)
        out.write(table.slice(0, 0))
        # nothing is visible to a reader until the task's input is done
        assert os.listdir(tmp_path) == [".part-00003-c000.parquet.tmp"]
    assert os.listdir(tmp_path) == ["part-00003-c000.parquet"]
    assert pq.read_table(tmp_path / "part-00003-c000.parquet").equals(table)

    dead = tmp_path / "dead"
    dead.mkdir()
    with pytest.raises(RuntimeError):
        with parquet_sink.PartitionFile(str(dead)) as out:
            out.write(table)
            raise RuntimeError("task killed mid-write")
    assert os.listdir(dead) == []

    # a task with no rows writes no file
    empty = tmp_path / "empty"
    empty.mkdir()
    with parquet_sink.PartitionFile(str(empty)) as out:
        out.write(table.slice(0, 0))
    assert os.listdir(empty) == []


def test_partition_file_converts_pandas_like_map_in_pandas(tmp_path, task):
    """Nulls in an int column (a float64 pandas column) and a list of
    struct dicts convert to the declared Spark types."""
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType, IntegerType, StringType, StructField, StructType,
    )

    schema = StructType([
        StructField("url", StringType()),
        StructField("http_status", IntegerType()),
        StructField("links", ArrayType(StructType([
            StructField("url", StringType()),
            StructField("pos", IntegerType())]))),
    ])
    pdf = pd.DataFrame([
        {"url": "http://a/", "http_status": 200,
         "links": [{"url": "http://a/x", "pos": 0}], "extra": "dropped"},
        {"url": "http://b/", "http_status": None, "links": [],
         "extra": None},
    ])
    with parquet_sink.PartitionFile(str(tmp_path), schema) as out:
        out.write_pandas(pdf)
    got = pq.read_table(tmp_path / "part-00003-c000.parquet")
    assert got.column_names == ["url", "http_status", "links"]
    assert got.schema.field("http_status").type == pa.int32()
    assert got.to_pylist() == [
        {"url": "http://a/", "http_status": 200,
         "links": [{"url": "http://a/x", "pos": 0}]},
        {"url": "http://b/", "http_status": None, "links": []},
    ]


def test_parquet_stage_round_trips_and_overwrites(spark, tmp_path):
    from pyspark.sql import functions as F

    path = str(tmp_path / "frontier")
    os.makedirs(path)
    with open(os.path.join(path, "part-00009-stale.parquet"), "wb") as f:
        f.write(b"left by an earlier run")
    df = (spark.range(0, 50, numPartitions=3)
          .select(F.format_string("http://h%d/", F.col("id") % 7).alias("url"),
                  F.col("id").cast("int").alias("depth"),
                  F.array(F.col("id"), F.lit(1).cast("long"))
                  .alias("order_key")))
    parquet_sink.parquet_stage(df, path, 3).write.format("noop").mode(
        "overwrite").save()
    names = sorted(os.path.basename(f) for f in glob.glob(f"{path}/*"))
    assert names == [f"part-{p:05d}-c000.parquet" for p in range(3)]
    back = spark.read.schema(df.schema).parquet(path)
    assert sorted(back.collect()) == sorted(df.collect())
    assert sum(r["count"] for r in _partition_rows(path)) == 50


def test_commit_writes_one_task_per_arrow_batch(spark, tmp_path):
    """A commit writes frontier and seen in one stage, each table from one
    task per Arrow batch of its rows and never from more tasks than it has
    partitions: a small table is one task, a large one keeps one task per
    partition."""
    from pyspark.sql import functions as F

    from suckit_spark.plans.checkpoint import CrawlCheckpoint

    frontier = spark.range(0, 40, numPartitions=4).select(
        F.format_string("http://h/%d", "id").alias("url"),
        F.lit(1).alias("superstep"))
    seen = spark.range(0, 20, numPartitions=2).select(
        F.format_string("http://s/%d", "id").alias("url"),
        F.lit(0).alias("superstep"))
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    ck = CrawlCheckpoint(spark, str(tmp_path))
    parts = {}
    try:
        for step, batch in enumerate((10_000, 15, 1)):
            spark.conf.set(key, str(batch))
            ck.commit(step, frontier, seen,
                      {"frontier_rows": 40, "new_urls": 20})
            parts[batch] = [
                len(glob.glob(f"{tmp_path}/step={step:06d}/{t}/part-*"))
                for t in ("frontier", "seen")]
            for t, df in (("frontier", frontier), ("seen", seen)):
                back = spark.read.parquet(f"{tmp_path}/step={step:06d}/{t}")
                assert sorted(back.collect()) == sorted(df.collect())
    finally:
        spark.conf.unset(key)
    assert parts == {10_000: [1, 1], 15: [3, 2], 1: [4, 2]}
    assert ck.manifests()[2]["frontier_partition_lineage"] == [
        {"partition": p, "count": 10} for p in range(4)]
