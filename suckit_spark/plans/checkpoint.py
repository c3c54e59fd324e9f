"""Per-superstep snapshot commits with exact resume.

The reference has no state saving (README.md:24 lists it as TODO). The
north_rule requires every superstep to commit frontier + seen + lineage +
metrics atomically so a killed crawl resumes exactly. With the Iceberg runtime
jar this would be table snapshots tagged ``superstep=s``; the sandbox has no
Iceberg jars, so the documented fallback gives the same semantics with plain
Parquet. Superstep ``s`` lives under ``<dir>/step=<s>/``:

* ``result/`` — the page store, written by the crawl loop's fetch job (it
  doubles as the loop's spill of content bytes). The crawl log, the mirror
  and the metrics table are lazy views over it, so nothing else stores them.
* ``frontier/`` and ``seen/`` — the next superstep's frontier and this
  superstep's newly-seen URLs, the two tables the commit writes in ONE
  Spark job of one stage. Every store is written task by task from the
  Python workers (``parquet_sink``), one ``part-<partition>-c000.parquet``
  per task.
* ``_manifest_<s>.json`` at the top level, published last by an atomic
  rename: the superstep's stats and the frontier's per-partition row counts,
  read from the written files' parquet footers (Iceberg manifests carry the
  same per-file record counts), so the commit runs no job beyond its
  write.

A superstep is committed iff its manifest exists; resume re-enters at the
highest committed superstep and ignores any later step dir a killed run left
behind (the re-run overwrites it). Supersteps are deterministic, so resume is
exact. Older checkpoints also hold ``crawl_log/`` and ``metrics/`` dirs per
step; resume never reads them.
"""

from __future__ import annotations

import glob
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession

from .parquet_sink import parquet_stage


class CrawlCheckpoint:
    def __init__(self, spark: SparkSession, directory: str):
        self.spark = spark
        self.dir = directory
        os.makedirs(directory, exist_ok=True)

    # -- manifest helpers ---------------------------------------------------
    def _manifest_path(self, step: int) -> str:
        return os.path.join(self.dir, f"_manifest_{step:06d}.json")

    def _step_path(self, step: int, name: str) -> str:
        return os.path.join(self.dir, f"step={step:06d}", name)

    def last_superstep(self) -> int | None:
        steps = []
        for name in os.listdir(self.dir):
            if name.startswith("_manifest_") and name.endswith(".json"):
                steps.append(int(name[len("_manifest_"):-len(".json")]))
        return max(steps) if steps else None

    # -- commit -------------------------------------------------------------
    def commit(self, step: int, frontier: DataFrame, seen_delta: DataFrame,
               stats: dict) -> None:
        """Publish superstep ``step``: write the next ``frontier`` and
        ``seen_delta`` (only this superstep's newly-seen URLs — the seen set
        is stored append-only, the Iceberg shape, so a commit is O(delta),
        never O(total)), then the manifest. The superstep's result store is
        already on disk (the crawl loop wrote it); publishing the manifest
        is what makes it part of the committed snapshot.

        Both tables are written by one Spark job of one stage, each table
        from one task per Arrow batch of its rows (``stats`` holds both row
        counts; a batch is the unit ``mapInArrow`` hands a Python worker)
        and never from more tasks than it has partitions, which is what a
        separate write ran: a small table is one task, a large one keeps a
        task per partition."""
        batch = int(self.spark.conf.get(
            "spark.sql.execution.arrow.maxRecordsPerBatch"))

        def stage(df, name, rows):
            tasks = -(-rows // batch) if batch > 0 else rows  # <= 0: no limit
            return parquet_stage(df, self._step_path(step, name), max(1, tasks))

        stage(frontier, "frontier", stats["frontier_rows"]).union(
            stage(seen_delta, "seen", stats["new_urls"]),
        ).write.format("noop").mode("overwrite").save()
        manifest = {
            "superstep": step,
            "committed_at": time.time(),
            "stats": stats,
            "frontier_partition_lineage": _partition_rows(
                self._step_path(step, "frontier")),
        }
        tmp = self._manifest_path(step) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest_path(step))  # atomic publish

    # -- resume -------------------------------------------------------------
    def load(self, schemas: dict) -> dict:
        """The last committed superstep: its number, manifest ``stats``, its
        ``frontier``, and the ``seen`` store of every committed superstep,
        each read with the given ``schemas[name]``. The result stores are
        the crawl's to read: it reads those of the steps it resumes together
        with the ones it runs."""
        step = self.last_superstep()
        if step is None:
            raise FileNotFoundError(f"no committed superstep under {self.dir}")
        with open(self._manifest_path(step)) as f:
            stats = json.load(f)["stats"]
        read = self.spark.read
        seen = [self._step_path(s, "seen") for s in range(step + 1)]
        return {
            "superstep": step,
            "stats": stats,
            "frontier": read.schema(schemas["frontier"]).parquet(
                self._step_path(step, "frontier")),
            "seen": read.schema(schemas["seen"]).parquet(
                *[p for p in seen if os.path.exists(p)]),
        }

    def manifests(self) -> list[dict]:
        out = []
        step = self.last_superstep()
        if step is None:
            return out
        for s in range(step + 1):
            path = self._manifest_path(s)
            if os.path.exists(path):
                with open(path) as f:
                    out.append(json.load(f))
        return out


def _partition_rows(path: str) -> list[dict]:
    """Per-partition lineage of a written parquet dir: the rows each write
    task produced, from the files' footers (``part-<partition>-…``); tasks
    that wrote no rows are left out."""
    import pyarrow.parquet as pq

    rows: dict[int, int] = {}
    for f in glob.glob(os.path.join(path, "part-*.parquet")):
        part = int(os.path.basename(f).split("-")[1])
        rows[part] = rows.get(part, 0) + pq.ParquetFile(f).metadata.num_rows
    return [{"partition": p, "count": n}
            for p, n in sorted(rows.items()) if n]
