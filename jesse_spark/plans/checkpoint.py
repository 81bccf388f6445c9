"""Resumable runs: per-partition checkpoint manifests.

The reference has no resume story (its "resume" is rerunning a file
list, jesse_cli.erl:80-87).  north_rule requires: runs resumable from a
snapshot + per-partition checkpoint manifests carrying lineage and
validator metrics.

Design (works against Iceberg when the runtime jar is on the
classpath, and against plain parquet in this sandbox):

- the unit of resumability is an **input split group** ("shard"): we
  assign each row a deterministic shard id ``pmod(xxhash64(key), n)``
  so shard membership is a pure function of the data, independent of
  cluster size / task scheduling;
- shards are processed in batches.  A batch writes its outputs to fresh
  ``batch=<id>`` directories, then commits them with one manifest file
  holding a row per shard ``(run_id, snapshot_id, shard, rows,
  invalid_rows, passed, wall_sec, finished_at, batch)``;
- the manifest is the commit log of the outputs, as an Iceberg manifest
  is for its data files: :meth:`CheckpointManager.sweep` deletes, before
  a run starts, any ``batch=<id>`` directory no manifest row names;
- resume = skip the shards with a manifest row for the same
  ``(run_id, snapshot_id)`` and process only the remainder.

``snapshot_id`` is the Iceberg snapshot when available, else a
fingerprint of the input file listing (size+mtime), so a changed input
invalidates old checkpoints.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
import uuid
import warnings
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _manifest_schema():
    import pyarrow as pa

    return pa.schema([
        ("run_id", pa.string()), ("snapshot_id", pa.string()), ("shard", pa.int32()),
        ("rows", pa.int64()), ("invalid_rows", pa.int64()), ("passed", pa.bool_()),
        ("wall_sec", pa.float64()), ("finished_at", pa.float64()), ("batch", pa.string()),
    ])


def input_snapshot_id(spark: SparkSession, path: str) -> str:
    """Snapshot identity of the input.

    - ``iceberg:<table>@<snapshot_id>`` → the pinned snapshot id itself
      (the strongest identity: the manifest is tied to exactly that
      snapshot's data);
    - ``iceberg:<table>`` → the table's CURRENT snapshot id from the
      ``<table>.snapshots`` metadata table (Iceberg runtime required);
    - a filesystem path → a fingerprint of the file listing
      (size+mtime) — the sandbox stand-in; a changed input invalidates
      old checkpoints either way.
    """
    if path.startswith("iceberg:"):
        table, _, snap = path[len("iceberg:"):].partition("@")
        if snap:
            return snap
        row = spark.sql(
            f"SELECT snapshot_id FROM {table}.snapshots "
            "ORDER BY committed_at DESC LIMIT 1").head()
        return str(row["snapshot_id"])
    files = sorted(Path(path).rglob("*.parquet"))
    blob = json.dumps([(str(f), f.stat().st_size, int(f.stat().st_mtime)) for f in files])
    return hashlib.md5(blob.encode()).hexdigest()


def shard_expr(key: str, num_shards: int):
    """Shard id as a pure function of the key — recomputable on ANY
    DataFrame carrying the key column (violations, reports)."""
    return F.pmod(F.xxhash64(F.col(key)), F.lit(num_shards)).cast("int")


def with_shard(df: DataFrame, key: str, num_shards: int) -> DataFrame:
    """Deterministic, data-derived shard id — stable across cluster
    sizes (the property that makes checkpoints portable N → 4N)."""
    return df.withColumn("_shard", shard_expr(key, num_shards))


class CheckpointManager:
    """The manifest store of resumable runs, and the commit log of their
    outputs.  Manifests are small parquet files read and written with
    pyarrow on the driver, so no manifest operation runs a Spark job;
    ``manifest_dir`` must therefore be a driver-local directory."""

    def __init__(self, spark: SparkSession, manifest_dir: str):
        self.spark = spark
        self.dir = manifest_dir
        Path(manifest_dir).mkdir(parents=True, exist_ok=True)

    def _rows(self, run_id: str, snapshot_id: str) -> list[dict]:
        """Manifest rows of ``(run_id, snapshot_id)``; raises on an
        unreadable store.  Files written before the ``batch`` column
        existed read with ``batch = None``."""
        import pyarrow.dataset as ds

        return ds.dataset(self.dir, schema=_manifest_schema(), format="parquet").to_table(
            filter=(ds.field("run_id") == run_id) & (ds.field("snapshot_id") == snapshot_id),
        ).to_pylist()

    def completed_shards(self, run_id: str, snapshot_id: str) -> list[int]:
        """Shards with a manifest row for ``(run_id, snapshot_id)``.  An
        unreadable store warns and yields ``[]``: the only consequence is
        re-processing (unlike :meth:`run_totals`, which must raise)."""
        import pyarrow as pa

        try:
            rows = self._rows(run_id, snapshot_id)
        except (OSError, pa.ArrowException) as e:
            warnings.warn(f"checkpoint manifests in {self.dir} are unreadable "
                          f"({type(e).__name__}: {e}); re-processing every shard",
                          RuntimeWarning, stacklevel=2)
            return []
        return sorted({r["shard"] for r in rows})

    def pending(self, df_sharded: DataFrame, run_id: str, snapshot_id: str) -> DataFrame:
        """The rows of shards that have no manifest yet."""
        done = self.completed_shards(run_id, snapshot_id)
        return df_sharded.filter(~F.col("_shard").isin(done)) if done else df_sharded

    def record(self, run_id: str, snapshot_id: str, shard_verdicts, wall_sec: float,
               batch: str | None = None) -> None:
        """Commit one manifest file: a row per ``(shard, rows, invalid_rows,
        passed)`` tuple of ``shard_verdicts``, tagged with the ``batch``
        whose output directory it commits.  Written under a temporary name
        and renamed: a crash never leaves half a part."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        now = time.time()
        rows = [{"run_id": run_id, "snapshot_id": snapshot_id, "shard": s, "rows": n,
                 "invalid_rows": i, "passed": p, "wall_sec": float(wall_sec),
                 "finished_at": now, "batch": batch}
                for s, n, i, p in shard_verdicts]
        name = f"part-{time.time_ns()}-{uuid.uuid4().hex[:8]}.parquet"
        tmp = Path(self.dir) / f".{name}.tmp"
        pq.write_table(pa.Table.from_pylist(rows, schema=_manifest_schema()), tmp)
        os.replace(tmp, Path(self.dir) / name)

    def run_totals(self, run_id: str, snapshot_id: str) -> tuple[int, int]:
        """(rows, invalid_rows) across ALL completed shards of the run,
        the latest manifest row per shard — the verdict a resumed/re-run
        invocation must report.  Only an EMPTY store yields (0, 0); a
        failed read RAISES, because the verdict feeds the exit code and
        an unreadable manifest must not pass as "0 invalid rows"."""
        rows = sorted(self._rows(run_id, snapshot_id), key=lambda r: r["finished_at"])
        latest = {r["shard"]: r for r in rows}.values()
        return sum(r["rows"] for r in latest), sum(r["invalid_rows"] for r in latest)

    def sweep(self, run_id: str, snapshot_id: str, *roots: str) -> None:
        """Delete every ``batch=<id>`` directory under ``roots`` that no
        manifest row of ``(run_id, snapshot_id)`` names: the output of a
        batch that crashed before :meth:`record` committed it.  Goes
        through the Hadoop FileSystem of each root, so it works wherever
        Spark wrote the outputs.  Raises, deleting nothing, on an
        unreadable store."""
        keep = {r["batch"] for r in self._rows(run_id, snapshot_id)}
        jvm, conf = self.spark._jvm, self.spark._jsc.hadoopConfiguration()
        for root in roots:
            pattern = jvm.org.apache.hadoop.fs.Path(f"{root}/batch=*")
            fs = pattern.getFileSystem(conf)
            for st in fs.globStatus(pattern) or []:
                if st.getPath().getName().partition("=")[2] not in keep:
                    fs.delete(st.getPath(), True)


def shard_verdicts(validated: DataFrame, *, valid_col: str = "valid") -> DataFrame:
    """Per-shard verdict aggregate (requires with_shard upstream)."""
    return (
        validated.groupBy(F.col("_shard").alias("shard"))
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum((~F.col(valid_col)).cast("long")).alias("invalid_rows"),
        )
        .withColumn("passed", F.col("invalid_rows") == 0)
    )
