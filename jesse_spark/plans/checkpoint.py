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
- a completed shard writes one manifest row
  ``(run_id, snapshot_id, shard, rows, invalid_rows, passed,
  wall_sec)``;
- resume = anti-join the shard list against completed manifests for
  the same ``(run_id, snapshot_id)`` and process only the remainder.

``snapshot_id`` is the Iceberg snapshot when available, else a
fingerprint of the input file listing (size+mtime), so a changed input
invalidates old checkpoints.
"""

from __future__ import annotations

import json
import time
import warnings
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_SCHEMA = (
    "run_id string, snapshot_id string, shard int, rows long, "
    "invalid_rows long, passed boolean, wall_sec double, finished_at double"
)


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
    import hashlib

    return hashlib.md5(blob.encode()).hexdigest()


def shard_expr(key: str, num_shards: int):
    """Shard id as a pure function of the key — recomputable on ANY
    DataFrame carrying the key column (violations, reports), which is
    what lets per-shard outputs be written without joins."""
    return F.pmod(F.xxhash64(F.col(key)), F.lit(num_shards)).cast("int")


def with_shard(df: DataFrame, key: str, num_shards: int) -> DataFrame:
    """Deterministic, data-derived shard id — stable across cluster
    sizes (the property that makes checkpoints portable N → 4N)."""
    return df.withColumn("_shard", shard_expr(key, num_shards))


class CheckpointManager:
    def __init__(self, spark: SparkSession, manifest_dir: str):
        self.spark = spark
        self.dir = manifest_dir
        Path(manifest_dir).mkdir(parents=True, exist_ok=True)

    def completed_shards(self, run_id: str, snapshot_id: str) -> list[int]:
        """Shards with a manifest row for ``(run_id, snapshot_id)``.  An
        empty store answers without a Spark job.  An unreadable store
        warns and yields ``[]``: the only consequence is re-processing
        (unlike :meth:`run_totals`, which must raise)."""
        if not any(Path(self.dir).rglob("*.parquet")):
            return []
        try:
            m = self.spark.read.schema(MANIFEST_SCHEMA).parquet(self.dir)
        except Exception as e:
            warnings.warn(f"checkpoint manifests in {self.dir} are unreadable "
                          f"({type(e).__name__}: {e}); re-processing every shard",
                          RuntimeWarning, stacklevel=2)
            return []
        rows = (
            m.filter((F.col("run_id") == run_id) & (F.col("snapshot_id") == snapshot_id))
            .select("shard").distinct().collect()
        )
        return sorted(r["shard"] for r in rows)

    def pending(self, df_sharded: DataFrame, run_id: str, snapshot_id: str) -> DataFrame:
        """Anti-join the data against completed shards (broadcast — the
        manifest is tiny)."""
        done = self.completed_shards(run_id, snapshot_id)
        if not done:
            return df_sharded
        return df_sharded.filter(~F.col("_shard").isin(done))

    def record(self, run_id: str, snapshot_id: str, shard_verdicts: DataFrame,
               wall_sec: float) -> None:
        """shard_verdicts: (shard, rows, invalid_rows, passed)."""
        out = (
            shard_verdicts.withColumn("run_id", F.lit(run_id))
            .withColumn("snapshot_id", F.lit(snapshot_id))
            .withColumn("wall_sec", F.lit(float(wall_sec)))
            .withColumn("finished_at", F.lit(time.time()))
            .select("run_id", "snapshot_id", "shard", "rows", "invalid_rows",
                    "passed", "wall_sec", "finished_at")
        )
        out.write.mode("append").parquet(self.dir)

    def run_totals(self, run_id: str, snapshot_id: str) -> tuple[int, int]:
        """(rows, invalid_rows) across ALL completed shards of the run —
        the verdict a resumed/re-run invocation must report (a completed
        run keeps exiting non-zero if any shard ever saw invalid rows).
        Deduplicates on shard keeping the latest manifest.

        Only a genuinely EMPTY manifest store yields (0, 0); a failed
        read RAISES — the verdict feeds the exit code, and converting a
        corrupt/unreadable manifest into "0 invalid rows, exit 0" would
        report an infrastructure failure as a passing validation run.
        (completed_shards may safely return [] on error: the only
        consequence is re-processing.)"""
        if not any(Path(self.dir).rglob("*.parquet")):
            return 0, 0
        m = self.spark.read.schema(MANIFEST_SCHEMA).parquet(self.dir)
        from pyspark.sql import Window

        w = Window.partitionBy("shard").orderBy(F.desc("finished_at"))
        tot = (
            m.filter((F.col("run_id") == run_id) & (F.col("snapshot_id") == snapshot_id))
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .agg(F.coalesce(F.sum("rows"), F.lit(0)).alias("r"),
                 F.coalesce(F.sum("invalid_rows"), F.lit(0)).alias("i"))
            .head()
        )
        return int(tot["r"]), int(tot["i"])


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
