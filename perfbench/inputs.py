"""The benchmark's own inputs, kept under ``perfbench/.inputs``.

Clips: the deterministic ``clips_df`` fixture, generated once per
(n, fixture version) and then laid out per seed: the seed decides which
file each row lands in and the row order inside it, never the content, so
the fixture goldens hold for every seed.  Each materialization carries a
``_META.json`` and its row count is checked before it is reused.

Operator tables: a read-only copy of the repository's sf0.01 tables in
``perfbench/data/sf0.01``; the seed permutes the query order instead.
"""

from __future__ import annotations

import hashlib
import json
import shutil
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
SF_DIR = HERE / "data" / "sf0.01"
# the fixture's content is a pure function of these files (row generator,
# reference synthesis and codecs), so they key the cache
FIXTURE_SOURCES = ("jesse_spark/sources/fixtures.py", "jesse_spark/functions/audio.py")
CLIP_FILES = 8


def fixture_version(root: Path) -> str:
    h = hashlib.sha1()
    for rel in FIXTURE_SOURCES:
        h.update((root / rel).read_bytes())
    return h.hexdigest()[:12]


def _valid(path: Path, meta: dict) -> bool:
    """Reusable only if the metadata matches and every row is there."""
    import pyarrow.parquet as pq

    try:
        if json.loads((path / "_META.json").read_text()) != meta:
            return False
        rows = sum(pq.ParquetFile(f).metadata.num_rows for f in path.glob("*.parquet"))
    except (OSError, ValueError):
        return False
    return rows == meta["n"]


def clips(get_spark, cache: Path, root: Path, n: int, seed: int, cpus: int) -> tuple[str, float]:
    """Path of the clips table for (n, seed) and the seconds spent
    checking, generating and laying it out in this call.  ``get_spark``
    is called only when the fixture has to be generated."""
    import numpy as np
    import pyarrow.parquet as pq

    from jesse_spark.sources.fixtures import clips_df

    version = fixture_version(root)
    t0 = time.perf_counter()
    base = cache / f"clips_n{n}_v{version}"
    base_meta = {"n": n, "version": version}
    if not _valid(base, base_meta):
        shutil.rmtree(base, ignore_errors=True)
        clips_df(get_spark(), n, partitions=cpus * 4).write.parquet(str(base))
        (base / "_META.json").write_text(json.dumps(base_meta))
    path = cache / f"clips_n{n}_v{version}_seed{seed}"
    meta = {"n": n, "version": version, "seed": seed, "files": CLIP_FILES}
    if not _valid(path, meta):
        # keep one seeded layout per (n, version): the cache stays bounded
        for old in cache.glob(f"clips_n{n}_v{version}_seed*"):
            shutil.rmtree(old, ignore_errors=True)
        table = pq.read_table(base)
        perm = np.random.default_rng(seed).permutation(table.num_rows)
        path.mkdir(parents=True)
        for k, rows in enumerate(np.array_split(perm, CLIP_FILES)):
            pq.write_table(table.take(rows), path / f"part-{k:05d}.parquet")
        (path / "_META.json").write_text(json.dumps(meta))
    return str(path), time.perf_counter() - t0


def oracles(cache: Path, sf_dir: Path) -> tuple[dict, float]:
    """Every ``oracle_sql()`` result over ``sf_dir``, cached as parquet
    keyed by the oracle SQL and the table files, and the seconds spent."""
    import pandas as pd

    import __spark_entry__ as entry

    from checks import oracle_results

    t0 = time.perf_counter()
    sql = entry.oracle_sql()
    h = hashlib.sha1(json.dumps(sql, sort_keys=True).encode())
    for f in sorted(sf_dir.glob("*.parquet")):
        h.update(f.read_bytes())
    path = cache / f"oracles_{h.hexdigest()[:12]}"
    if not (path / "_DONE").exists():
        shutil.rmtree(path, ignore_errors=True)
        path.mkdir(parents=True)
        for name, df in oracle_results(sf_dir).items():
            df.to_parquet(path / f"{name}.parquet")
        (path / "_DONE").touch()
    got = {name: pd.read_parquet(path / f"{name}.parquet") for name in sql}
    return got, time.perf_counter() - t0


def query_order(names: list[str], seed: int) -> list[str]:
    import random

    order = sorted(names)
    random.Random(seed).shuffle(order)
    return order
