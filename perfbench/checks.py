"""Output checks.

Every mismatch fails except the known gaps named in
``perfbench/known_gaps.json``.  A gap is applied only while it is listed
there, and each listed gap must match a rule implemented here, so
removing an entry makes the check strict again.
"""

from __future__ import annotations

import json
from pathlib import Path

import pandas as pd

HERE = Path(__file__).resolve().parent
GAPS_FILE = HERE / "known_gaps.json"

# violation constraints raised by table-level or payload stages; every
# other expected violation marks its row invalid in the row suite
NOT_ROW_LEVEL = {"not_unique", "external", "schema_not_found"}


def known_gaps() -> dict:
    return json.loads(GAPS_FILE.read_text())


def _undetected_corrupt_audio(gap: dict, n: int) -> set[tuple[str, str, str]]:
    """Corrupt-audio clips (defect kind 7) whose SNR stays above the gate,
    listed by row index in the gap entry (measured for n <= ``max_n``)."""
    from jesse_spark.sources.fixtures import clip_id_of

    if n > gap["max_n"]:
        raise ValueError(f"gap {gap['name']} was measured only up to n={gap['max_n']}")
    return {(clip_id_of(i), "external", "/bytes") for i in gap["rows"] if i < n}


GAP_RULES = {"undetected_corrupt_audio": _undetected_corrupt_audio}


def expected_clip_violations(n: int, workload: str) -> tuple[set, int]:
    """(expected ``(clip_id, constraint, path)`` set, expected invalid
    row count) for ``clips_df(n)``, minus the workload's known gaps."""
    from jesse_spark.sources.fixtures import expected_violations

    exp = expected_violations(n)
    rows = set(map(tuple, exp[["clip_id", "constraint", "path"]].itertuples(index=False)))
    invalid = int((~exp["constraint"].isin(NOT_ROW_LEVEL)).sum())
    for gap in known_gaps().get(workload, []):
        rows -= GAP_RULES[gap["name"]](gap, n)
    return rows, invalid


def diff_sets(got: set, exp: set) -> str:
    """Empty when equal, else a short description of the difference."""
    if got == exp:
        return ""
    missing, extra = sorted(exp - got), sorted(got - exp)
    return (f"{len(missing)} missing (e.g. {missing[:3]}), "
            f"{len(extra)} unexpected (e.g. {extra[:3]})")


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive, float-tolerant canonical form of a result."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return (df.round(6).astype(str)
            .sort_values(by=list(df.columns)).reset_index(drop=True))


def compare_to_oracle(got: pd.DataFrame, exp: pd.DataFrame) -> str:
    """Empty when the Spark result equals the DuckDB oracle's."""
    if sorted(got.columns) != sorted(exp.columns):
        return f"columns {sorted(got.columns)} vs {sorted(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} vs {len(exp)}"
    g, e = canon(got), canon(exp)
    if not g.equals(e):
        return f"{int((g != e).any(axis=1).sum())} rows differ"
    return ""


def oracle_results(sf_dir: Path) -> dict[str, pd.DataFrame]:
    """Every ``oracle_sql()`` entry evaluated on DuckDB over ``sf_dir``."""
    import duckdb

    import __spark_entry__ as entry

    con = duckdb.connect()
    try:
        for t in entry.TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        return {name: con.sql(sql).df() for name, sql in entry.oracle_sql().items()}
    finally:
        con.close()
