"""Distribution drift between two table snapshots (north_star; no jesse
analog — SURVEY.md §2.5).

Numeric columns: two-sample Kolmogorov-Smirnov statistic + Population
Stability Index over a histogram with given bin edges — ONE aggregate
over both sides, tagged by side, then column arithmetic on its single
row.

Categorical columns: PSI over the two frequency tables (one groupBy
over both sides, tagged by side).

Both return a one-row DataFrame and collect nothing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_EPS = 1e-6


def _tagged(a: DataFrame, b: DataFrame, value: Column) -> DataFrame:
    """``(_v, _a)`` rows of both sides; ``_a`` is true on side A."""
    return (a.select(value.alias("_v"), F.lit(True).alias("_a"))
            .unionByName(b.select(value.alias("_v"), F.lit(False).alias("_a"))))


def _total(n: Column) -> Column:
    """Sum of a count array, at least 1 (an empty side divides by 1)."""
    s = F.aggregate(n, F.lit(0).cast("long"), lambda acc, x: acc + x)
    return F.greatest(s, F.lit(1).cast("long"))


def _psi(na: Column, nb: Column) -> Column:
    """PSI over two aligned per-bin count arrays:
    Σ (pa - pb) · ln((pa + ε) / (pb + ε)) with p = n / total."""
    ta, tb = _total(na), _total(nb)
    terms = F.zip_with(na, nb, lambda x, y: (x / ta - y / tb)
                       * F.ln((x / ta + _EPS) / (y / tb + _EPS)))
    return F.aggregate(terms, F.lit(0.0), lambda acc, t: acc + t)


def _cdf(n: Column) -> Column:
    """Cumulative share per bin, from integer running counts."""
    t = _total(n)
    return F.transform(n, lambda _, i: F.aggregate(
        F.slice(n, 1, i + 1), F.lit(0).cast("long"), lambda acc, x: acc + x) / t)


def numeric_drift(a: DataFrame, b: DataFrame, col: str,
                  edges: list[float]) -> DataFrame:
    """One row ``(ks, psi, bins)`` comparing ``col`` of side A (the
    baseline) with side B over the histogram cut at ``edges``.

    Bins are left-closed: a value's bin is the number of edges ≤ value,
    so ``len(edges) + 1`` bins in all.  NULL values are dropped.  KS is
    max |CDF_a − CDF_b| over the bin grid."""
    if not edges or any(x >= y for x, y in zip(edges, edges[1:])):
        raise ValueError(f"edges must be non-empty and strictly increasing: {edges!r}")
    v = F.col("_v")
    bucket = F.lit(0)
    for e in edges:
        bucket = bucket + (v >= F.lit(e)).cast("int")
    bins = range(len(edges) + 1)
    h = (_tagged(a, b, F.col(col)).filter(v.isNotNull())
         .select(bucket.alias("_b"), "_a")
         .agg(F.array(*[F.count_if((F.col("_b") == i) & F.col("_a"))
                        for i in bins]).alias("na"),
              F.array(*[F.count_if((F.col("_b") == i) & ~F.col("_a"))
                        for i in bins]).alias("nb")))
    ks = F.array_max(F.zip_with(_cdf(F.col("na")), _cdf(F.col("nb")),
                                lambda x, y: F.abs(x - y)))
    return h.select(ks.alias("ks"), _psi(F.col("na"), F.col("nb")).alias("psi"),
                    F.lit(len(bins)).alias("bins"))


def categorical_psi(a: DataFrame, b: DataFrame, col: str) -> DataFrame:
    """One row ``(psi)`` over the category frequency tables of both
    sides (NULL is one category)."""
    freq = (_tagged(a, b, F.col(col)).groupBy("_v")
            .agg(F.count_if(F.col("_a")).alias("na"),
                 F.count_if(~F.col("_a")).alias("nb")))
    h = freq.agg(F.collect_list(F.struct("na", "nb")).alias("h"))
    return h.select(_psi(F.transform("h", lambda r: r["na"]),
                         F.transform("h", lambda r: r["nb"])).alias("psi"))
