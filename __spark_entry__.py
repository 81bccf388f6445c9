"""Driver contract: entry / queries / oracle_sql.

Each ``queries()`` entry exercises one engine operator (SURVEY.md §2 or
a north_star/training-data addition) over the driver's TPC-H-ish
parquet tables; ``oracle_sql()`` holds the DuckDB-equivalent ANSI SQL.
Column names and types are aligned on both sides (sizes cast to bigint,
floats rounded) because the driver hash-compares values per column.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_SF = "/root/testdata/sf0.001"

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# the jesse-keyword constraint suite instantiated on the documents table
DOCS_SCHEMA = {
    "$schema": "http://json-schema.org/draft-06/schema#",
    "type": "object",
    "required": ["doc_id", "text", "lang", "source", "n_chars"],
    "properties": {
        "doc_id": {"type": "integer", "minimum": 0},
        "text": {"type": "string", "minLength": 60, "maxLength": 500},
        "lang": {"type": "string", "enum": ["en", "de", "fr", "es"]},
        "source": {"type": "string", "pattern": "^src[0-9]$"},
        "n_chars": {"type": "integer", "minimum": 60, "maximum": 500},
    },
}


# ---------------------------------------------------------------------------
# flagship: full keyword suite compiled + executed, violations per constraint
# ---------------------------------------------------------------------------
def q_validate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jesse_spark import validate

    docs = _t(spark, sf_dir, "documents")
    res = validate(docs, DOCS_SCHEMA, ["doc_id"])
    return (
        res.violations.groupBy("constraint", "path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("violations"))
        .select(F.col("constraint").alias("constraint_code"), "path", "violations")
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: compile + run the full constraint suite on sf0.001
    documents and aggregate violations per (constraint, path)."""
    return q_validate_documents(spark, DEFAULT_SF)


# ---------------------------------------------------------------------------
# per-operator queries
# ---------------------------------------------------------------------------
def q_stats_single_pass(spark, sf_dir):
    from jesse_spark.operators.stats import column_stats

    li = _t(spark, sf_dir, "lineitem")
    # metrics subset: the stack() unpivot blocks column pruning, so
    # without it the pass also builds KLL sketches + HLL registers per
    # row that this query never reads (r6; outputs unchanged)
    s = column_stats(li, ["l_quantity", "l_extendedprice", "l_discount"],
                     metrics=("non_null", "null_rate", "min", "max", "mean"))
    return s.select(
        F.col("column").alias("column_name"),
        F.col("non_null").cast("bigint").alias("non_null"),
        F.round("null_rate", 6).alias("null_rate"),
        F.round("min", 6).alias("min_v"),
        F.round("max", 6).alias("max_v"),
        F.round("mean", 6).alias("mean_v"),
    )


def q_stats_quantiles(spark, sf_dir):
    """KLL quantiles, oracled in the EXACT regime (VERDICT r4 advice
    #1): supplier has n=100 (sf0.01) / n=1000 (sf0.1) rows, far below
    the sketch k=4096, so the sketch retains every value and
    get_quantile (DataSketches inclusive rank) is exactly the smallest
    value whose cume_dist >= q — which the DuckDB oracle computes
    literally.  Covers BOTH paths: qv_direct is the one-pass global
    sketch, qv_merged goes per-shard sketches -> merge_quantile_sketches
    -> sketch_quantiles (the resumable-checkpoint merge primitive);
    both must equal the exact answer.  s_nationkey is tie-heavy on
    purpose (25 distinct over 100+ rows) to pin the inclusive-rank tie
    rule."""
    from jesse_spark.operators.stats import (
        merge_quantile_sketches,
        quantile_sketches,
        sketch_quantiles,
    )

    qs, k, cols = [0.25, 0.5, 0.75, 0.95, 0.99], 4096, \
        ["s_acctbal", "s_nationkey"]
    sup = _t(spark, sf_dir, "supplier")
    # r6 job-count restructure (same math, same operators, same rows):
    # the direct one-pass sketches and the shard->merge sketches are
    # cross-joined into ONE 1-row frame, so sketch_quantiles makes a
    # single collect + a single evaluation job for all four sketch
    # columns instead of two of each; the 10-row result is then
    # assembled with transform/flatten/explode over the quantile
    # arrays — no per-column posexplode joins.  1.5 s -> ~0.6 s at
    # sf1.0 (was ~8 Spark jobs per run, now 3).
    direct_sk = quantile_sketches(sup, cols, k=k)
    sharded = sup.withColumn("_shard", F.pmod(F.hash("s_suppkey"), F.lit(8)))
    per_shard = sharded.groupBy("_shard").agg(*[
        F.kll_sketch_agg_double(F.col(c).cast("double"), F.lit(k)).alias(c)
        for c in cols])
    merged_sk = merge_quantile_sketches(per_shard.select(*cols), cols) \
        .select(*[F.col(c).alias(f"__m_{c}") for c in cols])
    both = sketch_quantiles(direct_sk.crossJoin(merged_sk),
                            cols + [f"__m_{c}" for c in cols], tuple(qs))
    q_arr = F.array(*[F.lit(q) for q in qs])
    parts = []
    for c in cols:
        d, m = F.col(c), F.col(f"__m_{c}")
        # a column yields rows only when BOTH paths produced a sketch
        # (posexplode-join semantics of the r5 formulation)
        parts.append(F.when(
            d.isNotNull() & m.isNotNull(),
            F.transform(
                F.sequence(F.lit(1), F.lit(len(qs))),
                lambda i: F.struct(
                    F.lit(c).alias("column_name"),
                    F.round(F.element_at(q_arr, i), 6).alias("q"),
                    F.round(F.element_at(d, i), 6).alias("qv_direct"),
                    F.round(F.element_at(m, i), 6).alias("qv_merged"),
                ),
            ),
        ).otherwise(F.array().cast(
            "array<struct<column_name:string,q:double,"
            "qv_direct:double,qv_merged:double>>")))
    return (both.select(F.explode(F.flatten(F.array(*parts))).alias("r"))
            .select("r.column_name", "r.q", "r.qv_direct", "r.qv_merged"))


def q_uniqueness_dup_keys(spark, sf_dir):
    from jesse_spark.operators.uniqueness import find_duplicates

    li = _t(spark, sf_dir, "lineitem")
    return find_duplicates(li, "l_orderkey").select(
        "l_orderkey", F.col("dup_count").cast("bigint").alias("dup_count"))


def q_uniqueness_dup_keys_salted(spark, sf_dir):
    """Same answer as uniqueness_dup_keys through the two-level salted
    aggregation (operators/skew.py discipline) — the oracle proves the
    skew-safe path returns identical results."""
    from jesse_spark.operators.uniqueness import find_duplicates

    li = _t(spark, sf_dir, "lineitem")
    return find_duplicates(li, "l_orderkey", salted=True).select(
        "l_orderkey", F.col("dup_count").cast("bigint").alias("dup_count"))


def q_uniqueness_gate(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.agg(
        F.count("o_orderkey").cast("bigint").alias("cnt"),
        F.countDistinct("o_orderkey").cast("bigint").alias("distinct_cnt"),
    ).select("cnt", "distinct_cnt",
             (F.col("cnt") == F.col("distinct_cnt")).alias("is_unique"))


def q_ri_orphans(spark, sf_dir):
    from jesse_spark.operators.integrity import ri_violations

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 3 != 0)
    return ri_violations(o, "o_custkey", c, "c_custkey").select(
        "o_orderkey", "o_custkey")


def q_ri_semi_count(spark, sf_dir):
    from jesse_spark.operators.integrity import ri_valid

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    # distinct_ref=False: o_orderkey is the orders PK, so the semi join
    # needs no pre-dedup shuffle of the reference side (r6)
    return ri_valid(li, "l_orderkey", o, "o_orderkey", broadcast_ref=False,
                    distinct_ref=False).agg(
        F.count(F.lit(1)).cast("bigint").alias("valid_rows"))


def q_enum_violations(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    allowed = ["click", "view", "purchase", "signup"]
    return ev.filter(~F.col("event_type").isin(allowed)).select(
        "event_id", "event_type")


def q_range_filter(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.filter((F.col("l_quantity") >= 45) & (F.col("l_quantity") <= 50)).select(
        "l_orderkey", "l_linenumber", "l_quantity")


def q_multiple_of(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(F.pmod(F.col("l_quantity"), F.lit(5.0)) == 0).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"))


def q_length_check(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.filter(F.length("text") > 400).select(
        "doc_id", F.length("text").cast("bigint").alias("text_len"))


def q_pattern_match(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.filter(F.col("text").rlike("window.*filter")).select("doc_id")


def q_required_nulls(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    aggs, names = [], ["doc_id", "text", "lang", "source", "n_chars"]
    for c in names:
        aggs.append(F.sum(F.col(c).isNull().cast("bigint")).alias(c))
    one = d.agg(*aggs)
    parts = ", ".join(f"'{c}', `{c}`" for c in names)
    return one.selectExpr(f"stack({len(names)}, {parts}) as (column_name, nulls)")


def q_kvc_aggregates(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.count(F.lit(1)).cast("bigint").alias("count_order"),
        )
    )


def q_window_agg(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH").alias("hour"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("events"),
             F.round(F.sum("value"), 4).alias("sum_value"))
    )


def _drift(spark, sf_dir):
    """numeric_drift of events.value between its even and odd event_id
    halves, over fixed histogram edges."""
    from jesse_spark.operators.drift import numeric_drift

    ev = _t(spark, sf_dir, "events")
    return numeric_drift(ev.filter(F.col("event_id") % 2 == 0),
                         ev.filter(F.col("event_id") % 2 == 1),
                         "value", [10, 25, 50, 100, 200])


def q_drift_psi(spark, sf_dir):
    return _drift(spark, sf_dir).select(F.round("psi", 4).alias("psi"))


def q_drift_ks(spark, sf_dir):
    """Two-sample KS statistic (max |CDF_a - CDF_b|) over the same
    histogram, in millionths."""
    return _drift(spark, sf_dir).select(
        F.floor(F.col("ks") * 1000000 + 0.5).cast("bigint").alias("ks_x1e6"))


def q_dedup_exact(spark, sf_dir):
    from jesse_spark.operators.dedup import exact_duplicates

    d = _t(spark, sf_dir, "documents").withColumn(
        "prefix", F.substring("text", 1, 30))
    return exact_duplicates(d, "prefix", "doc_id").select(
        "text_hash", F.col("dup_count").cast("bigint").alias("dup_count"),
        F.col("min_id").cast("bigint").alias("min_id"))


def q_dedup_keep_first(spark, sf_dir):
    from jesse_spark.operators.dedup import drop_exact_duplicates

    d = _t(spark, sf_dir, "documents").withColumn(
        "prefix", F.substring("text", 1, 30))
    return drop_exact_duplicates(d, "prefix", "doc_id").select("doc_id")


def q_unique_tokens(spark, sf_dir):
    from jesse_spark.session import ensure_parallelism

    # same single-scan-task consideration as q_token_counts (r6);
    # contains_token and window_agg were A/B'd too and LOSE with a
    # repartition (filter/agg-bound) — left on the plain scan
    d = ensure_parallelism(_t(spark, sf_dir, "documents"))
    toks = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct"),
    )


def q_contains_token(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.filter(F.array_contains(F.split(F.col("text"), " "), "spark")).select("doc_id")


def q_token_counts(spark, sf_dir):
    from jesse_spark.session import ensure_parallelism

    # single-row-group parquet → 1 scan task; the per-row regex work
    # must spread across cores (r6; no-op when the scan splits)
    d = ensure_parallelism(_t(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(r"\S+")).cast("bigint").alias("ws_tokens"),
        F.regexp_count(F.col("text"), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"))
        .cast("bigint").alias("bpe_tokens"),
    )


def q_quality_counts(spark, sf_dir):
    from jesse_spark.session import ensure_parallelism

    # same single-scan-task consideration as q_token_counts (r6)
    d = ensure_parallelism(_t(spark, sf_dir, "documents"))
    stop = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    # both char-class counts via translate: regexp_count compiles to
    # size(regexp_extract_all(...)) — it MATERIALIZES every match as a
    # string — while a length-delta over translate is one pass with no
    # allocation (interleaved A/B at sf1.0: 1.8 s vs 0.3 s for this
    # projection).  punct = length - |alnum+ws chars| over the ASCII
    # lists, exactly the [^A-Za-z0-9\s] complement.  Counts proven
    # equal (r6: 0 mismatches over sf1.0; oracle ×3 SFs).
    # counts "_", unlike quality_features' [^\w\s]: each matches its own oracle
    ascii_alpha = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
    alpha = F.length(F.col("text")) - F.length(
        F.translate(F.col("text"), ascii_alpha, ""))
    punct = F.length(F.translate(
        F.col("text"), ascii_alpha + "0123456789 \t\n\x0b\f\r", ""))
    return d.select(
        "doc_id",
        alpha.cast("bigint").alias("alpha_chars"),
        punct.cast("bigint").alias("punct_chars"),
        F.size(F.filter(toks, lambda w: w.isin(*stop))).cast("bigint").alias("stop_tokens"),
    )


def q_fingerprint(spark, sf_dir):
    from jesse_spark.session import ensure_parallelism

    # same single-scan-task consideration as q_token_counts (r6)
    d = ensure_parallelism(_t(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        F.md5(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", "")).alias("fp"),
    )


def q_embed_topk(spark, sf_dir):
    from jesse_spark.operators.similarity import brute_force_topk

    e = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in
            e.filter(F.col("vec_id") == 0).select("embedding").head()["embedding"]]
    top = brute_force_topk(e.filter(F.col("vec_id") != 0), "embedding", "vec_id",
                           qvec, k=10)
    return top.select(F.col("id").alias("vec_id"),
                      F.round("cosine", 4).alias("cosine"))


# ---- approximate / LSH operators, oracled against exact all-pairs SQL -----
#
# The LSH pruning is real (bucketed, capped, sub-quadratic), so recall
# is below 1 in general.  On the sf0.01 test tables every verified
# output equals the exact all-pairs answer, so DuckDB oracles it there;
# at sf0.1 minhash_near_dups finds 253 of the oracle's 256 pairs (one
# min-hash, see minhash_candidates) and simhash_near_dups 156,006 of
# 166,267 (a chunk bucket outgrows the 1,000-id cap).
def q_minhash_near_dups(spark, sf_dir):
    from jesse_spark.operators.dedup import jaccard_verify, minhash_candidates

    d = _t(spark, sf_dir, "documents")
    cand = minhash_candidates(d, "text", "doc_id", shingle_mode="token")
    return jaccard_verify(cand, d, "text", "doc_id", threshold=0.5,
                          shingle_mode="token").select(
        "id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


def q_simhash_near_dups(spark, sf_dir):
    from jesse_spark.operators.dedup import simhash_candidates

    d = _t(spark, sf_dir, "documents")
    # pigeonhole banding finds every hamming ≤ 3 pair that survives the
    # bucket cap; md5 token hashing is bit-for-bit reproducible in the
    # DuckDB oracle
    return simhash_candidates(d, "text", "doc_id", max_hamming=3).select(
        "id_a", "id_b", F.col("hamming").cast("bigint").alias("hamming"))


def _augmented_embeddings(spark, sf_dir):
    """embeddings ∪ deterministic near-duplicate copies: every 50th
    vector re-scaled per-element by (1 + 0.04·((i%7)-3)) under id
    +10^12 (collision-free below a trillion source rows) — cosine ≈ 0.995 vs its source, far above every natural
    pair (max ≈ 0.51), so the near-dup ground truth is exactly the
    seeded pairs and both engines can rebuild it with the same
    double-precision arithmetic."""
    e = _t(spark, sf_dir, "embeddings")
    base = e.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    pert = base.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 1000000000000).alias("vec_id"),
        F.transform(
            "v",
            lambda x, i: x * (F.lit(1.0) + F.lit(0.04)
                              * (((i + 1) % 7) - 3).cast("double")),
        ).alias("v"),
    )
    return base.unionByName(pert)


def q_embedding_near_dups(spark, sf_dir):
    from jesse_spark.operators.dedup import embedding_near_duplicates

    aug = _augmented_embeddings(spark, sf_dir)
    # 16 planes × 16 tables: P(miss seeded pair at cos≥0.995) ≈ 3e-5
    # (p_table = (1-θ/π)^16 ≈ 0.48, miss = (1-p)^16), verified exact on
    # both SFs; 16-bit buckets keep the candidate set ~100x sparser
    # than 8-bit ones (147k → ~2k pairs at sf0.1)
    return embedding_near_duplicates(aug, "v", "vec_id", dim=64, n_planes=16,
                                     n_tables=16, min_cosine=0.99).select(
        "id_a", "id_b", F.round("cosine", 4).alias("cosine"))


def q_ivf_topk(spark, sf_dir):
    from jesse_spark.operators.similarity import build_ivf_index, ivf_search

    e = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in
            e.filter(F.col("vec_id") == 0).select("embedding").head()["embedding"]]
    # single-pass index build (assignment evaluated once, persisted);
    # both search phases reuse the cached projection (VERDICT r2 #4)
    idx = build_ivf_index(e.filter(F.col("vec_id") != 0), "embedding", "vec_id",
                          n_cells=8, sample=256)
    top = ivf_search(idx, qvec, k=10)
    return top.select(F.col("id").alias("vec_id"),
                      F.round("cosine", 4).alias("cosine"))


def q_kvc_path(spark, sf_dir):
    """Per-row KVC dot-path aggregates (jesse_json_path.erl:173-209 via
    functions/paths.kvc_path): collect each order's line items as an
    array of structs, then evaluate 'qty.@sum' / '@count' / 'qty.@max'
    — the plain-key-over-collection + @-aggregate chain."""
    from jesse_spark.functions.paths import kvc_path

    li = _t(spark, sf_dir, "lineitem")
    # collect_list here is bounded by the data model (≤7 line items per
    # order in TPC-H), unlike the dedup buckets which cap membership
    grouped = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list(F.struct(
            F.col("l_linenumber").alias("ln"),
            F.col("l_quantity").cast("double").alias("qty"),
        ))).alias("items"))
    itype = grouped.schema["items"].dataType
    qty_sum, _ = kvc_path(F.col("items"), itype, "qty.@sum")
    n_items, _ = kvc_path(F.col("items"), itype, "@count")
    qty_max, _ = kvc_path(F.col("items"), itype, "qty.@max")
    return grouped.select(
        "l_orderkey",
        F.round(qty_sum, 2).alias("qty_sum"),
        n_items.alias("n_items"),
        F.round(qty_max, 2).alias("qty_max"),
    )


def q_lang_id(spark, sf_dir):
    from jesse_spark.operators.text import with_lang_id

    d = _t(spark, sf_dir, "documents")
    return with_lang_id(d, "text").select("doc_id", "pred_lang")


def q_quality_scores(spark, sf_dir):
    from jesse_spark.operators.text import quality_features

    d = _t(spark, sf_dir, "documents")
    # boundary-safe integer comparison: floor(raw·10⁴ + 0.5) of the
    # bit-identical raw double dodges round-half divergence between
    # engines (a 0.xxxx5 score rounds differently under HALF_UP vs
    # float-repr rounding)
    return quality_features(d, "text").select(
        "doc_id",
        F.floor(F.col("quality_score_raw") * 10000 + 0.5)
        .cast("bigint").alias("quality_x1e4"))


def q_streaks(spark, sf_dir):
    """Per-user sticky quarantine verdicts over ts-ordered events
    (streaming/stateful.py violation_streaks_batch), valid = "not an
    error event".  Windows + one aggregation; the tests diff it against
    an applyInPandasWithState streak operator draining the same table
    as a stream."""
    from jesse_spark.streaming.stateful import violation_streaks_batch

    ev = _t(spark, sf_dir, "events").withColumn(
        "valid", ~F.col("event_type").eqNullSafe(F.lit("error")))
    return violation_streaks_batch(
        ev, key_col="user_id", ts_col="ts", valid_col="valid",
        tiebreak_cols=("event_id",), quarantine_after=3)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "validate_documents": q_validate_documents,
        "stats_single_pass": q_stats_single_pass,
        "stats_quantiles": q_stats_quantiles,
        "uniqueness_dup_keys": q_uniqueness_dup_keys,
        "uniqueness_dup_keys_salted": q_uniqueness_dup_keys_salted,
        "uniqueness_gate": q_uniqueness_gate,
        "ri_orphans": q_ri_orphans,
        "ri_semi_count": q_ri_semi_count,
        "enum_violations": q_enum_violations,
        "range_filter": q_range_filter,
        "multiple_of": q_multiple_of,
        "length_check": q_length_check,
        "pattern_match": q_pattern_match,
        "required_nulls": q_required_nulls,
        "kvc_aggregates": q_kvc_aggregates,
        "window_agg": q_window_agg,
        "drift_psi": q_drift_psi,
        "drift_ks": q_drift_ks,
        "dedup_exact": q_dedup_exact,
        "dedup_keep_first": q_dedup_keep_first,
        "unique_tokens": q_unique_tokens,
        "contains_token": q_contains_token,
        "token_counts": q_token_counts,
        "quality_counts": q_quality_counts,
        "fingerprint": q_fingerprint,
        "embed_topk": q_embed_topk,
        # LSH operators, oracled against exact all-pairs SQL
        "minhash_near_dups": q_minhash_near_dups,
        "simhash_near_dups": q_simhash_near_dups,
        "embedding_near_dups": q_embedding_near_dups,
        "ivf_topk": q_ivf_topk,
        "kvc_path": q_kvc_path,
        "lang_id": q_lang_id,
        "quality_scores": q_quality_scores,
        "streaks": q_streaks,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------
_PSI_SQL = """
WITH buck AS (
  SELECT CASE WHEN value < 10 THEN 0 WHEN value < 25 THEN 1
              WHEN value < 50 THEN 2 WHEN value < 100 THEN 3
              WHEN value < 200 THEN 4 ELSE 5 END AS b,
         event_id % 2 AS side
  FROM events
),
cnt AS (
  SELECT b,
         sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS na,
         sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS nb
  FROM buck GROUP BY b
),
tot AS (SELECT sum(na) AS ta, sum(nb) AS tb FROM cnt)
SELECT round(sum((na * 1.0 / ta - nb * 1.0 / tb)
            * ln((na * 1.0 / ta + 1e-6) / (nb * 1.0 / tb + 1e-6))), 4) AS psi
FROM cnt, tot
"""



_KS_SQL = """
WITH buck AS (
  SELECT CASE WHEN value < 10 THEN 0 WHEN value < 25 THEN 1
              WHEN value < 50 THEN 2 WHEN value < 100 THEN 3
              WHEN value < 200 THEN 4 ELSE 5 END AS b,
         event_id % 2 AS side
  FROM events
),
cnt AS (
  SELECT b,
         sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS na,
         sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS nb
  FROM buck GROUP BY b
),
tot AS (SELECT sum(na) AS ta, sum(nb) AS tb FROM cnt),
cdf AS (
  SELECT b,
         sum(na) OVER (ORDER BY b) * 1.0 / ta AS ca,
         sum(nb) OVER (ORDER BY b) * 1.0 / tb AS cb
  FROM cnt, tot
)
SELECT CAST(floor(max(abs(ca - cb)) * 1000000 + 0.5) AS BIGINT) AS ks_x1e6 FROM cdf
"""

# exact all-pairs token-bigram Jaccard (mirrors with_shingles(text, k=5, mode="token"))
_MINHASH_SQL = r"""
WITH d AS (
  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
  FROM documents
), sh AS (
  SELECT doc_id, list_distinct(list_transform(
           range(1, greatest(len(toks) - 1, 1) + 1),
           i -> array_to_string(toks[i:i+1], ' '))) AS sh
  FROM d
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         len(list_intersect(a.sh, b.sh)) * 1.0
           / len(list_distinct(list_concat(a.sh, b.sh))) AS j
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
)
SELECT id_a, id_b, round(j, 4) AS jaccard FROM pairs WHERE j >= 0.5
"""

# bit-for-bit md5 SimHash recomputation + all-pairs hamming
_SIMHASH_SQL = r"""
WITH d AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
  FROM documents
), tok AS (
  SELECT doc_id, md5(unnest(list_distinct(string_split(norm, ' ')))) AS m
  FROM d
), votes AS (
  SELECT doc_id, b,
         sum(CASE WHEN ((strpos('0123456789abcdef', substring(m, b // 4 + 1, 1)) - 1)
                        >> (b % 4)) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM tok, (SELECT unnest(range(0, 64)) AS b) bits
  GROUP BY doc_id, b
), sims AS (
  SELECT doc_id, list(CASE WHEN v > 0 THEN 1 ELSE 0 END ORDER BY b) AS bits
  FROM votes GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         list_sum(list_transform(list_zip(a.bits, b.bits),
                  z -> CASE WHEN z[1] <> z[2] THEN 1 ELSE 0 END)) AS hamming
  FROM sims a JOIN sims b ON a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming FROM pairs WHERE hamming <= 3
"""

# augmented embeddings (same construction as _augmented_embeddings) +
# exact all-pairs cosine
_EMB_NEAR_DUP_SQL = """
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), aug AS (
  SELECT vec_id, v FROM base
  UNION ALL
  SELECT vec_id + 1000000000000,
         list_transform(range(1, 65), i -> v[i] * (1.0 + 0.04 * ((i % 7) - 3)))
  FROM base WHERE vec_id % 50 = 0
), pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_cosine_similarity(a.v, b.v) AS c
  FROM aug a JOIN aug b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, round(c, 4) AS cosine FROM pairs WHERE c >= 0.99
"""

# per-document trigram-overlap language id (mirrors with_lang_id:
# argmax over (score, lang), i.e. ties go to the greatest lang string)
_LANG_ID_SQL = r"""
WITH d AS (
  SELECT doc_id, ' ' || trim(regexp_replace(lower(text), '\s+', ' ', 'g')) || ' ' AS p
  FROM documents
), tri AS (
  SELECT doc_id, list_distinct(list_transform(
           range(1, greatest(length(p) - 2, 1) + 1),
           i -> substring(p, i, 3))) AS tg
  FROM d
), scores AS (
  SELECT doc_id, s.lang, len(list_intersect(tg, s.grams)) AS score
  FROM tri, (VALUES
    ('en', [' th','the','he ',' an','and','nd ',' of','of ','ing','ng ']),
    ('de', ['er ',' de','der','ie ',' di','die','ich','ch ','ein','en ']),
    ('fr', [' de','de ',' le','es ','le ','ent','nt ',' la','la ','ion']),
    ('es', [' de','de ',' la','la ','os ',' el','el ','que',' qu','ue ']),
    ('ru', [' пр','при',' не','не ','ого','го ',' на','на ','ени','ть '])
  ) AS s(lang, grams)
), best AS (
  SELECT doc_id, lang, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rn
  FROM scores
)
SELECT doc_id, CASE WHEN score > 0 THEN lang ELSE 'und' END AS pred_lang
FROM best WHERE rn = 1
"""

# deterministic quality-score formula (mirrors quality_features)
_QUALITY_SQL = r"""
WITH q AS (
  SELECT doc_id,
    length(text) AS n_chars,
    len(regexp_extract_all(text, '[A-Za-zÀ-ɏЀ-ӿ一-鿿]')) AS n_alpha,
    len(regexp_extract_all(text, '[^\w\s]')) AS n_punct,
    CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tok,
    len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        w -> list_contains(['the','a','an','and','or','of','to','in','is','it',
                            'you','that','he','was','for','on','are','with','as',
                            'his','they','at','be','this','have','from'], w))) AS n_stop
  FROM documents
), r AS (
  SELECT doc_id, n_chars,
    n_alpha / greatest(n_chars * 1.0, 1.0) AS alpha_ratio,
    n_punct / greatest(n_chars * 1.0, 1.0) AS punct_ratio,
    n_stop / greatest(n_tok * 1.0, 1.0) AS stopword_ratio
  FROM q
)
SELECT doc_id,
  CAST(floor((CASE WHEN n_chars < 10 THEN 0.0 ELSE
    least(alpha_ratio * 1.2, 1.0) * 0.5
    + least(stopword_ratio * 3.0, 1.0) * 0.3
    + (1.0 - least(punct_ratio * 4.0, 1.0)) * 0.2 END) * 10000 + 0.5)
    AS BIGINT) AS quality_x1e4
FROM r
"""

# gaps-and-islands streak verdicts (see q_streaks): cum_valid is
# constant across a run of consecutive invalid rows, so grouping
# invalid rows by (user, cum_valid) isolates each run; the trailing
# streak is the run whose cum_valid equals the user's total valid
# count, and quarantined = any run >= 3 (sticky).
_STREAKS_SQL = """
WITH base AS (
  SELECT user_id, ts, event_id,
         (event_type IS DISTINCT FROM 'error') AS valid,
         CAST(SUM(CASE WHEN event_type IS DISTINCT FROM 'error' THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_valid,
         COUNT(*) OVER (PARTITION BY user_id) AS rows_total,
         CAST(SUM(CASE WHEN event_type IS DISTINCT FROM 'error' THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id) AS BIGINT) AS n_valid
  FROM events
), islands AS (
  SELECT user_id,
         CASE WHEN NOT valid THEN cum_valid END AS island,
         COUNT(*) AS run_len,
         MIN(rows_total) AS rows_total,
         MIN(n_valid) AS n_valid
  FROM base
  GROUP BY user_id, CASE WHEN NOT valid THEN cum_valid END
)
SELECT user_id AS key,
       MIN(rows_total) AS rows,
       MIN(rows_total) - MIN(n_valid) AS invalid_rows,
       COALESCE(MAX(CASE WHEN island = n_valid THEN run_len END), 0) AS streak,
       COALESCE(MAX(CASE WHEN island IS NOT NULL THEN run_len END), 0) >= 3
         AS quarantined
FROM islands GROUP BY user_id
"""


def oracle_sql() -> dict[str, str]:
    docs_viol = """
    WITH v AS (
      SELECT 'not_in_enum' AS c, '/lang' AS p FROM documents
        WHERE lang IS NOT NULL AND lang NOT IN ('en','de','fr','es')
      UNION ALL SELECT 'no_match', '/source' FROM documents
        WHERE source IS NOT NULL AND NOT regexp_matches(source, '^src[0-9]$')
      UNION ALL SELECT 'wrong_length', '/text' FROM documents
        WHERE text IS NOT NULL AND length(text) < 60
      UNION ALL SELECT 'wrong_length', '/text' FROM documents
        WHERE text IS NOT NULL AND length(text) > 500
      UNION ALL SELECT 'not_in_range', '/n_chars' FROM documents
        WHERE n_chars IS NOT NULL AND n_chars < 60
      UNION ALL SELECT 'not_in_range', '/n_chars' FROM documents
        WHERE n_chars IS NOT NULL AND n_chars > 500
      UNION ALL SELECT 'not_in_range', '/doc_id' FROM documents
        WHERE doc_id IS NOT NULL AND doc_id < 0
      UNION ALL SELECT 'missing_required_property', '' FROM documents WHERE doc_id IS NULL
      UNION ALL SELECT 'missing_required_property', '' FROM documents WHERE text IS NULL
      UNION ALL SELECT 'missing_required_property', '' FROM documents WHERE lang IS NULL
      UNION ALL SELECT 'missing_required_property', '' FROM documents WHERE source IS NULL
      UNION ALL SELECT 'missing_required_property', '' FROM documents WHERE n_chars IS NULL
    )
    SELECT c AS constraint_code, p AS path, count(*) AS violations
    FROM v GROUP BY c, p
    """
    stats = """
    SELECT 'l_quantity' AS column_name, count(l_quantity) AS non_null,
           round(avg(CASE WHEN l_quantity IS NULL THEN 1.0 ELSE 0.0 END), 6) AS null_rate,
           round(min(l_quantity), 6) AS min_v, round(max(l_quantity), 6) AS max_v,
           round(avg(l_quantity), 6) AS mean_v FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice', count(l_extendedprice),
           round(avg(CASE WHEN l_extendedprice IS NULL THEN 1.0 ELSE 0.0 END), 6),
           round(min(l_extendedprice), 6), round(max(l_extendedprice), 6),
           round(avg(l_extendedprice), 6) FROM lineitem
    UNION ALL
    SELECT 'l_discount', count(l_discount),
           round(avg(CASE WHEN l_discount IS NULL THEN 1.0 ELSE 0.0 END), 6),
           round(min(l_discount), 6), round(max(l_discount), 6),
           round(avg(l_discount), 6) FROM lineitem
    """
    return {
        "validate_documents": docs_viol,
        "stats_single_pass": stats,
        # exact-regime KLL oracle: n << k, so the sketch keeps every
        # value and the inclusive-rank quantile is literally "smallest
        # x with cume_dist >= q"; direct and merged paths must agree
        "stats_quantiles": """
    WITH qs(q) AS (VALUES (0.25),(0.5),(0.75),(0.95),(0.99)),
    acct AS (SELECT CAST(s_acctbal AS DOUBLE) x,
                    cume_dist() OVER (ORDER BY s_acctbal) cd
             FROM supplier WHERE s_acctbal IS NOT NULL),
    nat AS (SELECT CAST(s_nationkey AS DOUBLE) x,
                   cume_dist() OVER (ORDER BY s_nationkey) cd
            FROM supplier WHERE s_nationkey IS NOT NULL)
    SELECT 's_acctbal' AS column_name, CAST(q AS DOUBLE) AS q,
           round((SELECT min(x) FROM acct WHERE cd >= qs.q), 6) AS qv_direct,
           round((SELECT min(x) FROM acct WHERE cd >= qs.q), 6) AS qv_merged
    FROM qs
    UNION ALL
    SELECT 's_nationkey', CAST(q AS DOUBLE),
           round((SELECT min(x) FROM nat WHERE cd >= qs.q), 6),
           round((SELECT min(x) FROM nat WHERE cd >= qs.q), 6)
    FROM qs
    """,
        "uniqueness_dup_keys": (
            "SELECT l_orderkey, count(*) AS dup_count FROM lineitem "
            "GROUP BY l_orderkey HAVING count(*) > 1"),
        "uniqueness_dup_keys_salted": (
            "SELECT l_orderkey, count(*) AS dup_count FROM lineitem "
            "GROUP BY l_orderkey HAVING count(*) > 1"),
        "uniqueness_gate": (
            "SELECT count(o_orderkey) AS cnt, "
            "count(DISTINCT o_orderkey) AS distinct_cnt, "
            "count(o_orderkey) = count(DISTINCT o_orderkey) AS is_unique FROM orders"),
        "ri_orphans": (
            "SELECT o_orderkey, o_custkey FROM orders WHERE o_custkey NOT IN "
            "(SELECT c_custkey FROM customer WHERE c_custkey % 3 <> 0)"),
        "ri_semi_count": (
            "SELECT count(*) AS valid_rows FROM lineitem WHERE EXISTS "
            "(SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)"),
        "enum_violations": (
            "SELECT event_id, event_type FROM events WHERE event_type NOT IN "
            "('click','view','purchase','signup')"),
        "range_filter": (
            "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem "
            "WHERE l_quantity >= 45 AND l_quantity <= 50"),
        "multiple_of": (
            "SELECT count(*) AS cnt FROM lineitem WHERE l_quantity % 5 = 0"),
        "length_check": (
            "SELECT doc_id, length(text) AS text_len FROM documents "
            "WHERE length(text) > 400"),
        "pattern_match": (
            "SELECT doc_id FROM documents WHERE regexp_matches(text, 'window.*filter')"),
        "required_nulls": (
            "SELECT 'doc_id' AS column_name, count(CASE WHEN doc_id IS NULL THEN 1 END) AS nulls FROM documents "
            "UNION ALL SELECT 'text', count(CASE WHEN text IS NULL THEN 1 END) FROM documents "
            "UNION ALL SELECT 'lang', count(CASE WHEN lang IS NULL THEN 1 END) FROM documents "
            "UNION ALL SELECT 'source', count(CASE WHEN source IS NULL THEN 1 END) FROM documents "
            "UNION ALL SELECT 'n_chars', count(CASE WHEN n_chars IS NULL THEN 1 END) FROM documents"),
        "kvc_aggregates": (
            "SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, "
            "round(sum(l_extendedprice), 2) AS sum_base_price, "
            "round(avg(l_quantity), 6) AS avg_qty, "
            "round(avg(l_extendedprice), 4) AS avg_price, "
            "count(*) AS count_order FROM lineitem GROUP BY l_returnflag, l_linestatus"),
        "window_agg": (
            "SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour, "
            "count(*) AS events, round(sum(value), 4) AS sum_value "
            "FROM events GROUP BY 1"),
        "drift_psi": _PSI_SQL,
        "drift_ks": _KS_SQL,
        "dedup_exact": (
            "SELECT md5(trim(regexp_replace(lower(substring(text, 1, 30)), '\\s+', ' ', 'g'))) AS text_hash, "
            "count(*) AS dup_count, min(doc_id) AS min_id FROM documents "
            "GROUP BY 1 HAVING count(*) > 1"),
        "dedup_keep_first": (
            "SELECT doc_id FROM ("
            "  SELECT doc_id, row_number() OVER ("
            "    PARTITION BY md5(trim(regexp_replace(lower(substring(text, 1, 30)), '\\s+', ' ', 'g')))"
            "    ORDER BY doc_id) AS rn FROM documents) WHERE rn = 1"),
        "unique_tokens": (
            "SELECT doc_id, len(string_split(text, ' ')) AS n_tokens, "
            "len(list_distinct(string_split(text, ' '))) AS n_distinct FROM documents"),
        "contains_token": (
            "SELECT doc_id FROM documents WHERE list_contains(string_split(text, ' '), 'spark')"),
        "token_counts": (
            "SELECT doc_id, len(regexp_extract_all(text, '\\S+')) AS ws_tokens, "
            "len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+')) AS bpe_tokens "
            "FROM documents"),
        "quality_counts": (
            "SELECT doc_id, len(regexp_extract_all(text, '[A-Za-z]')) AS alpha_chars, "
            "len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS punct_chars, "
            "len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), "
            "w -> list_contains(['the','a','an','and','or','of','to','in','is','it'], w))) AS stop_tokens "
            "FROM documents"),
        "fingerprint": (
            "SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9]+', '', 'g')) AS fp "
            "FROM documents"),
        "embed_topk": (
            "SELECT vec_id, round(list_cosine_similarity(embedding, "
            "(SELECT embedding FROM embeddings WHERE vec_id = 0)), 4) AS cosine "
            "FROM embeddings WHERE vec_id <> 0 "
            "ORDER BY list_cosine_similarity(embedding, "
            "(SELECT embedding FROM embeddings WHERE vec_id = 0)) DESC, vec_id ASC LIMIT 10"),
        "minhash_near_dups": _MINHASH_SQL,
        "simhash_near_dups": _SIMHASH_SQL,
        "embedding_near_dups": _EMB_NEAR_DUP_SQL,
        # IVF with deterministic centroids + n_probe recovers the exact
        # top-k on this table; oracle = exact brute-force top-k
        "ivf_topk": (
            "SELECT vec_id, round(list_cosine_similarity(embedding, "
            "(SELECT embedding FROM embeddings WHERE vec_id = 0)), 4) AS cosine "
            "FROM embeddings WHERE vec_id <> 0 "
            "ORDER BY list_cosine_similarity(embedding, "
            "(SELECT embedding FROM embeddings WHERE vec_id = 0)) DESC, vec_id ASC LIMIT 10"),
        "kvc_path": (
            "SELECT l_orderkey, round(sum(CAST(l_quantity AS DOUBLE)), 2) AS qty_sum, "
            "count(*) AS n_items, round(max(CAST(l_quantity AS DOUBLE)), 2) AS qty_max "
            "FROM lineitem GROUP BY l_orderkey"),
        "lang_id": _LANG_ID_SQL,
        "quality_scores": _QUALITY_SQL,
        "streaks": _STREAKS_SQL,
    }
