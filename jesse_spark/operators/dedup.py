"""Deduplication operators for training-data pipelines.

No jesse analog (its uniqueItems is per-array); these are the
table-scale dedup family a 100 TB corpus needs.  All of them are pure
DataFrame plans built from JVM-side expressions — the MinHash
signature is a higher-order-function expression over shingle arrays,
the SimHash one an explode + codegen aggregate, never Python loops.

Scale notes:
- exact dedup shuffles one (hash, id) pair per row with map-side
  combine; the full text never shuffles.
- MinHash, SimHash and hyperplane LSH bucket each row under a few
  small keys and pair only within capped buckets, all through
  :func:`capped_bucket_pairs` — the sub-quadratic near-dup plan.
- candidate verification (exact Jaccard) touches only candidate pairs.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# normalization + shingling (shared by minhash / jaccard)
# ---------------------------------------------------------------------------
def normalized(text: Column) -> Column:
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def _shingle_sets(df: DataFrame, text_col: str, *, k: int, mode: str,
                  out: str, shingle: Callable[[Column], Column]) -> DataFrame:
    """Distinct ``shingle(slice)`` over every n-slice of the normalized
    text: n = ``k`` chars, or ``max(k // 2, 2)`` space-separated tokens
    when ``mode == "token"``.

    The parts array (chars or tokens) is staged behind a projection
    boundary, so each slice is O(n) over a bound attribute.  Inlining
    the split re-evaluates the full regexp_replace+split chain for EVERY
    position (the split sits inside the transform lambda) — O(len²) per
    row, measured 2.5-3.5 s over 50k docs at sf1.0 for what is a ~0.3 s
    linear pass — and a ``substr`` per position seeks from the start of
    the UTF8String, O(n²) again.

    A null text's split is coalesced to ``[""]``, so null and empty
    texts yield the same degenerate one-element set."""
    if mode == "token":
        n = max(k // 2, 2)
        parts = F.split(F.trim(normalized(F.col(text_col))), " ")
    else:
        n = k
        parts = F.split(normalized(F.col(text_col)), "")
    d = df.withColumn("_parts", F.coalesce(parts, F.array(F.lit(""))))
    cnt = F.greatest(F.size(F.col("_parts")) - (n - 1), F.lit(1))
    return d.withColumn(out, F.array_distinct(F.transform(
        F.sequence(F.lit(1), cnt),
        lambda i: shingle(F.slice(F.col("_parts"), i, n)),
    ))).drop("_parts")


def with_shingles(df: DataFrame, text_col: str, *, k: int = 5,
                  mode: str = "char", out: str = "sh") -> DataFrame:
    """Distinct shingles as ``array<string>`` (tokens joined by a
    space, chars by nothing), staged by :func:`_shingle_sets`."""
    sep = " " if mode == "token" else ""
    return _shingle_sets(df, text_col, k=k, mode=mode, out=out,
                         shingle=lambda s: F.concat_ws(sep, s))


def hashed_shingles(df: DataFrame, text_col: str, *, k: int = 5,
                    mode: str = "char", out: str = "shh") -> DataFrame:
    """Distinct xxhash64'd shingles as ``array<long>`` — the slices are
    hashed DIRECTLY (``xxhash64(slice(parts, i, n))``) instead of built
    into strings first, skipping the per-position concat_ws allocation
    and distinct-ing longs instead of strings (~25% cheaper, measured
    at sf1.0).  For consumers that only compare shingle SETS (jaccard —
    a count ratio), this is equivalent to hashing the string form:
    slice ↔ string is 1-1 (tokens contain no separator; char elements
    are single chars), so set sizes and intersections match unless two
    distinct shingles collide in 64 bits (~1e-16 per pair).  NOT for
    minhash_candidates, whose ``hash(string, i)`` values are pinned
    bit-for-bit."""
    return _shingle_sets(df, text_col, k=k, mode=mode, out=out,
                         shingle=F.xxhash64)


# ---------------------------------------------------------------------------
# 1. exact dedup
# ---------------------------------------------------------------------------
def exact_duplicates(df: DataFrame, text_col: str, id_col: str, *,
                     max_ids: int = 100) -> DataFrame:
    """Groups of byte-identical (post-normalization) texts:
    (text_hash, dup_count, min_id, ids).  Shuffles (hash, id) only.

    ``ids`` is a bounded SAMPLE (the ``max_ids`` smallest ids), not the
    full membership: a degenerate corpus where billions of rows share
    one hash must not materialize them all in a single aggregation
    buffer.  Membership is capped BEFORE aggregation via a row_number
    window (the window sort spills to disk; a collect_list buffer does
    not), so executor memory stays bounded no matter how hot the group."""
    from pyspark.sql import Window

    w = Window.partitionBy("text_hash").orderBy("id")
    tagged = (
        df.select(F.md5(normalized(F.col(text_col))).alias("text_hash"),
                  F.col(id_col).alias("id"))
        .withColumn("_rn", F.row_number().over(w))
    )
    return (
        tagged.groupBy("text_hash")
        .agg(F.count(F.lit(1)).alias("dup_count"),
             F.min("id").alias("min_id"),
             F.sort_array(F.collect_list(
                 F.when(F.col("_rn") <= max_ids, F.col("id")))).alias("ids"))
        .filter(F.col("dup_count") > 1)
    )


def drop_exact_duplicates(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the min-id representative of each text group — one shuffle
    on the text hash (row_number over hash window)."""
    from pyspark.sql import Window

    w = Window.partitionBy(F.md5(normalized(F.col(text_col)))).orderBy(F.col(id_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# ---------------------------------------------------------------------------
# shared: capped bucket → pairs
# ---------------------------------------------------------------------------
def capped_bucket_pairs(tagged: DataFrame, key_cols: list[str], *,
                        max_bucket: int) -> DataFrame:
    """Ordered (id_a < id_b) pairs of ids sharing a bucket key, capped
    at ``max_bucket`` members per bucket.  Every other column of
    ``tagged`` rides to both sides as ``<col>_a``/``<col>_b`` (after
    id_a, id_b), so a caller can verify pairs on a carried value
    without joining the table back.

    Preconditions (not checked — checking costs a job): every key
    column is non-null, since a null key never matches in the join; and
    each (key, id) row is unique, since a duplicate takes a cap slot
    and repeats its pairs.

    Membership is capped BEFORE pairing: a row_number window over the
    bucket key, ordered by id, keeps the deterministic min-id survivors
    (the window sort spills; an uncapped collect_list buffer on a hot
    bucket is a single-reducer OOM).  Members beyond the cap are
    dropped, so a bucket larger than ``max_bucket`` loses pairs.  Pairs
    come from a within-bucket self-join with ``id_a < id_b`` instead of
    collect_list + nested transform/explode: the pair loop runs in
    whole-stage codegen rather than interpreted HOF lambdas, and the
    collect_list aggregation buffer disappears.  SHUFFLE_MERGE hint:
    spillable, never broadcast (bucket membership scales with the
    corpus); both sides share one exchange subtree, which AQE reuses at
    runtime.  Pair-set equality with the collect_list + explode
    formulation, kept as the oracle in tests/test_dedup_similarity.py,
    is pinned there and was verified at 735k (minhash, sf1.0) and 14.3M
    (hyperplane, 10x-duplicated corpus) pair volumes — at the 14.3M
    volume this is ~2.4x faster."""
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy("id")
    capped = tagged.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= max_bucket).drop("_rn")
    carried = [c for c in tagged.columns if c != "id" and c not in key_cols]

    def side(s: str) -> DataFrame:
        return capped.select(*key_cols, *[
            F.col(c).alias(f"{c}_{s}") for c in ["id", *carried]])

    return (
        side("a").hint("SHUFFLE_MERGE").join(side("b"), key_cols)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", *[f"{c}_{s}" for c in carried for s in "ab"])
    )


# ---------------------------------------------------------------------------
# 2. MinHash bucketing
# ---------------------------------------------------------------------------
def minhash_candidates(df: DataFrame, text_col: str, id_col: str, *,
                       k: int = 5, shingle_mode: str = "char") -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b): docs with equal
    ``mh = min over the distinct shingles s_i of hash(s_i, i)``, paired
    within buckets capped at 1,000 ids.

    One hash, not a k-permutation MinHash, so recall is below 1:
    q_minhash_near_dups (jaccard ≥ 0.5 via :func:`jaccard_verify`)
    equals its all-pairs oracle at sf0.01 and finds 253 of the oracle's
    256 pairs at sf0.1.  A true k-permutation MinHash (Broder 1997)
    raises the candidate volume ~20x (~400M raw pairs at sf1.0 against
    ~19M) and spent >120 s in sort-and-spill when measured.  ``mh`` is
    the value the historical 32-lambda signature held in every slot (its
    two-argument lambda bound the permutation id to the element index);
    tests pin it against that expression."""
    from jesse_spark.session import ensure_parallelism

    df = ensure_parallelism(df)  # hash-heavy per-row stage: use all cores
    sh = with_shingles(df.select(F.col(id_col).alias("id"), F.col(text_col)),
                       text_col, k=k, mode=shingle_mode)
    mh = F.array_min(F.transform(F.col("sh"), lambda s, i: F.hash(s, i)))
    # cap pathological buckets (all-identical spam): 1k ids → 500k pairs
    return capped_bucket_pairs(sh.select("id", mh.alias("mh")), ["mh"],
                               max_bucket=1000)


def jaccard_verify(
    candidates: DataFrame,
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    threshold: float = 0.7,
    k: int = 5,
    shingle_mode: str = "char",
) -> DataFrame:
    """Exact shingle-Jaccard on candidate pairs only (two broadcast-able
    joins against the shingle projection).

    r6, two per-pair cost cuts:
    - |A∪B| is computed as |A|+|B|−|A∩B| (exact — the shingle arrays
      are array_distinct'd), removing the array_union set build;
    - the intersect runs over xxhash64'd shingles (array<long>), not
      the strings: long equality/hashing beats per-element UTF8String
      work and the joined rows carry ~8 bytes per shingle instead of
      the text.  Jaccard is a count ratio, so the value is unchanged
      unless two DISTINCT shingles of one pair collide in 64 bits
      (p ≈ n²/2·2⁻⁶⁴ ≈ 1e-16 per pair; output equality with the
      string-set formulation is verified against the DuckDB oracle on
      every correctness SF and pinned old-vs-new at sf1.0).  Late r6:
      the hashes come straight off the staged slices
      (:func:`hashed_shingles` — no per-position string build), ~25%
      off each side's projection; set equality with the string form is
      pinned by test."""
    from jesse_spark.session import ensure_parallelism

    df = ensure_parallelism(df)
    shh = hashed_shingles(
        df.select(F.col(id_col).alias("id"), F.col(text_col)),
        text_col, k=k, mode=shingle_mode).select(
        "id", F.col("shh"), F.size("shh").alias("sz"))
    a = shh.select(F.col("id").alias("id_a"), F.col("shh").alias("sh_a"),
                   F.col("sz").alias("_sz_a"))
    b = shh.select(F.col("id").alias("id_b"), F.col("shh").alias("sh_b"),
                   F.col("sz").alias("_sz_b"))
    j = (
        candidates.join(a, "id_a").join(b, "id_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("uni", F.col("_sz_a") + F.col("_sz_b") - F.col("inter"))
        .withColumn("jaccard", F.col("inter") / F.col("uni"))
    )
    return j.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", "jaccard")


# ---------------------------------------------------------------------------
# 3. SimHash (64-bit) + hamming candidates
# ---------------------------------------------------------------------------
def _simhash_md5_exploded(df: DataFrame, text_col: str,
                          id_col: str) -> DataFrame:
    """(id, sim): the 64-bit SimHash of each text's distinct token set.
    Per bit, each token votes +1/-1 and the bit is set when the sum is
    positive.  Bit b of a token's hash is bit ``b % 4`` of hex digit
    ``b // 4`` of ``md5(token)``; md5 exists in every engine, so the
    signature — and the near-dup pair set — is reproducible in ANSI SQL
    (the DuckDB oracle recomputes it bit-for-bit).

    Computed via explode + 64 scalar conditional sums, ~30% faster than
    the equivalent column expression over the token array (the tests
    keep that one as this function's oracle): per token it built two
    64-element bit arrays plus a fold allocation, while this path
    computes 4 chunk ints from the md5 hex and lets a codegen
    HashAggregate keep the 64 vote counters (bit b = bit
    ``4*(3-(b//4)%4)+b%4`` of chunk ``b//16``, i.e. bit b%4 of hex
    digit b//4).  explode_outer dodges InferFiltersFromGenerate cloning
    the token expression into a pre-repartition single-task filter;
    null texts are dropped up front (their null signature could never
    produce a pair: null chunks match nothing downstream)."""
    toks = F.array_distinct(F.split(F.trim(normalized(F.col(text_col))), " "))
    t = (df.filter(F.col(text_col).isNotNull())
         .select(F.col(id_col).alias("id"), F.explode_outer(toks).alias("tok")))
    m = F.md5(F.col("tok"))
    t = t.select("id", *[
        F.conv(F.substring(m, 4 * c + 1, 4), 16, 10).cast("long").alias(f"_v{c}")
        for c in range(4)])
    aggs = [F.count(F.lit(1)).alias("_cnt")]
    for b in range(64):
        c, j = b // 16, (b // 4) % 4
        sh = 4 * (3 - j) + b % 4
        aggs.append(F.sum(F.shiftright(F.col(f"_v{c}"), sh)
                          .bitwiseAND(F.lit(1))).alias(f"_s{b}"))
    g = t.groupBy("id").agg(*aggs)
    sim = F.lit(0).cast("long")
    for b in range(64):
        # vote_b = 2*ones_b - n_tokens; bit set when vote > 0
        sim = sim.bitwiseOR(
            F.when(F.col(f"_s{b}") * 2 > F.col("_cnt"),
                   F.lit(1 << b if b < 63 else -(1 << 63)).cast("long"))
            .otherwise(F.lit(0).cast("long")))
    return g.select("id", sim.alias("sim"))


def simhash_candidates(df: DataFrame, text_col: str, id_col: str,
                       *, max_hamming: int = 3, max_bucket: int = 1000) -> DataFrame:
    """Near-dup pairs by SimHash: band the 64 bits into 4 × 16-bit
    chunks (pigeonhole: hamming ≤ 3 ⇒ at least one chunk identical),
    bucket on (chunk_idx, chunk), pair within capped buckets through
    :func:`capped_bucket_pairs`, verify exact hamming ≤ k via
    bit_count(xor) in the codegen'd pair loop.

    Buckets keep at most ``max_bucket`` ids, the min ids; members beyond
    the cap are dropped and so are their pairs.  The cap bounds a
    degenerate corpus (thousands of near-empty texts on one chunk value)
    instead of going quadratic, but it does not grow with the corpus:
    one sf0.1 chunk bucket holds 1,639 ids, so q_simhash_near_dups
    equals its all-pairs oracle at sf0.01 but finds 156,006 of its
    166,267 pairs at sf0.1."""
    from jesse_spark.session import ensure_parallelism

    df = ensure_parallelism(df)  # 64-bit vote aggregate is CPU-heavy
    sh = _simhash_md5_exploded(df, text_col, id_col)
    # carry sim (8 bytes) through the bucket rows: the signature is the
    # expensive expression — computing it once and shuffling it beats
    # joining the full table back twice for verification
    chunks = sh.select(
        "id", "sim",
        F.posexplode(F.array(*[
            F.shiftright(F.col("sim"), 16 * i).bitwiseAND(F.lit(0xFFFF))
            for i in range(4)
        ])).alias("chunk_idx", "chunk"),
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        capped_bucket_pairs(chunks, ["chunk_idx", "chunk"],
                            max_bucket=max_bucket)
        .filter(hamming <= max_hamming)
        .select("id_a", "id_b", hamming.alias("hamming"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# 4. embedding cosine near-dup (LSH over random hyperplanes)
# ---------------------------------------------------------------------------
def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def embedding_near_duplicates(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    *,
    dim: int,
    n_planes: int = 8,
    n_tables: int = 16,
    min_cosine: float = 0.95,
    seed: int = 42,
    max_bucket: int = 2000,
) -> DataFrame:
    """Multi-table hyperplane LSH: ``n_tables`` independent sign-bit
    signatures of ``n_planes`` bits each; a pair is a candidate when it
    collides in ANY table (recall 1-(1-p^n_planes)^n_tables for
    per-plane agreement p = 1 - θ/π), then verified with exact cosine.

    Candidate rows carry ids only; vectors join back for verification —
    at 100 TB the bucket shuffle is (table, bucket, id) triples, never
    the embeddings.

    r6: the T·P sign-bit dot products per vector run as ONE numpy
    matmul per Arrow batch inside a pandas UDF (guide §4.2: hand whole
    batches to vectorized native code) instead of T·P interpreted
    aggregate/slice expressions per row — 2.9 s → ~0.4 s for the
    signature stage at sf1.0.  The plane tensor ships in the UDF
    closure (T·P·dim doubles, ~16 KB).  Sign stability: bucket bits
    flip only if a dot crosses 0 between numpy's and the JVM's
    summation order (|Δ| ≲ 1e-13 relative); the measured minimum |dot|
    on the fixture embeddings is ≥ 2e-10 across every SF, and the
    final output is re-verified with exact cosine either way.
    Malformed rows (null / wrong dimension) keep the old expression
    semantics: an all-zero bucket array."""
    import numpy as np
    import pandas as pd

    from jesse_spark.session import ensure_parallelism

    rng = np.random.default_rng(seed)
    tables = rng.standard_normal((n_tables, n_planes, dim))
    planes = tables.reshape(n_tables * n_planes, dim)
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    def _hp_buckets_fn(vs):
        arrs = vs.tolist()
        out = [[0] * n_tables] * len(arrs)
        ok = [i for i, a in enumerate(arrs)
              if a is not None and len(a) == dim
              and not any(x is None for x in a)]
        if ok:
            x = np.asarray([arrs[i] for i in ok], dtype=np.float64)
            signs = (x @ planes.T) >= 0.0
            buckets = (signs.reshape(len(ok), n_tables, n_planes)
                       * weights).sum(axis=-1)
            for j, i in enumerate(ok):
                out[i] = [int(b) for b in buckets[j]]
        return pd.Series(out)

    # no type hints (module-level `from __future__ import annotations`
    # stringifies them, which the pandas-UDF type inferencer rejects);
    # the plain-function form defaults to a scalar series->series UDF
    _hp_buckets = F.pandas_udf(_hp_buckets_fn, returnType="array<long>")

    base = ensure_parallelism(df).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"))
    sigs = base.select(
        "id",
        F.posexplode(_hp_buckets(F.col("v"))).alias("table_idx", "bucket"),
    )
    cand = capped_bucket_pairs(
        sigs, ["table_idx", "bucket"], max_bucket=max_bucket
    ).distinct()
    a = base.select(F.col("id").alias("id_a"), F.col("v").alias("v_a"))
    b = base.select(F.col("id").alias("id_b"), F.col("v").alias("v_b"))
    return (
        cand.join(a, "id_a").join(b, "id_b")
        .withColumn("cosine", cosine(F.col("v_a"), F.col("v_b")))
        .filter(F.col("cosine") >= min_cosine)
        .select("id_a", "id_b", "cosine")
    )
