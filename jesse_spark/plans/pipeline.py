"""The flagship end-to-end validation pipeline over the clips table.

Stage layout (north_star / SURVEY.md §3 engine lifecycle):

1. row-level keyword suite — ONE codegen projection (no shuffle);
2. audio payload stage — Arrow pandas UDF, run ONLY on rows that passed
   the row suite (jesse's fail-fast external_validator ordering:
   keyword errors throw before the external hook runs,
   jesse_validator_draft4.erl:257-258 with allowed_errors=0), and only
   this stage reads `bytes` (column pruning keeps it out of the scan
   for every other stage);
3. uniqueness — two-phase approx→exact on clip_id;
4. referential integrity — broadcast anti join on codec;
5. violations = union of all stages in jesse's error-row shape;
6. per-partition verdicts + optional checkpoint manifests.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jesse_spark.compiler import compile_checks
from jesse_spark.functions.audio import audio_violations, with_audio_checks
from jesse_spark.operators.integrity import ri_violation_rows
from jesse_spark.operators.uniqueness import uniqueness_violations
from jesse_spark.plans.validate import (
    check_preds,
    fail_fast_pred,
    partition_verdicts,
    violation_rows,
    violations_array,
)
from jesse_spark.sources.fixtures import CLIPS_CONSTRAINT_SCHEMA


@dataclass
class SuiteResult:
    validated: DataFrame       # clips + violations array + valid flag
    violations: DataFrame      # union: row ∪ audio ∪ uniqueness ∪ RI
    verdicts: DataFrame        # per-partition pass/fail


# Compiled suites, the engine's jesse_database schema store (SURVEY.md
# §2.4): the check Columns of a (schema, input type, compile options)
# triple, built through py4j once (~2,000 round trips for the clips
# suite) and reused by every later plan.  Keyed by the active JVM too,
# because a Column is a handle to a JVM object; each entry holds that
# JVM's view, so its id() cannot be reused while the entry lives.
# Cleared when full.
_SUITES_MAX = 32
_suites: dict[tuple, tuple] = {}


def _check_columns(schema, data_type: T.StructType, compile_opts: dict,
                   jvm) -> tuple[Column, Column]:
    """``(violations array, fail-fast predicate)`` of ``schema`` over
    rows of ``data_type``.  A schema or option that does not serialize
    to JSON is compiled on every call.  Compile-time warnings (pattern
    lint, anyOf detail budget) fire on the compiling call only."""
    try:
        key = (json.dumps(schema, sort_keys=True), data_type.json(),
               json.dumps(compile_opts, sort_keys=True), id(jvm))
    except TypeError:
        key = None
    hit = _suites.get(key) if key else None
    if hit is not None:
        return hit[1:]
    inst = F.struct(*[F.col(f.name) for f in data_type.fields])
    checks = compile_checks(schema, data_type, null_is_absent=True, **compile_opts)
    # the violations array and the audio stage's fail-fast conjunction
    # share each check's predicate Column
    preds = check_preds(checks, inst)
    cols = (violations_array(checks, inst, preds),
            fail_fast_pred(checks, inst, preds))
    if key:
        if len(_suites) >= _SUITES_MAX:
            _suites.clear()
        _suites[key] = (jvm, *cols)
    return cols


def run_full_suite(
    clips: DataFrame,
    codecs: DataFrame,
    *,
    schema: dict | None = None,
    with_audio: bool = True,
    persist: bool = True,
    ignore_cols: tuple[str, ...] = ("_shard",),
    compile_opts: dict | None = None,
) -> SuiteResult:
    """``persist=True`` caches a NARROW projection (no ``bytes``) of the
    row-suite output so the four consumers (violation rows, verdicts,
    uniqueness, RI) share one scan.  The audio stage re-reads ``bytes``
    separately and filters with the codegen'd fail-fast conjunction
    instead of rebuilding violation arrays — the decode UDF must never
    see rows the keyword suite already rejected (jesse runs the
    external validator only when keyword checks passed,
    jesse_validator_draft4.erl:257-258 with allowed_errors=0).

    At 10^12 rows set persist=False: the narrow projection no longer
    fits cache economically and recomputing the codegen row suite per
    consumer is cheaper than materialization.

    ``ignore_cols`` names harness columns (checkpoint shard ids etc.)
    that must stay OUT of the validated instance: the constraint schema
    (additionalProperties: false) is compiled against the data columns
    only, so a ``_shard`` column added by the resume machinery is not
    reported as an extra property.

    ``compile_opts`` forwards compile options to
    :func:`compile_checks` (anyof_detail_max, ref_unroll_max,
    pattern_lint).  A later build with the same schema, data columns
    and options reuses the compiled check Columns."""
    from pyspark import StorageLevel

    schema = schema or CLIPS_CONSTRAINT_SCHEMA
    data_type = T.StructType([f for f in clips.schema if f.name not in ignore_cols])
    violations, fail_fast = _check_columns(schema, data_type, compile_opts or {},
                                           clips.sparkSession._jvm)
    validated = (clips.withColumn("violations", violations)
                 .withColumn("valid", F.size("violations") == 0))

    narrow = validated.drop("bytes")
    if persist:
        narrow = narrow.persist(StorageLevel.MEMORY_AND_DISK)

    # every part has exactly the columns (clip_id, constraint, path, observed)
    parts = [violation_rows(narrow, ["clip_id"])]
    if with_audio:
        passing = clips.filter(fail_fast).select(
            "clip_id", "bytes", "codec", "sr_hz", "transcript")
        parts.append(audio_violations(with_audio_checks(passing)))
    parts.append(uniqueness_violations(narrow, "clip_id"))
    parts.append(ri_violation_rows(narrow, "codec", codecs))

    all_v = parts[0]
    for p in parts[1:]:
        all_v = all_v.unionByName(p)

    return SuiteResult(
        validated=narrow,
        violations=all_v,
        verdicts=partition_verdicts(narrow),
    )
