"""spark-submit entrypoint (north_rule: packaged for --py-files).

Usage::

    zip -r jesse_spark.zip jesse_spark
    spark-submit --py-files jesse_spark.zip -m jesse_spark.cli ...   # or
    spark-submit --py-files jesse_spark.zip cli.py validate \\
        --input  <parquet/iceberg path or table>            \\
        --schema schema.json                                 \\
        --output /out/violations                             \\
        [--codecs <ref table path>] [--checkpoint-dir /ckpt] \\
        [--run-id r1] [--shards 256] [--json-reports /out/reports]

Mirrors the reference CLI contract (jesse_cli.erl:36-97): load
schema(s), validate every instance, emit verdicts + error reports,
non-zero exit when any instance failed (halt(1), jesse_cli.erl:80-87).
"""

from __future__ import annotations

import argparse
import json
import sys
import time
import uuid

from pyspark.sql import functions as F

from jesse_spark.plans.report import write_json_reports, write_violations


def _read_input(spark, path: str):
    """Resolve the input reference (north_rule names Iceberg tables):

    - ``iceberg:<catalog.db.table>[@<snapshot_id>]`` → Iceberg source,
      optionally pinned to a snapshot (time-travel read) — requires the
      Iceberg runtime jar on the classpath, hence gated on the prefix;
    - a filesystem path → parquet directory (this sandbox's stand-in);
    - anything else → catalog table.
    """
    if path.startswith("iceberg:"):
        table, _, snap = path[len("iceberg:"):].partition("@")
        reader = spark.read.format("iceberg")
        if snap:
            reader = reader.option("snapshot-id", snap)
        return reader.load(table)
    if path.endswith(".parquet") or "/" in path:
        return spark.read.parquet(path)
    return spark.read.table(path)  # catalog table


def pin_input_ref(spark, input_ref: str) -> str:
    """Pin an un-pinned iceberg ref to the table's CURRENT snapshot:
    lazy batch actions would otherwise each re-resolve "latest", so a
    mid-run commit could make later shards validate data the recorded
    snapshot id never saw.  Already-pinned refs (``@snap``) and
    non-iceberg inputs pass through unchanged."""
    if input_ref.startswith("iceberg:") and "@" not in input_ref:
        from jesse_spark.plans.checkpoint import input_snapshot_id

        return f"{input_ref}@{input_snapshot_id(spark, input_ref)}"
    return input_ref


def _compile_opts(args) -> dict:
    opts = {}
    if args.anyof_detail_max is not None:
        opts["anyof_detail_max"] = args.anyof_detail_max
    if args.ref_unroll_max is not None:
        opts["ref_unroll_max"] = args.ref_unroll_max
    if args.no_pattern_lint:
        opts["pattern_lint"] = False
    return opts


def cmd_validate(args) -> int:
    from jesse_spark.plans.pipeline import run_full_suite
    from jesse_spark.session import get_spark
    from jesse_spark.sources.fixtures import codecs_df

    spark = get_spark("jesse-spark-validate", master=args.master)
    input_ref = args.input
    if args.checkpoint_dir:
        input_ref = pin_input_ref(spark, input_ref)
    clips = _read_input(spark, input_ref)
    schema = json.loads(open(args.schema).read()) if args.schema else None
    codecs = _read_input(spark, args.codecs) if args.codecs else codecs_df(spark)

    t0 = time.time()
    if args.checkpoint_dir:
        from jesse_spark.plans.checkpoint import CheckpointManager, input_snapshot_id

        # snapshot pinned ONCE for the whole invocation (input_ref carries
        # the @snapshot for iceberg inputs, so reads are pinned too):
        # processing and the final verdict must agree even if the input
        # moves underneath us
        snap = input_snapshot_id(spark, input_ref)
        cm = CheckpointManager(spark, args.checkpoint_dir)
        # outputs are scoped by run_id AND snapshot: reusing a --run-id
        # after the input changed (new snapshot ⇒ all shards pending again)
        # starts from an empty directory instead of next to the old
        # snapshot's committed batches (ADVICE r2)
        out_dir = f"{args.output}/run_id={args.run_id}/snapshot={snap}"
        rep_dir = (f"{args.json_reports}/run_id={args.run_id}/snapshot={snap}"
                   if args.json_reports else None)
        extra = {"rows_this_run": _validate_checkpointed(
            spark, args, clips, codecs, schema, cm=cm, snap=snap,
            out_dir=out_dir, rep_dir=rep_dir)}
        # run verdict = union of ALL completed shards' manifests, so a
        # resumed (or re-run) invocation reports and exits on the whole
        # run, not just the shards it happened to process
        rows, invalid = cm.run_totals(args.run_id, snap)
    else:
        # plain one-shot run: overwrite outputs, verdict from this run
        out_dir, extra = args.output, {}
        res = run_full_suite(clips, codecs, schema=schema,
                             with_audio=not args.no_audio,
                             compile_opts=_compile_opts(args))
        write_violations(res.violations, out_dir)
        if args.json_reports:
            write_json_reports(res.validated, args.json_reports, key_col=args.key)
        verd = res.verdicts.agg(
            F.sum("rows").alias("rows"),
            F.sum("invalid_rows").alias("invalid")).head()
        rows, invalid = verd["rows"] or 0, verd["invalid"] or 0
    print(json.dumps({
        "rows": rows, "invalid_rows": invalid, **extra,
        "wall_sec": round(time.time() - t0, 2),
        "violations_path": out_dir,
    }))
    spark.stop()
    # halt(1) on any failing instance, like the reference CLI
    return 1 if invalid > 0 else 0


def _validate_checkpointed(spark, args, clips, codecs, schema, *, cm, snap,
                           out_dir, rep_dir) -> int:
    """Resumable run in ``--shard-batches`` groups.  Each group writes
    through the one-shot sinks to fresh ``out_dir/batch=<id>/`` and
    ``rep_dir/batch=<id>/`` directories, then commits them with manifest
    rows naming the id.  ``batch=*`` directories no manifest names (a
    group that crashed before it committed) are deleted first, so a
    resume re-does only shards with no manifest, over clean output."""
    from jesse_spark.plans.checkpoint import shard_verdicts, with_shard
    from jesse_spark.plans.pipeline import run_full_suite

    done = set(cm.completed_shards(args.run_id, snap))
    cm.sweep(args.run_id, snap, *filter(None, (out_dir, rep_dir)))
    pending = [s for s in range(args.shards) if s not in done]
    sharded = with_shard(clips, args.key, args.shards)

    n_batches = max(1, min(args.shard_batches, len(pending) or 1))
    rows_this_run = 0
    for b in range(n_batches):
        batch = [s for s in pending if s % n_batches == b]
        if not batch:
            continue
        tb = time.time()
        batch_id = uuid.uuid4().hex
        part = sharded.filter(F.col("_shard").isin(batch))
        res = run_full_suite(part, codecs, schema=schema,
                             with_audio=not args.no_audio,
                             compile_opts=_compile_opts(args),
                             ignore_cols=("_shard",))
        write_violations(res.violations, f"{out_dir}/batch={batch_id}")
        if rep_dir:
            write_json_reports(res.validated, f"{rep_dir}/batch={batch_id}",
                               key_col=args.key)
        # manifest covers EVERY shard of the batch (incl. empty ones),
        # else a rowless shard would stay pending forever; collect once
        # (≤ |batch| tiny rows) so the suite isn't re-evaluated
        got = {r["shard"]: (r["rows"], r["invalid_rows"], r["passed"])
               for r in shard_verdicts(res.validated).collect()}
        sv_rows = [(s, *got.get(s, (0, 0, True))) for s in batch]
        cm.record(args.run_id, snap, sv_rows, wall_sec=time.time() - tb,
                  batch=batch_id)
        rows_this_run += sum(r[1] for r in sv_rows)
        # each batch persists its own narrow projection (pipeline.py);
        # release it so a many-batch run doesn't accumulate caches
        res.validated.unpersist()
    return rows_this_run


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="jesse_spark")
    sub = p.add_subparsers(dest="cmd", required=True)
    v = sub.add_parser("validate")
    v.add_argument("--input", required=True)
    v.add_argument("--schema", default=None, help="JSON-Schema file; default = clips suite")
    v.add_argument("--output", required=True)
    v.add_argument("--codecs", default=None)
    v.add_argument("--key", default="clip_id")
    v.add_argument("--master", default=None)
    v.add_argument("--checkpoint-dir", default=None)
    v.add_argument("--run-id", default="run-default")
    v.add_argument("--shards", type=int, default=256)
    v.add_argument("--shard-batches", type=int, default=1,
                   help="process shards in N groups, checkpointing after "
                        "each (crash loses at most one group)")
    v.add_argument("--json-reports", default=None)
    v.add_argument("--no-audio", action="store_true")
    v.add_argument("--anyof-detail-max", type=int, default=None,
                   help="anyOf branch-detail budget (compile option)")
    v.add_argument("--ref-unroll-max", type=int, default=None,
                   help="recursive-$ref unroll depth (compile option)")
    v.add_argument("--no-pattern-lint", action="store_true",
                   help="silence the regex-portability lint")
    v.set_defaults(fn=cmd_validate)
    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
