"""The three workloads.

Each is a closed loop with one client, this process: on ``local[cpus]`` it
issues one operation, waits for it to finish, checks its output, and
issues the next, until ``--seconds`` have passed and each workload's
minimum number of operations has run.

Every workload returns the same end-to-end metrics (see ``README.md``)
and, when traced, the same per-layer metrics; a layer a workload does
not exercise reads 0.
"""

from __future__ import annotations

import contextlib
import io
import json
import math
import shutil
import statistics
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

import checks
import inputs
from spans import Tracer

PROBE_REPS = 3     # repetitions of each layer probe and audio sub-phase sweep
SUITE_CLIPS = 4000
CLI_CLIPS = 2000
CLI_FLAGS = ["--shards", "64", "--shard-batches", "2"]


@dataclass
class Ctx:
    root: Path
    work: Path
    cache: Path
    seed: int
    seconds: float
    cpus: int
    t_start: float                 # perf_counter at process start
    rss: object = None             # run.RssSampler: peak memory per operation
    clips: int | None = None       # overrides the workload's clip count
    tracer: Tracer | None = None


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    e2e: dict[str, float] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)
    info: dict = field(default_factory=dict)

    def record(self, problem: str) -> bool:
        """Count one attempted operation; ``problem`` non-empty = failed."""
        self.attempted += 1
        if problem:
            self.failed += 1
            self.errors.append(problem)
        return not problem

    def attempt(self, fn) -> tuple[bool, object]:
        """Run one operation; an exception counts it as attempted and
        failed and returns ``(False, None)``."""
        try:
            return True, fn()
        except Exception:  # the loop must go on and report the failure
            self.record(traceback.format_exc(limit=8))
            return False, None


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def geomean(xs) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(map(math.log, xs)) / len(xs)) if xs else 0.0


def get_spark():
    from jesse_spark.session import get_spark as make

    spark = make("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def closed_loop(seconds: float, op, min_reps: int) -> int:
    """Call ``op(i)`` until ``seconds`` have passed and ``min_reps`` calls
    completed; returns the number of calls."""
    t_end = time.perf_counter() + seconds
    i = 0
    while i < min_reps or time.perf_counter() < t_end:
        op(i)
        i += 1
    return i


def traced_flags(ctx: Ctx, i: int) -> bool:
    """In a traced run even-numbered operations are traced and odd ones
    are not, so both halves see the same host window."""
    return ctx.tracer is not None and i % 2 == 0


@contextlib.contextmanager
def maybe_traced(ctx: Ctx, on: bool, pass_id: str):
    if not on:
        yield
        return
    ctx.tracer.install()
    try:
        with ctx.tracer.in_pass(pass_id):
            yield
    finally:
        ctx.tracer.uninstall()


def trace_overhead(out: Outcome, walls: list[float], traced: list[bool]) -> None:
    on = [w for w, t in zip(walls, traced) if t]
    off = [w for w, t in zip(walls, traced) if not t]
    out.layer["trace.traced_wall_s"] = median(on)
    out.layer["trace.untraced_wall_s"] = median(off)
    out.layer["trace.overhead_pct"] = (100.0 * (median(on) / median(off) - 1.0)
                                       if on and off else 0.0)


def layer_self_times(ctx: Ctx, out: Outcome, pass_ids: list[str]) -> None:
    for layer, secs in ctx.tracer.layer_self_times(pass_ids).items():
        out.layer[f"self.{layer}_s"] = secs


def cold_loop(ctx: Ctx, op, discard) -> None:
    """Run ``op(pass_id, traced)`` for a workload timed from cold, whose
    first operation in the session is the one measured.  Untraced: a
    closed loop (a single operation while one outlasts ``--seconds``).
    Traced: one untraced cold operation, dropped by ``discard()``, then
    traced and untraced warm ones, so the tracing overhead compares warm
    operations."""
    if ctx.tracer is None:
        closed_loop(ctx.seconds, lambda i: op(f"c{i}", False), min_reps=1)
        return
    op("cold", False)
    discard()
    closed_loop(ctx.seconds, lambda i: op(f"w{i}", traced_flags(ctx, i)), min_reps=2)


# ---------------------------------------------------------------------------
# suite_audio: in-process run_full_suite over the clips fixture
# ---------------------------------------------------------------------------
def suite_audio(ctx: Ctx) -> Outcome:
    # layer functions are looked up through their modules at call time,
    # so the traced run's wrappers see the calls
    from jesse_spark.plans import pipeline
    from jesse_spark.sources import fixtures

    out = Outcome()
    n = ctx.clips or SUITE_CLIPS
    expected, invalid = checks.expected_clip_violations(n, "suite_audio")
    spark = get_spark()
    t_session = time.perf_counter() - ctx.t_start
    path, gen_s = inputs.clips(get_spark, ctx.cache, ctx.root, n, ctx.seed, ctx.cpus)

    def suite_pass(spark):
        """One pass: build the plan, collect the violation rows, collect
        the verdicts; returns the three step walls and the check result."""
        clips = spark.read.parquet(path)
        t0 = time.perf_counter()
        res = pipeline.run_full_suite(clips, fixtures.codecs_df(spark))
        t1 = time.perf_counter()
        viol = res.violations.select("clip_id", "constraint", "path").collect()
        t2 = time.perf_counter()
        verd = res.verdicts.collect()
        t3 = time.perf_counter()
        res.validated.unpersist()
        got = {tuple(r) for r in viol}
        problem = checks.diff_sets(got, expected)
        if len(viol) != len(got):
            problem += f" {len(viol) - len(got)} duplicate violation rows"
        rows = sum(r["rows"] for r in verd)
        bad = sum(r["invalid_rows"] for r in verd)
        if (rows, bad) != (n, invalid):
            problem += f" verdicts: rows={rows} invalid={bad}, expected {n}/{invalid}"
        return (t1 - t0, t2 - t1, t3 - t2), problem and f"suite pass: {problem}"

    suite_pass(spark)          # warm-up
    setup_s = time.perf_counter() - ctx.t_start - gen_s

    steps: list[tuple[float, float, float]] = []
    traced: list[bool] = []
    peaks: list[float] = []

    def op(i):
        on = traced_flags(ctx, i)
        ctx.rss.reset()
        with maybe_traced(ctx, on, f"p{i}"):
            ok, got = out.attempt(lambda: suite_pass(spark))
        if ok and out.record(got[1]):
            steps.append(got[0])
            traced.append(on)
            peaks.append(ctx.rss.peak_mb)

    closed_loop(ctx.seconds, op, min_reps=4)
    walls = [sum(s) for s in steps]
    out.e2e = {"setup_s": setup_s, "wall_s": median(walls), "peak_rss_mb": median(peaks)}
    out.info = {"clips": n, "clips_per_s": n / median(walls) if walls else 0.0,
                "passes": len(walls), "walls_s": walls, "inputs_s": gen_s,
                "steps_s": {k: median(col) for k, col in
                            zip(("plan", "violations", "verdicts"), zip(*steps))}}

    if ctx.tracer is not None:
        trace_overhead(out, walls, traced)
        ids = ctx.tracer.pass_ids("p")
        layer_self_times(ctx, out, ids)
        tr = ctx.tracer
        out.layer.update({
            "session.start_s": t_session,
            "sources.generate_s": gen_s,
            "compiler.compile_s": median(tr.durations("compiler.compile_checks", ids)),
            "compiler.checks": float(len(tr.returns.get("compiler.compile_checks", ()))),
            "pipeline.plan_s": median(tr.durations("pipeline.run_full_suite", ids)),
        })
        suite_probes(ctx, out, spark, path)
        audio_phases(out, spark, path)
    spark.stop()
    return out


def suite_probes(ctx: Ctx, out: Outcome, spark, path: str) -> None:
    """Time each stage's execution on its own: build the suite once with
    the tracer capturing each layer's returned DataFrame, materialize the
    shared cached projection, then run one action per stage."""
    from jesse_spark.plans import pipeline
    from jesse_spark.sources import fixtures

    tr = ctx.tracer
    tr.install()
    try:
        res = pipeline.run_full_suite(spark.read.parquet(path), fixtures.codecs_df(spark))
    finally:
        tr.uninstall()
    res.validated.count()          # fills the persisted narrow projection
    probes = {
        "validate.rows": ("validate.violation_rows", "count", "validate.row_violations"),
        "validate.verdicts": ("validate.partition_verdicts", "collect", None),
        "uniqueness": ("uniqueness.uniqueness_violations", "count", "uniqueness.dup_keys"),
        "integrity": ("integrity.ri_violation_rows", "count", "integrity.orphans"),
        "audio.stage": ("audio.audio_violations", "count", "audio.violations"),
    }
    reps = {k: [] for k in probes}
    for _ in range(PROBE_REPS):
        for metric, (fn_name, action, count_metric) in probes.items():
            df = tr.returns[fn_name]
            with tr.span(f"probe.{metric}", metric.split(".")[0]) as s:
                got = getattr(df, action)()
            reps[metric].append(s["end"] - s["start"])
            if count_metric:
                out.layer[count_metric] = float(got if action == "count" else len(got))
    for metric, walls in reps.items():
        name = f"{metric}_s" if "." in metric else f"{metric}.s"
        out.layer[name] = median(walls)
    out.layer["audio.rows"] = float(tr.returns["audio.with_audio_checks"].count())
    res.validated.unpersist()


def audio_phases(out: Outcome, spark, path: str, batch: int = 1000) -> None:
    """Per-clip cost of the audio UDF's phases, run on the driver over
    one Arrow batch of fixture rows (median of three sweeps)."""
    from jesse_spark.functions import audio

    pdf = (spark.read.parquet(path).filter("codec in ('pcm_s16le', 'ulaw', 'alaw')")
           .select("clip_id", "bytes", "codec", "sr_hz", "transcript")
           .limit(batch).toPandas())
    rows = list(pdf.itertuples(index=False))
    sweeps = {k: [] for k in ("decode", "synth", "snr", "transcript")}
    for _ in range(PROBE_REPS):
        acc = dict.fromkeys(sweeps, 0.0)
        for cid, raw, codec, sr, tr in rows:
            t0 = time.perf_counter()
            dec = audio.decode(raw, codec)
            t1 = time.perf_counter()
            ref = audio.synth_pcm(cid, int(sr), len(dec))
            t2 = time.perf_counter()
            audio.snr_db(ref, dec)
            t3 = time.perf_counter()
            _ = tr == audio.reference_transcript(cid)
            t4 = time.perf_counter()
            acc["decode"] += t1 - t0
            acc["synth"] += t2 - t1
            acc["snr"] += t3 - t2
            acc["transcript"] += t4 - t3
        for k, v in acc.items():
            sweeps[k].append(v / max(1, len(rows)) * 1e6)
    for k, v in sweeps.items():
        out.layer[f"audio.{k}_us"] = median(v)


# ---------------------------------------------------------------------------
# cli_checkpointed: jesse_spark.cli.main with a fresh checkpoint directory
# ---------------------------------------------------------------------------
def _files(d: Path, pattern: str) -> list[Path]:
    return [p for p in d.rglob(pattern) if p.is_file()] if d.exists() else []


@contextlib.contextmanager
def session_kept():
    """``cli.main`` stops its session before it returns.  Keep it running,
    as a long-lived driver calling ``cli.main`` would: PySpark cannot start
    a second JVM in one process while the product's module-level UDFs and
    cached compiled checks still refer to the first, and a SparkContext
    restarted on the same JVM loses PySpark's accumulator updates to a
    closed socket."""
    from pyspark.sql import SparkSession

    stop = SparkSession.stop
    SparkSession.stop = lambda self: None
    try:
        yield
    finally:
        SparkSession.stop = stop


def cli_checkpointed(ctx: Ctx) -> Outcome:
    """Each operation is one ``cli.main`` run in the session set-up started.
    A CLI process runs once, so the first, cold run is the one timed."""
    from jesse_spark import cli

    out = Outcome()
    n = ctx.clips or CLI_CLIPS
    expected, invalid = checks.expected_clip_violations(n, "cli_checkpointed")
    get_spark()
    t_session = time.perf_counter() - ctx.t_start
    path, gen_s = inputs.clips(get_spark, ctx.cache, ctx.root, n, ctx.seed, ctx.cpus)
    runs_dir = ctx.work / "cli"

    def cli_run(tag: str) -> tuple[float, dict, Path]:
        d = runs_dir / tag
        shutil.rmtree(d, ignore_errors=True)
        argv = ["validate", "--input", path, "--output", str(d / "out"),
                "--json-reports", str(d / "reports"),
                "--checkpoint-dir", str(d / "ckpt"), *CLI_FLAGS]
        buf = io.StringIO()
        t0 = time.perf_counter()
        with contextlib.redirect_stdout(buf), session_kept():
            rc = cli.main(argv)
        wall = time.perf_counter() - t0
        lines = [ln for ln in buf.getvalue().splitlines() if ln.startswith("{")]
        summary = json.loads(lines[-1]) if lines else {}
        summary["rc"] = rc
        return wall, summary, d

    setup_s = time.perf_counter() - ctx.t_start - gen_s

    def check(summary: dict, d: Path) -> str:
        """The run's exit code and totals, and the violations it wrote."""
        import duckdb

        problem = ""
        if (summary.get("rc"), summary.get("rows"), summary.get("invalid_rows")) != (1, n, invalid):
            problem = f"summary {summary}, expected rc=1 rows={n} invalid_rows={invalid}; "
        con = duckdb.connect()
        try:
            got = con.sql(
                f"SELECT clip_id, \"constraint\", path FROM read_parquet("
                f"'{d / 'out'}/**/*.parquet', hive_partitioning = true)").fetchall()
        finally:
            con.close()
        problem += checks.diff_sets(set(got), expected)
        if len(got) != len(set(got)):
            problem += f" {len(got) - len(set(got))} duplicate violation rows"
        return problem and f"cli run: {problem}"

    walls: list[float] = []
    traced: list[bool] = []
    peaks: list[float] = []
    last: Path | None = None

    def op(pass_id: str, on: bool) -> None:
        nonlocal last
        ctx.rss.reset()
        with maybe_traced(ctx, on, pass_id):
            ok, got = out.attempt(lambda: cli_run(pass_id))
        if not ok:
            return
        wall, summary, d = got
        peak = ctx.rss.peak_mb
        if out.record(check(summary, d)):
            walls.append(wall)
            traced.append(on)
            peaks.append(peak)
        if last is not None:
            shutil.rmtree(last, ignore_errors=True)
        last = d

    def discard() -> None:
        for xs in (walls, traced, peaks):
            xs.clear()

    cold_loop(ctx, op, discard)
    out.e2e = {"setup_s": setup_s, "wall_s": median(walls), "peak_rss_mb": median(peaks)}
    out.info = {"clips": n, "clips_per_s": n / median(walls) if walls else 0.0,
                "runs": len(walls), "walls_s": walls, "inputs_s": gen_s}
    if last is not None and ctx.tracer is not None:
        cli_layers(ctx, out, walls, traced, last, gen_s, t_session, len(expected))
    shutil.rmtree(runs_dir, ignore_errors=True)
    return out


def cli_layers(ctx: Ctx, out: Outcome, walls, traced, last: Path, gen_s: float,
               t_session: float, n_viol: int) -> None:
    tr = ctx.tracer
    trace_overhead(out, walls, traced)
    ids = tr.pass_ids("w")
    layer_self_times(ctx, out, ids)
    by_id = {s["id"]: s for s in tr.spans}

    def per_run(name: str, parent: str | None = None) -> float:
        """Median over traced runs of the summed duration of ``name``
        spans (optionally only those directly under a ``parent`` span)."""
        sums = []
        for pid in ids:
            tot = sum(s["end"] - s["start"] for s in tr.spans
                      if s["pass"] == pid and s["name"] == name and s["end"] is not None
                      and (parent is None or by_id.get(s["parent"], {}).get("name") == parent))
            sums.append(tot)
        return median(sums)

    # a batch runs from its run_full_suite call to the end of its
    # checkpoint record
    batches, counts = [], []
    for pid in ids:
        starts = [s["start"] for s in tr.spans
                  if s["pass"] == pid and s["name"] == "pipeline.run_full_suite"]
        ends = [s["end"] for s in tr.spans
                if s["pass"] == pid and s["name"] == "checkpoint.record"]
        batches += [e - s for s, e in zip(starts, ends)]
        counts.append(len(starts))
    viol_files = _files(last / "out", "*.parquet")
    rep_files = _files(last / "reports", "*.json")
    out.layer.update({
        "session.start_s": t_session,
        "sources.generate_s": gen_s,
        "compiler.compile_s": median(tr.durations("compiler.compile_checks", ids)),
        "compiler.checks": float(len(tr.returns.get("compiler.compile_checks", ()))),
        "pipeline.plan_s": median(tr.durations("pipeline.run_full_suite", ids)),
        "cli.batch_s": median(batches),
        "cli.batches": float(median(counts)),
        "report.violations_write_s": per_run("spark.DataFrameWriter.parquet",
                                             "cli._validate_checkpointed"),
        "report.json_write_s": per_run("spark.DataFrameWriter.json"),
        "report.files": float(len(viol_files) + len(rep_files)),
        "report.bytes": float(sum(p.stat().st_size for p in viol_files + rep_files)),
        "report.rows_per_file": n_viol / max(1, len(viol_files)),
        "checkpoint.snapshot_id_s": per_run("checkpoint.input_snapshot_id"),
        "checkpoint.completed_shards_s": per_run("checkpoint.completed_shards"),
        "checkpoint.record_s": per_run("checkpoint.record"),
        "checkpoint.run_totals_s": per_run("checkpoint.run_totals"),
        "checkpoint.manifest_files": float(len(_files(last / "ckpt", "*.parquet"))),
    })


# ---------------------------------------------------------------------------
# operator_queries: every __spark_entry__ query to the noop sink
# ---------------------------------------------------------------------------
def operator_queries(ctx: Ctx) -> Outcome:
    """One operation is one pass over every entry query in the seeded
    order, each built and collected to the driver in a fresh session (the
    first pass pays JIT and code generation, as a driver running each query
    once does) and compared with its DuckDB oracle after it is timed."""
    import __spark_entry__ as entry

    out = Outcome()
    sf = str(inputs.SF_DIR)
    queries = entry.queries()
    order = inputs.query_order(list(queries), ctx.seed)
    oracles, oracle_s = inputs.oracles(ctx.cache, inputs.SF_DIR)
    spark = get_spark()
    t_session = time.perf_counter() - ctx.t_start
    setup_s = time.perf_counter() - ctx.t_start - oracle_s

    per_query: dict[str, list[float]] = {q: [] for q in order}
    pass_walls: list[float] = []
    traced: list[bool] = []
    peaks: list[float] = []

    def one_pass(pass_id: str, on: bool) -> None:
        total = 0.0
        ctx.rss.reset()
        with maybe_traced(ctx, on, pass_id):
            for name in order:
                t0 = time.perf_counter()
                ok, got = out.attempt(lambda: queries[name](spark, sf).toPandas())
                wall = time.perf_counter() - t0
                total += wall
                if not ok:
                    continue
                problem = checks.compare_to_oracle(got, oracles[name])
                if out.record(problem and f"query {name}: {problem}") and not on:
                    per_query[name].append(wall)
        if not on:
            # the pass's peak: Python workers started by one query stay up
            # for the next, so a per-query peak would depend on the order
            peaks.append(ctx.rss.peak_mb)
        pass_walls.append(total)
        traced.append(on)

    def discard() -> None:
        for xs in (*per_query.values(), pass_walls, traced, peaks):
            xs.clear()

    cold_loop(ctx, one_pass, discard)
    meds = {q: median(w) for q, w in per_query.items()}
    out.e2e = {"setup_s": setup_s, "wall_s": sum(meds.values()), "peak_rss_mb": median(peaks)}
    out.info = {"queries": len(order), "passes": len(pass_walls), "pass_walls_s": pass_walls,
                "queries_total_s": sum(meds.values()),
                "queries_geomean_s": geomean(list(meds.values())),
                "per_query_s": meds, "oracles_s": oracle_s}

    if ctx.tracer is not None:
        trace_overhead(out, pass_walls, traced)
        layer_self_times(ctx, out, ctx.tracer.pass_ids("w"))
        out.layer["session.start_s"] = t_session
        for q, v in meds.items():
            out.layer[f"op.{q}_s"] = v
        out.layer["op.geomean_s"] = geomean(list(meds.values()))
    spark.stop()
    return out


WORKLOADS = {"suite_audio": suite_audio, "cli_checkpointed": cli_checkpointed,
             "operator_queries": operator_queries}
