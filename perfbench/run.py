"""jesse_spark benchmark: three closed-loop workloads, one JSON result.

Usage (from the repository root)::

    python3 perfbench/run.py --workload suite_audio --seed 1 --seconds 8 --trace 0

Workloads (``workloads.py``): ``suite_audio``, ``cli_checkpointed`` and
``operator_queries``.  With ``--trace 0`` the last line of standard output
carries the end-to-end metrics; with ``--trace 1`` wrappers around each
layer's public functions record spans, the spans are written to
``perfbench/.work/spans-<workload>-<seed>.json`` and the last line carries
the per-layer metrics.  ``README.md`` lists every metric.

The session is sized to the host: ``local[<cpus>]``, as many shuffle
partitions, and a driver heap of an eighth of RAM (at most 2 GiB), touched
at JVM start so the JVM's share of the memory metric is fixed.  Spark, the
JVM and Python keep their scratch files under ``perfbench/.work``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
CACHE = HERE / ".inputs"
WORKLOADS = ("suite_audio", "cli_checkpointed", "operator_queries")


def size_host() -> dict:
    """Size the Spark session to this host through the environment the
    product reads (``SPARK_GRAFT_CPUS``, ``SPARK_DRIVER_MEM``) and keep
    every scratch file inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    ram_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    mem_gib = max(1, min(2, round(ram_gib / 8)))
    tmp, local = WORK / "tmp", WORK / "spark-local"
    for d in (tmp, local, CACHE):
        d.mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": f"{mem_gib}g",
        "SPARK_LOCAL_DIRS": str(local),
        "TMPDIR": str(tmp),
        "PYSPARK_SUBMIT_ARGS": ("--conf spark.ui.showConsoleProgress=false "
                                f'--driver-java-options "-Djava.io.tmpdir={tmp} '
                                f'-Xms{mem_gib}g -XX:+AlwaysPreTouch '
                                '-XX:-UsePerfData" pyspark-shell'),
    })
    return {"cpus": cpus, "ram_gib": round(ram_gib, 1), "driver_mem_gib": mem_gib}


def host_stamp(host: dict) -> dict:
    import pyspark

    sys.path.insert(0, str(ROOT))
    from bench import _raw_control

    return {**host, "spark": pyspark.__version__,
            "hw_probe_items_per_s": round(_raw_control(host["cpus"], 1000), 1)}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not (ROOT / "jesse_spark" / "__init__.py").is_file() \
            or not (ROOT / "__spark_entry__.py").is_file():
        print(f"perfbench: no jesse_spark sources under {ROOT}; nothing to measure",
              file=sys.stderr)
        return 2
    host = size_host()
    stamp = host_stamp(host)   # before any thread or JVM exists: it forks
    sys.path.insert(0, str(HERE))
    import procs
    import workloads
    from spans import Tracer

    clips = os.environ.get("PERFBENCH_CLIPS")
    try:
        with procs.RssSampler() as rss:
            ctx = workloads.Ctx(root=ROOT, work=WORK, cache=CACHE, seed=args.seed,
                                seconds=args.seconds, cpus=host["cpus"], t_start=T_START,
                                rss=rss, clips=int(clips) if clips else None,
                                tracer=Tracer() if args.trace else None)
            out = workloads.WORKLOADS[args.workload](ctx)
    finally:
        procs.stop_spark()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.trace:
        ctx.tracer.dump(WORK / f"spans-{args.workload}-{args.seed}.json")
        names = {m["name"]: m["unit"] for m in spec["per_layer"]}
        values = out.layer
    else:
        names = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        values = out.e2e
    for err in out.errors:
        print(f"perfbench: FAILED: {err}", file=sys.stderr)
    print(json.dumps({"workload": args.workload, "seed": args.seed, "host": stamp,
                      **out.info}))
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": float(values.get(k, 0.0)), "unit": u}
                    for k, u in names.items()},
    }))
    shutil.rmtree(WORK / "tmp", ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
