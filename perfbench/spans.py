"""Span recording for the traced benchmark run.

Spans are recorded from the benchmark's side only: :meth:`Tracer.install`
replaces the public functions of each layer module (and every module
attribute that refers to them) with wrappers that open a span around the
call.  Nothing in the product is edited; :meth:`Tracer.uninstall` puts
the original functions back.

Spark plans are lazy, so a span around a layer function measures the
driver-side work of building that layer's plan.  Execution happens in
actions (``count``, ``collect``, sinks); those are wrapped too, under the
``spark`` layer, and the benchmark times each layer's execution with
separate probe actions (see ``workloads.py``).
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import sys
import time
from contextlib import contextmanager
from pathlib import Path

# layer name -> modules whose public functions are wrapped
LAYER_MODULES = {
    "session": ["jesse_spark.session"],
    "sources": ["jesse_spark.sources.fixtures"],
    "compiler": ["jesse_spark.compiler"],
    "pipeline": ["jesse_spark.plans.pipeline"],
    "validate": ["jesse_spark.plans.validate"],
    "audio": ["jesse_spark.functions.audio"],
    "uniqueness": ["jesse_spark.operators.uniqueness"],
    "integrity": ["jesse_spark.operators.integrity"],
    "report": ["jesse_spark.plans.report"],
    "checkpoint": ["jesse_spark.plans.checkpoint"],
    "cli": ["jesse_spark.cli"],
    "operators": ["jesse_spark.operators.dedup", "jesse_spark.operators.drift",
                  "jesse_spark.operators.similarity", "jesse_spark.operators.skew",
                  "jesse_spark.operators.stats", "jesse_spark.operators.text",
                  "jesse_spark.functions.paths", "jesse_spark.streaming.stateful"],
}
LAYERS = tuple(LAYER_MODULES) + ("spark", "bench")

# functions that run inside Python workers (wrapping them on the driver
# records nothing) or that are called per clip by the driver-side audio
# sub-phase timing, which has its own spans
_SKIP = {
    "jesse_spark.functions.audio": {"ulaw_encode", "ulaw_decode", "alaw_encode",
                                    "alaw_decode", "pcm16_encode", "pcm16_decode",
                                    "encode", "decode", "synth_pcm",
                                    "reference_transcript", "snr_db", "audio_verify"},
}
# private functions that are a layer's real entry point
_EXTRA = {"jesse_spark.cli": {"_validate_checkpointed"}}
# class methods wrapped as layer calls
_METHODS = {"checkpoint": ("jesse_spark.plans.checkpoint", "CheckpointManager",
                           ("completed_shards", "record", "run_totals", "pending"))}
# Spark actions and sinks: where plans execute
_SPARK = (("pyspark.sql.classic.dataframe", "DataFrame",
           ("count", "collect", "toPandas", "head")),
          ("pyspark.sql.readwriter", "DataFrameWriter", ("parquet", "json", "save")))


class Tracer:
    """Keeps spans in memory; :meth:`dump` writes them out at the end.

    A span is ``{id, name, layer, start, end, parent, pass}``: ``parent``
    is the id of the span open when it started, ``pass`` the pass id set
    with :meth:`in_pass`.  Times are ``perf_counter`` seconds."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._pass: str | None = None
        self._patches: list[tuple[object, str, object]] = []
        # last value each wrapped function returned, by span name
        self.returns: dict[str, object] = {}

    @contextmanager
    def span(self, name: str, layer: str = "bench"):
        rec = {"id": len(self.spans), "name": name, "layer": layer,
               "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "pass": self._pass}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def in_pass(self, pass_id: str):
        prev, self._pass = self._pass, pass_id
        try:
            with self.span(f"pass.{pass_id}"):
                yield
        finally:
            self._pass = prev

    # -- wrappers ---------------------------------------------------------
    def _wrapper(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name, layer):
                result = fn(*args, **kwargs)
            tracer.returns[name] = result
            return result

        traced.__perfbench_original__ = fn
        return traced

    def _patch(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def install(self) -> None:
        """Wrap every layer's public functions, the checkpoint manager's
        methods and the Spark actions and sinks."""
        originals: dict[int, object] = {}
        for layer, mods in LAYER_MODULES.items():
            for modname in mods:
                mod = importlib.import_module(modname)
                skip = _SKIP.get(modname, set())
                for attr, fn in list(vars(mod).items()):
                    if not inspect.isfunction(fn) or fn.__module__ != modname:
                        continue
                    if attr in skip or (attr.startswith("_")
                                        and attr not in _EXTRA.get(modname, ())):
                        continue
                    short = modname.rsplit(".", 1)[-1]
                    name = f"{layer}.{attr}" if layer != "operators" else f"operators.{short}.{attr}"
                    originals[id(fn)] = self._wrapper(fn, name, layer)
        # rebind every reference, including names imported into other
        # modules (``from jesse_spark.compiler import compile_checks``)
        for modname, mod in list(sys.modules.items()):
            if mod is None or not (modname.startswith("jesse_spark")
                                   or modname == "__spark_entry__"):
                continue
            for attr, val in list(vars(mod).items()):
                if id(val) in originals and inspect.isfunction(val):
                    self._patch(mod, attr, originals[id(val)])
        for layer, (modname, cls_name, methods) in _METHODS.items():
            cls = getattr(importlib.import_module(modname), cls_name)
            for m in methods:
                self._patch(cls, m, self._wrapper(getattr(cls, m), f"{layer}.{m}", layer))
        for modname, cls_name, methods in _SPARK:
            cls = getattr(importlib.import_module(modname), cls_name)
            for m in methods:
                self._patch(cls, m, self._wrapper(getattr(cls, m),
                                                  f"spark.{cls_name}.{m}", "spark"))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, old = self._patches.pop()
            setattr(owner, attr, old)

    # -- derived figures --------------------------------------------------
    def self_times(self, spans: list[dict] | None = None) -> dict[int, float]:
        """Span id -> self time: its duration minus the part of it that
        its direct children cover (children never overlap: one thread)."""
        spans = self.spans if spans is None else spans
        child = {s["id"]: 0.0 for s in spans}
        for s in spans:
            if s["parent"] in child and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: max(0.0, (s["end"] - s["start"]) - child[s["id"]])
                for s in spans if s["end"] is not None}

    def layer_self_times(self, pass_ids: list[str]) -> dict[str, float]:
        """Mean self time per layer over the given passes."""
        own = self.self_times()
        tot = {layer: 0.0 for layer in LAYERS}
        for s in self.spans:
            if s["pass"] in pass_ids and s["id"] in own:
                tot[s["layer"]] += own[s["id"]]
        return {layer: v / max(1, len(pass_ids)) for layer, v in tot.items()}

    def pass_ids(self, prefix: str) -> list[str]:
        """Ids of the passes recorded so far whose id starts with ``prefix``."""
        return list(dict.fromkeys(s["pass"] for s in self.spans
                                  if s["pass"] and s["pass"].startswith(prefix)))

    def durations(self, name: str, pass_ids: list[str] | None = None) -> list[float]:
        """Durations of the outermost ``name`` spans (a recursive call
        counts once), optionally only in the given passes."""
        by_id = {s["id"]: s for s in self.spans}

        def nested(s) -> bool:
            p = by_id.get(s["parent"])
            while p is not None:
                if p["name"] == name:
                    return True
                p = by_id.get(p["parent"])
            return False

        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None
                and (pass_ids is None or s["pass"] in pass_ids) and not nested(s)]

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans))
