"""Record what the schema compilers emit, to prove a refactor left it unchanged.

As a pytest plugin it wraps ``compile_checks`` and
``compile_variant_checks`` and writes one JSON line per TOP-LEVEL call
(a call made while no other compiler call is on the stack): the call's
arguments, then per check ``[constraint, path, str(pred(col("x"))),
str(observed(col("x")))]``, or the ``SchemaError``/exception the call
raised.  Lambda variable ids (``x_123``), object addresses and pytest
temporary directories are normalized so two runs of the same code
compare equal::

    python -m pytest -p tools.record_compiled --record-compiled=/tmp/a.jsonl \\
        tests/test_conformance.py ... -q -p no:cacheprovider

``bench OUT`` records the two schemas the benchmark compiles, each
against its table type (starts a local Spark session and reads the
``documents`` table of SF_DIR, default ``__spark_entry__.DEFAULT_SF``)::

    python tools/record_compiled.py bench /tmp/a_bench.jsonl [SF_DIR]

``diff A B`` prints every call whose record differs (by test id and
call index) and exits 1 if any does.  ``--loose FN`` compares the
calls of compiler FN by their ordered ``(constraint, path)`` list and
outcome only, and counts the calls whose rendering changed::

    python tools/record_compiled.py diff /tmp/a.jsonl /tmp/b.jsonl \
        [--loose compile_variant_checks]
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

_LAMBDA_VAR = re.compile(r"\b([A-Za-z]+)_(\d+)\b")
_ADDR = re.compile(r"0x[0-9a-fA-F]+")
_TMP = re.compile(r"/tmp/pytest-of-[^/]+/pytest-\d+/")


def normalize(text: str) -> str:
    """Rename ``name_<n>`` lambda variables by order of first
    appearance and blank addresses and pytest tmp roots."""
    text = _TMP.sub("<tmp>/", _ADDR.sub("0x?", text))
    seen: dict[str, str] = {}

    def rename(m: re.Match) -> str:
        return seen.setdefault(m.group(0), f"{m.group(1)}_#{len(seen)}")
    return _LAMBDA_VAR.sub(rename, text)


def _arg(value) -> object:
    from pyspark.sql import types as T

    from jesse_spark.schema.parser import SchemaRegistry

    if isinstance(value, T.DataType):
        return value.simpleString()
    if isinstance(value, SchemaRegistry):
        return {"registry": sorted(value._by_id)}
    return value


def _render(check) -> list[str]:
    from pyspark.sql import functions as F

    return [check.constraint, check.path,
            normalize(str(check.pred(F.col("x")))),
            normalize(str(check.observed(F.col("x"))))]


class Recorder:
    def __init__(self, out) -> None:
        self.out = out
        self.depth = 0
        self.test = ""
        self.index = 0

    def wrap(self, fn):
        def recorded(*args, **kwargs):
            if self.depth:
                return fn(*args, **kwargs)
            self.depth += 1
            try:
                checks = fn(*args, **kwargs)
            except Exception as exc:
                self.write(fn.__name__, args, kwargs,
                           {"raised": [type(exc).__name__,
                                       str(getattr(exc, "code", exc))]})
                raise
            finally:
                self.depth -= 1
            self.write(fn.__name__, args, kwargs,
                       {"checks": [_render(c) for c in checks]})
            return checks
        recorded.__wrapped__ = fn
        return recorded

    def write(self, name, args, kwargs, result) -> None:
        rec = {"test": self.test, "i": self.index, "fn": name,
               "args": [_arg(a) for a in args],
               "kwargs": {k: _arg(v) for k, v in sorted(kwargs.items())},
               **result}
        self.index += 1
        self.out.write(normalize(json.dumps(rec, default=repr)) + "\n")
        self.out.flush()


def install(recorder: Recorder) -> None:
    """Wrap both compilers and rebind every name already imported from
    them in ``jesse_spark`` and test modules."""
    import jesse_spark.compiler as tc
    import jesse_spark.variant_compiler as vc

    originals = {}
    for mod, name in ((tc, "compile_checks"), (vc, "compile_variant_checks")):
        fn = getattr(mod, name)
        originals[id(fn)] = recorder.wrap(fn)
    for mod in list(sys.modules.values()):
        if mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            if id(val) in originals and callable(val):
                setattr(mod, attr, originals[id(val)])


# ---------------------------------------------------------------------------
# pytest plugin
# ---------------------------------------------------------------------------
_RECORDER: Recorder | None = None


def pytest_addoption(parser) -> None:
    parser.addoption("--record-compiled", default=None, metavar="PATH",
                     help="write every top-level compiler call as JSONL")


def pytest_configure(config) -> None:
    global _RECORDER
    path = config.getoption("--record-compiled")
    if path:
        from jesse_spark.session import get_spark

        # checks render Columns, which needs a live session; this is the
        # same one the tests' ``spark`` fixture asks for
        get_spark("tests", master="local[4]", shuffle_partitions=4)
        _RECORDER = Recorder(open(path, "w"))
        install(_RECORDER)


def pytest_runtest_setup(item) -> None:
    if _RECORDER is not None:
        _RECORDER.test, _RECORDER.index = item.nodeid, 0


# ---------------------------------------------------------------------------
# command line
# ---------------------------------------------------------------------------
def _bench(out_path: str, sf_dir: str | None) -> None:
    root = Path(__file__).resolve().parent.parent
    sys.path.insert(0, str(root))
    from pyspark.sql import types as T

    import __spark_entry__ as entry
    from jesse_spark.compiler import compile_checks
    from jesse_spark.session import get_spark
    from jesse_spark.sources import fixtures

    spark = get_spark("record_compiled", master="local[1]", shuffle_partitions=1)
    with open(out_path, "w") as out:
        rec = Recorder(out)
        compile_ = rec.wrap(compile_checks)
        rec.test = "bench::CLIPS_CONSTRAINT_SCHEMA"
        compile_(fixtures.CLIPS_CONSTRAINT_SCHEMA,
                 T._parse_datatype_string(fixtures.CLIPS_SCHEMA),
                 null_is_absent=True)
        rec.test, rec.index = "bench::DOCS_SCHEMA", 0
        sf_dir = sf_dir or entry.DEFAULT_SF
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
        compile_(entry.DOCS_SCHEMA, docs, null_is_absent=True)
    spark.stop()


def _load(path: str) -> dict:
    out = {}
    for line in open(path):
        rec = json.loads(line)
        out[(rec["test"], rec["i"])] = rec
    return out


def _codes(rec: dict) -> dict:
    return {**rec, "checks": [c[:2] for c in rec.get("checks", [])]}


def _diff(a_path: str, b_path: str, loose: str | None = None) -> int:
    a, b = _load(a_path), _load(b_path)
    counts = {"differ": 0, "only in A": 0, "only in B": 0, "re-rendered": 0}
    for key in sorted(set(a) | set(b)):
        ra, rb = a.get(key), b.get(key)
        if ra == rb:
            continue
        if ra and rb and ra["fn"] == rb["fn"] == loose \
                and _codes(ra) == _codes(rb):
            counts["re-rendered"] += 1
            continue
        counts["differ" if ra and rb else "only in A" if ra else "only in B"] += 1
        print(f"--- {key[0]} [{key[1]}]")
        for side, rec in (("A", ra), ("B", rb)):
            print(f"  {side}: {json.dumps(rec)[:2000] if rec else '(missing)'}")
    print(f"{len(a)} calls in A, {len(b)} in B: "
          + ", ".join(f"{n} {k}" for k, n in counts.items()
                      if k != "re-rendered" or loose)
          + (f" ({loose} calls, same codes and paths)" if loose else ""))
    return 1 if counts["differ"] or counts["only in A"] or counts["only in B"] else 0


def main(argv: list[str]) -> int:
    if len(argv) >= 2 and argv[0] == "bench":
        _bench(argv[1], argv[2] if len(argv) > 2 else None)
        return 0
    if argv[:1] == ["diff"] and len(argv) == 3:
        return _diff(argv[1], argv[2])
    if argv[:1] == ["diff"] and len(argv) == 5 and argv[3] == "--loose":
        return _diff(argv[1], argv[2], argv[4])
    print(__doc__)
    return 2


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
