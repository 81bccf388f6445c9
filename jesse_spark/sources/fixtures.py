"""Deterministic synthetic `clips` table (FIXTURES.md §1).

Generation is **distributed**: ``spark.range(n)`` feeds an Arrow-batched
``mapInPandas`` generator, so the same code builds the 1e3-row unit
fixture and the 1e7-row bench input without ever collecting to the
driver.  Every field is a pure function of the row index + the master
seed (42), so goldens are computable independently and the table is
identical at any parallelism level (the property the resume manifests
and the N-vs-4N scaling runs rely on).

Violation injection (FIXTURES.md §1.2): rows where ``i % 50 == 7``
(2%) carry exactly one defect, with the defect kind cycling by
``(i // 50) % 8``; :func:`expected_violations` reproduces the expected
golden `(clip_id, constraint, path)` rows for any n.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from jesse_spark.functions import audio

CLIPS_SCHEMA = (
    "clip_id string, bytes binary, sr_hz int, dur_ms int, "
    "codec string, transcript string"
)

# the jesse-keyword constraint suite over the clips table (FIXTURES.md §1.1)
CLIPS_CONSTRAINT_SCHEMA = {
    "$schema": "http://json-schema.org/draft-06/schema#",
    "type": "object",
    "required": ["clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"],
    "properties": {
        "clip_id": {"type": "string", "pattern": "^[a-f0-9]{32}$",
                    "minLength": 32, "maxLength": 32},
        "bytes": {"type": "string"},
        "sr_hz": {"type": "integer", "enum": [8000, 16000, 22050, 44100, 48000]},
        "dur_ms": {"type": "integer", "minimum": 200, "maximum": 30000,
                   "exclusiveMinimum": 0, "multipleOf": 1},
        "codec": {"type": "string", "enum": ["pcm_s16le", "ulaw", "alaw"]},
        "transcript": {"type": "string", "minLength": 1, "maxLength": 200},
    },
    "additionalProperties": False,
}

SR_CHOICES = np.array([8000, 16000, 22050, 44100, 48000])
SR_WEIGHTS = np.array([0.15, 0.55, 0.10, 0.10, 0.10])   # 16 kHz hot (skew)
CODEC_CHOICES = np.array(["pcm_s16le", "ulaw", "alaw"])
CODEC_WEIGHTS = np.array([0.60, 0.25, 0.15])            # pcm hot (skew)

VIOLATION_PERIOD = 50      # 2% of rows
N_DEFECT_KINDS = 8


def clip_id_of(i: int) -> str:
    return hashlib.md5(f"clip-{i:012d}".encode()).hexdigest()


def _row_rng(i: int) -> np.random.Generator:
    return np.random.default_rng([audio.MASTER_SEED, 0, i])


def _defect_kind(i: int) -> int | None:
    if i % VIOLATION_PERIOD != 7:
        return None
    return (i // VIOLATION_PERIOD) % N_DEFECT_KINDS


def _gen_row(i: int, dur_range: tuple[int, int]) -> tuple:
    rng = _row_rng(i)
    cid = clip_id_of(i)
    kind = _defect_kind(i)
    # identity defects mutate clip_id BEFORE synthesis so audio/transcript
    # stay self-consistent and only the intended violation fires
    if kind == 4:
        cid = cid.upper()                    # no_match /clip_id
    elif kind == 5:
        cid = clip_id_of(i - 1)              # not_unique (duplicate pair)
    sr = int(SR_CHOICES[rng.choice(len(SR_CHOICES), p=SR_WEIGHTS)])
    codec = str(CODEC_CHOICES[rng.choice(len(CODEC_CHOICES), p=CODEC_WEIGHTS)])
    lo, hi = dur_range
    dur = int(np.exp(rng.uniform(np.log(lo), np.log(hi))))
    n_samples = int(round(sr * dur / 1000))
    pcm = audio.synth_pcm(cid, sr, n_samples)
    raw = audio.encode(pcm, codec)
    transcript = audio.reference_transcript(cid)

    if kind == 0:
        transcript = None                    # missing_required_property
    elif kind == 1:
        sr = 12345                           # not_in_enum /sr_hz
    elif kind == 2:
        dur = 86400000                       # not_in_range /dur_ms
    elif kind == 3:
        transcript = "x" * 201               # wrong_length /transcript
    elif kind == 6:
        codec = "opus"                       # RI + enum violation /codec
    elif kind == 7:
        b = bytearray(raw)                   # corrupt audio → external /bytes
        step = max(1, len(b) // 64)
        for j in range(0, len(b), step):
            b[j] ^= 0xFF
        raw = bytes(b)
    return (cid, raw, sr, dur, codec, transcript)


def expected_violations(n: int) -> pd.DataFrame:
    """Golden `(clip_id, constraint, path)` rows for clips_df(n).

    kind 2 (dur=86400000) trips only `maximum`; kind 6 trips both the
    row-level enum AND the table-level RI check; kind 5's duplicate pair
    yields one not_unique per duplicated key value."""
    rows = []
    for i in range(n):
        kind = _defect_kind(i)
        if kind is None:
            continue
        cid = clip_id_of(i)
        if kind == 0:
            rows.append((cid, "missing_required_property", ""))
        elif kind == 1:
            rows.append((cid, "not_in_enum", "/sr_hz"))
        elif kind == 2:
            rows.append((cid, "not_in_range", "/dur_ms"))
        elif kind == 3:
            rows.append((cid, "wrong_length", "/transcript"))
        elif kind == 4:
            rows.append((cid.upper(), "no_match", "/clip_id"))
        elif kind == 5:
            rows.append((clip_id_of(i - 1), "not_unique", "/clip_id"))
        elif kind == 6:
            rows.append((cid, "not_in_enum", "/codec"))
            rows.append((cid, "schema_not_found", "/codec"))
        elif kind == 7:
            rows.append((cid, "external", "/bytes"))
    return pd.DataFrame(rows, columns=["clip_id", "constraint", "path"])


def clips_df(
    spark: SparkSession,
    n: int,
    *,
    dur_range: tuple[int, int] = (200, 2000),
    partitions: int | None = None,
    chunk: int = 256,
) -> DataFrame:
    """Distributed deterministic generation of n clips."""
    rng_range = spark.range(0, n, 1, partitions) if partitions else spark.range(n)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            ids = b["id"].to_numpy()
            for s in range(0, len(ids), chunk):
                part = ids[s:s + chunk]
                rows = [_gen_row(int(i), dur_range) for i in part]
                yield pd.DataFrame(
                    rows, columns=["clip_id", "bytes", "sr_hz", "dur_ms",
                                   "codec", "transcript"])

    return rng_range.mapInPandas(gen, schema=CLIPS_SCHEMA)


def codecs_df(spark: SparkSession) -> DataFrame:
    """RI reference table (FIXTURES.md §2).  An inline ``VALUES``
    relation plans as a ``LocalTableScan`` in the JVM; a DataFrame
    built from a Python list would start a Python worker stage that the
    RI join waits for."""
    return spark.sql(
        "SELECT * FROM VALUES ('pcm_s16le', 16), ('ulaw', 8), ('alaw', 8)"
        " AS t(codec, bits_per_sample)")
