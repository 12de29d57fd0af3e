"""Seeded clips tables, cached atomically under the work directory.

Each input is generated into ``<name>.tmp<pid>`` and renamed into place
only when complete, so an interrupted run never leaves a half-written
table for the next run to trip over. Only the most recent few inputs are
kept. Generation time is stored beside the data and reported on its own,
never inside set-up time.
"""

from __future__ import annotations

import json
import os
import shutil
import time

_KEEP = 4


def _cached(cache: str, key: str, build) -> tuple[str, float]:
    """Path of input ``key`` (built by ``build(path)`` when missing) and
    the seconds its generation took."""
    final = os.path.join(cache, key)
    meta = os.path.join(final, "_gen.json")
    if not os.path.exists(meta):
        tmp = f"{final}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        t0 = time.perf_counter()
        build(tmp)
        gen_s = time.perf_counter() - t0
        with open(os.path.join(tmp, "_gen.json"), "w") as f:
            json.dump({"gen_s": gen_s}, f)
        shutil.rmtree(final, ignore_errors=True)
        os.rename(tmp, final)
    os.utime(final)
    _prune(cache)
    with open(meta) as f:
        return final, json.load(f)["gen_s"]


def _prune(cache: str) -> None:
    entries = sorted(
        (os.path.join(cache, e) for e in os.listdir(cache)),
        key=os.path.getmtime, reverse=True,
    )
    for stale in entries[_KEEP:]:
        shutil.rmtree(stale, ignore_errors=True)


def clips(cache: str, n: int, seed: int, files: int):
    """The ``datasynth.write_clips(n, seed, min_ms=1000, spread_ms=2000)``
    tables (clips of 1-3 s), written in ``files`` contiguous id ranges as
    ``spark.range(n, numPartitions=files)`` splits them. Rows come from
    datasynth's pure per-row generator; the writing is done here with
    pyarrow, so generation never runs in (and warms) the measured JVM.
    Returns (dir holding clips.parquet + transcripts.parquet, gen_s)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from voluptuous_spark.datasynth import _clip_row, _mix, _transcript

    clip_schema = pa.schema([
        ("clip_id", pa.string()), ("bytes", pa.binary()),
        ("sr_hz", pa.int32()), ("dur_ms", pa.int32()),
        ("codec", pa.string()), ("transcript", pa.string()),
    ])

    def side_row(i):  # datasynth.transcripts_df, row i
        base = i - 1 if (i % 1000 == 7 and i > 0) else i
        tr = _transcript(i, seed)
        return {
            "clip_id": f"orphan_{i:012d}" if i % 200 == 3
            else f"clip_{base:012d}",
            "transcript": tr + " MISMATCH" if i % 500 == 37 else tr,
            "lang": ["en", "de", "fr"][_mix(i, 20, seed) % 3],
        }

    def build(path):
        for table in ("clips.parquet", "transcripts.parquet"):
            os.makedirs(os.path.join(path, table))
        for k in range(files):
            ids = range(k * n // files, (k + 1) * n // files)
            part = f"part-{k:05d}.parquet"
            pq.write_table(pa.Table.from_pylist(
                [_clip_row(i, seed, 1000, 2000) for i in ids],
                schema=clip_schema), os.path.join(path, "clips.parquet", part))
            pq.write_table(pa.Table.from_pylist(
                [side_row(i) for i in ids]),
                os.path.join(path, "transcripts.parquet", part))

    return _cached(cache, f"clips-n{n}-seed{seed}", build)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


__all__ = ["clips", "dir_bytes"]
