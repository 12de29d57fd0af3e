"""Expected outputs, computed without the validation engine.

* Clips suite: counts follow from ``voluptuous_spark.datasynth``'s
  documented index rules (module docstring) and its pure per-row helpers
  ``_mix`` / ``_transcript``, with the engine's documented NULL-is-absent
  rule and the PCM checks' one-verdict-per-clip order.
* Queries: the DuckDB ``oracle_sql()`` of each query, compared by row
  count and then order-insensitively, with the normalisation of the
  repo's oracle gate ``tools/check_oracles.py``.
"""

from __future__ import annotations

import hashlib
import os
import sys
from collections import defaultdict

import pandas as pd

# the repo's oracle gate; importing it also puts a fixed checkout path
# first on sys.path, so the path is restored afterwards
_path = list(sys.path)
sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
import check_oracles  # noqa: E402

sys.path[:] = _path


def _codec(i: int, seed: int) -> str:
    from voluptuous_spark.datasynth import _mix

    if i % 333 == 100:
        return "ogg"
    r = _mix(i, 2, seed) % 100
    return "wav" if r < 85 else "flac" if r < 95 else "opus" if r < 99 else "mp3"


def _row_violations(i: int, seed: int) -> int:
    """Violations the suite's row-level check reports for clip ``i``."""
    wav = _codec(i, seed) == "wav"
    v = 0
    if i % 2000 == 11:
        v += 1                      # empty clip_id: Length(min=1)
    if i % 200 == 17:
        v += 1 + wav                # sr_hz 12345: In, and header sr != sr_hz
    if i % 500 == 29:
        v += 1                      # dur_ms NULL: required key not provided
    elif i % 100 == 23:
        v += 1 + wav                # Range, and payload duration mismatch
    if i % 333 == 100:
        v += 1                      # codec 'ogg': In
    if i % 200 != 31 and i % 333 == 2:
        v += 1                      # padded transcript: Match(r"\S")
    if wav and i % 500 in (13, 263):
        v += 1                      # truncated payload / bad RIFF magic
    return v


def _clip_transcript(i: int, seed: int):
    from voluptuous_spark.datasynth import _transcript

    if i % 200 == 31:
        return None
    t = _transcript(i, seed)
    return "  " + t + " " if i % 333 == 2 else t


def clips_expected(n: int, seed: int) -> dict:
    """Suite outputs for ``datasynth.write_clips(n, seed)``."""
    from voluptuous_spark.datasynth import _transcript

    per_row = [_row_violations(i, seed) for i in range(n)]
    n_empty = sum(1 for i in range(n) if i % 2000 == 11)
    dup_keys = sum(1 for i in range(1, n) if i % 1000 == 7)
    orphans = 2 * sum(1 for i in range(n) if i % 200 == 3) + 2 * n_empty

    # transcript-equality rows of the clips <-> side-table full join
    clip_t, side_t = defaultdict(list), defaultdict(list)
    for i in range(n):
        base = i - 1 if (i % 1000 == 7 and i > 0) else i
        if i % 2000 != 11:
            clip_t[f"clip_{base:012d}"].append(_clip_transcript(i, seed))
        if i % 200 != 3:
            side = _transcript(i, seed) + (" MISMATCH" if i % 500 == 37 else "")
            side_t[f"clip_{base:012d}"].append(side)
    mismatches = sum(
        1
        for k, cs in clip_t.items()
        for c in cs
        for s in side_t.get(k, ())
        if c is not None and c != s
    )
    failed = sum(1 for v in per_row if v)
    return {
        "rows": n,
        "passed": n - failed,
        "failed": failed,
        "violations": sum(per_row),
        "dup_key_rows": dup_keys + (1 if n_empty > 1 else 0),
        "orphans": orphans,
        "stats_rows": 5,
        "violation_rows": sum(per_row) + mismatches,
    }


class QueryOracle:
    """DuckDB views over a table directory plus the entry's oracle SQL;
    results are compared the way ``tools/check_oracles.py`` does.

    The tables are fixed, so each oracle result is computed once and
    kept in ``cache_dir``, keyed by its SQL and the tables' contents
    (``dedup_clusters``'s oracle alone takes ~6 s in DuckDB)."""

    def __init__(self, table_dir: str, oracle_sql: dict, cache_dir: str):
        import duckdb

        self.con = duckdb.connect()
        self.tables = hashlib.sha256()
        for t in check_oracles.TABLES:
            path = f"{table_dir}/{t}.parquet"
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            with open(path, "rb") as f:
                self.tables.update(f.read())
        self.sql = oracle_sql
        self.cache = cache_dir
        os.makedirs(cache_dir, exist_ok=True)

    def expected(self, name: str) -> pd.DataFrame:
        h = self.tables.copy()
        h.update(self.sql[name].encode())
        key = h.hexdigest()[:24]
        path = os.path.join(self.cache, f"{name}-{key}.pkl")
        if os.path.exists(path):
            return pd.read_pickle(path)
        df = self.con.execute(self.sql[name]).df()
        tmp = f"{path}.tmp{os.getpid()}"
        df.to_pickle(tmp)
        os.rename(tmp, path)
        return df

    def check(self, name: str, result: pd.DataFrame) -> str | None:
        """None when ``result`` matches the oracle, else why not: row
        count, then the normalised rows (columns sorted by name, floats
        rounded to 9 places, rows sorted), compared within 1e-9."""
        expected = self.expected(name)
        if len(result) != len(expected):
            return f"{name}: {len(result)} rows, oracle {len(expected)}"
        got = check_oracles.normalize(result)
        exp = check_oracles.normalize(expected)
        if list(got.columns) != list(exp.columns):
            return f"{name}: columns {list(got.columns)}, oracle {list(exp.columns)}"
        try:
            pd.testing.assert_frame_equal(got, exp, check_dtype=False,
                                          check_exact=False, rtol=1e-9,
                                          atol=1e-9)
        except AssertionError:
            return f"{name}: values differ from oracle"
        return None
