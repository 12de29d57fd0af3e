"""Seeded single documents for ``Schema.__call__``, at most one fault
each.

Every pass calls the same fault kinds in the same order; the seed draws
the field values. The expected outcome of each document is written here
from the reference library's semantics (accepted documents come back
coerced; a rejected one raises ``MultipleInvalid`` with one error whose
path, type and message are given below), not taken from the engine.
"""

from __future__ import annotations

import random


def any_schema():
    """The nested ``Any`` schema of the ``any_event_type`` query."""
    from voluptuous_spark import ALLOW_EXTRA, Any, In, Match, Range, Schema

    return Schema(
        {
            "event_type": Any(In(["click", "view"]), Match("^err")),
            "s": Any(
                {"a": Range(min=0.0, max=50.0), "b": int},
                {"a": Range(min=0.0, max=100.0), "b": Range(min=0, max=10)},
            ),
        },
        extra=ALLOW_EXTRA,
    )


_SRS = [8000, 16000, 22050, 44100, 48000]
_CODECS = ["wav", "flac", "opus", "mp3"]


def make_docs(seed: int) -> list[tuple[str, dict, tuple]]:
    """[(schema name, document, expected)] where expected is
    ``("ok", output)`` or ``("err", path, error type, message)``."""
    rng = random.Random(seed)
    words = "hello audio clip speech voice test sample".split()

    def clip():
        return {
            "clip_id": f"clip_{rng.randrange(10**9):012d}",
            "sr_hz": rng.choice(_SRS),
            "dur_ms": rng.randrange(1, 600001),
            "codec": rng.choice(_CODECS),
            "transcript": " ".join(rng.choices(words, k=rng.randrange(1, 6))),
        }

    def err(path, etype, msg):
        where = "".join(f"['{p}']" for p in path)
        tail = f" @ data{where}" if etype == "RequiredFieldInvalid" \
            else f" for dictionary value @ data{where}"
        return ("err", path, etype, msg + tail)

    out = []
    d = clip()
    out.append(("clips", d, ("ok", dict(d))))
    d = clip()
    coerced = dict(d)
    d["dur_ms"] = str(d["dur_ms"])
    out.append(("clips", d, ("ok", coerced)))
    d = clip()
    del d["clip_id"]
    out.append(("clips", d, err(["clip_id"], "RequiredFieldInvalid",
                                "required key not provided")))
    d = {**clip(), "clip_id": ""}
    out.append(("clips", d, err(["clip_id"], "LengthInvalid",
                                "length of value must be at least 1")))
    d = {**clip(), "sr_hz": rng.choice([11025, 12345, 32000, 96000])}
    out.append(("clips", d, err(["sr_hz"], "InInvalid",
                                f"value must be one of {_SRS}")))
    d = {**clip(), "transcript": " " * rng.randrange(1, 4) + "x"}
    out.append(("clips", d, err(["transcript"], "MatchInvalid",
                                "does not match regular expression \\S")))

    a = round(rng.uniform(0.0, 50.0), 2)
    d = {"event_type": rng.choice(["click", "view"]),
         "s": {"a": a, "b": rng.randrange(0, 100)}}
    out.append(("any", d, ("ok", dict(d))))
    d = {"event_type": "view",
         "s": {"a": round(rng.uniform(100.5, 500.0), 2), "b": 1}}
    out.append(("any", d, err(["s", "a"], "RangeInvalid",
                              "value must be at most 50.0")))
    return out


def outcome(schema, doc: dict) -> tuple:
    """Call the schema on one document; the outcome in ``expected``
    form."""
    from voluptuous_spark import MultipleInvalid

    try:
        return ("ok", schema(doc))
    except MultipleInvalid as e:
        if len(e.errors) != 1:
            return ("err", [str(x) for x in e.errors])
        x = e.errors[0]
        return ("err", list(x.path), type(x).__name__, str(x))
