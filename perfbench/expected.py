"""Recorded outputs for the output check: per input scale and query,
the row count and content digest (perfbench/digest.py).

The values were recorded with ``python3 perfbench/run.py --record``
from the commit that added the benchmark. A change that alters a
query's rows fails the check; re-record only for an intended change
of results, and say so in the change.
"""

from __future__ import annotations

import json
import os

PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def load() -> dict:
    if not os.path.exists(PATH):
        return {}
    with open(PATH) as f:
        return json.load(f)


def mismatches(checks: list[dict], sf: str) -> list[str]:
    want = load().get(sf, {})
    out = []
    for c in checks:
        exp = want.get(c["q"])
        if c["error"]:
            out.append(f"{c['q']}: check raised {c['error']}")
        elif exp is None:
            out.append(f"{c['q']}: no recorded output at {sf}")
        elif (c["rows"], c["digest"]) != (exp["rows"], exp["digest"]):
            out.append(
                f"{c['q']}: rows {c['rows']} digest {c['digest']}, "
                f"recorded rows {exp['rows']} digest {exp['digest']}"
            )
    return out


def record(checks: list[dict], sf: str) -> None:
    data = load()
    table = data.setdefault(sf, {})
    for c in checks:
        if c["error"]:
            raise SystemExit(f"cannot record {c['q']}: {c['error']}")
        table[c["q"]] = {"rows": c["rows"], "digest": c["digest"]}
    with open(PATH, "w") as f:
        json.dump(data, f, indent=1, sort_keys=True)
        f.write("\n")
