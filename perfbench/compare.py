"""Compare two benchmark records written to ``.perfbench_out/``.

    python3 perfbench/compare.py BEFORE.json AFTER.json

Prints, per metric, the two values and AFTER's change as a share of
BEFORE.  Refuses (exit 2) when the records were taken at different core
counts, scale factors or workloads: such numbers are not comparable.
"""

from __future__ import annotations

import json
import sys

MUST_MATCH = ("cpus", "sf", "workload")


def compare(before: dict, after: dict) -> list[tuple[str, float, float, float | None]]:
    for field in MUST_MATCH:
        if before["env"][field] != after["env"][field]:
            raise ValueError(
                f"refusing to compare: {field} differs "
                f"({before['env'][field]!r} vs {after['env'][field]!r})"
            )
    rows = []
    for name, b in before["metrics"].items():
        a = after["metrics"].get(name)
        if a is None:
            continue
        change = (a["value"] - b["value"]) / b["value"] if b["value"] else None
        rows.append((name, b["value"], a["value"], change))
    return rows


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(argv[0]) as f:
        before = json.load(f)
    with open(argv[1]) as f:
        after = json.load(f)
    try:
        rows = compare(before, after)
    except ValueError as exc:
        print(exc, file=sys.stderr)
        return 2
    for name, b, a, change in rows:
        shown = "n/a" if change is None else f"{change:+.1%}"
        print(f"{name:32s} {b:14.6g} {a:14.6g} {shown:>8s}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
