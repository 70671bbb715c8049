"""Compare two saved results of the benchmark.

    python3 perfbench/compare.py BEFORE.json AFTER.json

Each run saves its result with its host context under
``.perfbench/results/``. Results taken at different core counts,
masters, workloads, run lengths or tracing are not comparable; the
command then prints the reason and exits with status 2. Otherwise it
prints each metric's before and after values and their ratio.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.host import comparable  # noqa: E402


def rows(before: dict, after: dict) -> list[tuple[str, float, float, str]]:
    a, b = before["result"]["metrics"], after["result"]["metrics"]
    return [(k, a[k]["value"], b[k]["value"], a[k]["unit"]) for k in a if k in b]


def main(argv: list[str]) -> int:
    with open(argv[0]) as f:
        before = json.load(f)
    with open(argv[1]) as f:
        after = json.load(f)
    reason = comparable(before["context"], after["context"])
    if reason:
        print(f"not comparable: {reason}")
        return 2
    for name, x, y, unit in rows(before, after):
        ratio = f"{y / x:.3f}x" if x else "n/a"
        print(f"{name:34s} {x:14.6g} {y:14.6g} {unit:6s} {ratio}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
