"""Per-query bench regression gate.

Joins two bench records (the FULL per-query dumps bench.py writes to
``artifacts/BENCH_local_r{N}.json`` each round — the per-round ``BENCH_r{N}.json``
tail-captures stdout and may truncate the front of the full line, which
is why round-over-round comparison needs these local records) and
reports queries that got slower beyond the host-noise floor.

A query is flagged when BOTH hold:
  - cur >= factor * prev   (default 1.5x — the VERDICT threshold)
  - cur - prev >= floor_sec (default 0.3 s — sub-noise absolute deltas
    on a shared box are not attributable to plan changes; BASELINE.md
    documents per-query run-to-run spreads of this order)

Usage:
    python tools/bench_diff.py artifacts/BENCH_local_r5.json artifacts/BENCH_local_r6.json

Also importable: bench.py calls ``diff_records`` at the end of each
run and embeds the result as the artifact's ``regressions`` field.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

# where bench.py and the scale tools keep their per-round records
ARTIFACTS_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "artifacts"
)


def _all_timings(rec: dict) -> dict[str, float]:
    out: dict[str, float] = {}
    out.update(rec.get("queries") or {})
    out.update(rec.get("extra_queries") or {})
    return out


_COMPARABLE_KEYS = ("sf", "runs_per_query", "cpus")


def comparable(prev: dict, cur: dict) -> bool:
    """Records are comparable only at the same scale factor, warm-up
    protocol and core count: a cold (runs_per_query=1) sf0.001 smoke
    run vs a warm (runs=7) sf0.1 record flags ~every query as a 2-11x
    "regression" that is pure measurement-condition delta, and so does
    an 8-core record diffed against a 32-core one."""
    return all(prev.get(k) == cur.get(k) for k in _COMPARABLE_KEYS)


def diff_records(
    prev: dict,
    cur: dict,
    factor: float = 1.5,
    floor_sec: float = 0.3,
) -> list[dict]:
    """Regression list, worst ratio first. Queries present in only one
    record are skipped (additions/removals aren't regressions).
    Incomparable records (different sf / warm-up / cpus) yield no flags."""
    if not comparable(prev, cur):
        return []
    p, c = _all_timings(prev), _all_timings(cur)
    regs = []
    for name in sorted(set(p) & set(c)):
        pv, cv = p[name], c[name]
        if pv > 0 and cv >= factor * pv and (cv - pv) >= floor_sec:
            regs.append(
                {
                    "query": name,
                    "prev_sec": pv,
                    "cur_sec": cv,
                    "ratio": round(cv / pv, 2),
                }
            )
    regs.sort(key=lambda r: -r["ratio"])
    return regs


def latest_local_record(
    records_dir: str = ARTIFACTS_DIR, like: dict | None = None
) -> str | None:
    """Highest-round ``BENCH_local_r{N}.json`` in ``records_dir``; with
    ``like`` given, the highest-round record *comparable* to it."""
    best, best_n = None, -1
    for path in glob.glob(os.path.join(records_dir, "BENCH_local_r*.json")):
        m = re.search(r"BENCH_local_r(\d+)", os.path.basename(path))
        if not m or int(m.group(1)) <= best_n:
            continue
        if like is not None:
            try:
                with open(path) as f:
                    if not comparable(json.load(f), like):
                        continue
            except (OSError, ValueError):
                continue
        best, best_n = path, int(m.group(1))
    return best


def record_round(path: str) -> int:
    m = re.search(r"BENCH_local_r(\d+)", os.path.basename(path))
    return int(m.group(1)) if m else 0


def main() -> int:
    if len(sys.argv) != 3:
        print(__doc__, file=sys.stderr)
        return 1
    prev = json.load(open(sys.argv[1]))
    cur = json.load(open(sys.argv[2]))
    if not comparable(prev, cur):
        def conditions(rec: dict) -> str:
            return " ".join(f"{k}={rec.get(k)}" for k in _COMPARABLE_KEYS)

        print(
            f"records not comparable (prev {conditions(prev)}, "
            f"cur {conditions(cur)}) — no regression check"
        )
        return 0
    regs = diff_records(prev, cur)
    p, c = _all_timings(prev), _all_timings(cur)
    shared = sorted(set(p) & set(c))
    print(
        f"{len(shared)} shared queries | prev total "
        f"{round(sum(p[q] for q in shared), 2)} s -> cur total "
        f"{round(sum(c[q] for q in shared), 2)} s | "
        f"{len(regs)} regression(s) (>1.5x and >0.3s)"
    )
    for r in regs:
        print(
            f"  {r['query']}: {r['prev_sec']} s -> {r['cur_sec']} s "
            f"({r['ratio']}x)"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
