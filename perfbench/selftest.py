"""Self-test of the benchmark at a tiny size (a few minutes on 4 cores).

    python3 perfbench/selftest.py

Checks that
- every workload prints every end-to-end metric (``--trace 0``) and
  every per-layer metric (``--trace 1``) with its unit, and passes its
  output checks;
- one deliberately corrupted result (a dropped output row) is caught
  and raises ``failed``, so failed / attempted > 0;
- another seed generates other inputs and still passes the checks.
Exits non-zero on the first failure.
"""

from __future__ import annotations

import math
import sys

import gen
import run

TINY = {
    "docs_scan": dict(n_docs=3000, n_polys=60, n_queries=200),
    "hotspot_write": dict(n_docs=2000),
}


def expect(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        sys.exit(1)


def metrics_ok(result: dict, units: dict) -> bool:
    got = result["metrics"]
    return set(got) == set(units) and all(
        got[k]["unit"] == u and isinstance(got[k]["value"], (int, float))
        and math.isfinite(got[k]["value"])
        for k, u in units.items()
    )


def drop_one_row_once():
    done = []

    def tamper(result: dict) -> None:
        if not done:
            sink = next(iter(result))
            result[sink].pop(next(iter(result[sink])))
            done.append(sink)

    return tamper


def main() -> int:
    for workload, params in TINY.items():
        for trace, units in ((False, run.END_TO_END), (True, run.PER_LAYER)):
            r = run.run(workload, 1, 0.5, trace, params=params)
            expect(r["correct"] and r["failed"] == 0 and r["attempted"] >= 2,
                   f"{workload} trace={int(trace)}: checks pass ({r['attempted']} jobs)")
            expect(metrics_ok(r, units),
                   f"{workload} trace={int(trace)}: every metric with its unit")

    r = run.run("docs_scan", 1, 0.5, False, params=TINY["docs_scan"], tamper=drop_one_row_once())
    expect(not r["correct"] and r["failed"] == 1 and r["failed"] / r["attempted"] > 0,
           f"dropped row caught: failed {r['failed']} of {r['attempted']}")

    a = gen.make_docs(500, seed=1, hot_pct=20).table
    b = gen.make_docs(500, seed=2, hot_pct=20).table
    expect(not a.equals(b) and a.equals(gen.make_docs(500, seed=1, hot_pct=20).table),
           "inputs are a function of the seed")
    r = run.run("docs_scan", 2, 0.5, False, params=TINY["docs_scan"])
    expect(r["correct"] and r["failed"] == 0, "seed 2 passes the checks")
    return 0


if __name__ == "__main__":
    sys.exit(main())
