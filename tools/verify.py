#!/usr/bin/env python
"""One-command reproduction of the gates the driver applies.

    python tools/verify.py            # correctness @ sf0.01 + plan tests
    python tools/verify.py --heavy    # + heavy-family re-check @ sf0.1
    python tools/verify.py --full     # + full pytest suite (~7 min)

Exit code 0 iff every stage passes. Stages:
  1. tools/check_correctness.py /root/testdata/sf0.01 — every
     driver-facing ``queries()`` entry vs its DuckDB oracle
     (row-count + schema + order-insensitive value multiset).
  2. pytest tests/test_plans.py — the plan-shape assertions backing
     SCALING.md (pushdown, broadcast, WindowGroupLimit, shuffle-free
     transform, DPP, runtime Bloom filter, no-global-window centroids),
     the one-scan guard: one ``run_batch`` call runs exactly one
     SQL execution that scans the CSV, and the JVM-free barrier
     guard: only ``operators/common.py`` calls ``localCheckpoint`` /
     ``checkpoint``, and no function takes a ``reliable`` flag, and
     the JVM-free API.md freshness guard: API.md equals
     ``tools/gen_api.py``'s ``render()``, and the staged-plan guard:
     the shipment document plan stays at most 35,000 optimized nodes
     (134k when the date parse and the content assembly copy their
     shared sub-expressions) and its staging columns never reach the
     output, and the multi-date parse holds one copy of the day-first
     parse, and the JIT-policy guard: the session's JVM was launched
     with every flag of ``session._DEFAULTS``'s
     ``spark.driver.defaultJavaOptions``, and the size-sample guard: the
     JSONL sink's size sample compiles no class for a new plan of a
     shape it has run.
  3. (--heavy) the shuffle-heavy dedup/similarity family at sf0.1.
  4. (--full) the whole pytest suite.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

HEAVY = ["q20", "q23", "q24", "q25", "q27", "q33", "q39", "q51", "q53",
         "q90", "q92", "q100"]


def run(label: str, cmd: list[str]) -> bool:
    print(f"==> {label}: {' '.join(cmd)}", flush=True)
    t0 = time.time()
    rc = subprocess.call(cmd, cwd=REPO)
    print(f"<== {label}: {'PASS' if rc == 0 else f'FAIL rc={rc}'} "
          f"[{time.time() - t0:.0f}s]", flush=True)
    return rc == 0


def main() -> int:
    heavy = "--heavy" in sys.argv
    full = "--full" in sys.argv
    py = sys.executable
    ok = True
    ok &= run(
        "correctness sf0.01",
        [py, "tools/check_correctness.py", "/root/testdata/sf0.01"],
    )
    ok &= run("plan assertions", [py, "-m", "pytest", "tests/test_plans.py", "-q"])
    if heavy and ok:
        ok &= run(
            "heavy family sf0.1",
            [py, "tools/check_correctness.py", "/root/testdata/sf0.1"] + HEAVY,
        )
    if full and ok:
        ok &= run("full pytest", [py, "-m", "pytest", "tests/", "-q"])
    print("VERIFY:", "PASS" if ok else "FAIL")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
