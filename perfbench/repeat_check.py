"""Count repeatability self-test for the traced runs.

    python3 perfbench/repeat_check.py [--seed N] [--workload NAME ...]

Runs ``run.py --trace 1`` twice per workload with the same seed, each in
its own process, and requires identical counts: every per-layer ``jobs``,
``calls`` and ``rows`` metric, ``spark.jobs``/``stages``/``tasks``/
``tasks_failed``, and the output facts (the store digest of
``kg_core_recrawl``, the result row counts of ``operator_queries``).
Exits 1 if any differs.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import WORKLOADS  # noqa: E402

COUNT_SUFFIXES = (".jobs", ".calls", ".rows", "spark.stages", "spark.tasks",
                  "spark.tasks_failed")


def traced(workload: str, seed: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=os.path.dirname(HERE), check=True, capture_output=True, text=True,
    ).stdout.splitlines()
    facts = next(json.loads(ln[len("# facts "):]) for ln in out
                 if ln.startswith("# facts "))
    return json.loads(out[-1]), facts


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--workload", nargs="*", default=list(WORKLOADS))
    args = ap.parse_args()
    ok = True
    for wl in args.workload:
        (a, fa), (b, fb) = traced(wl, args.seed), traced(wl, args.seed)
        names = sorted(n for n in a["metrics"] if n.endswith(COUNT_SUFFIXES))
        diff = [n for n in names
                if a["metrics"][n]["value"] != b["metrics"][n]["value"]]
        fdiff = [k for k in fa if k != "leaf_order" and fa[k] != fb.get(k)]
        for n in diff:
            print(f"{wl}: {n} {a['metrics'][n]['value']} != {b['metrics'][n]['value']}")
        for k in fdiff:
            print(f"{wl}: fact {k} {fa[k]} != {fb.get(k)}")
        print(f"{wl}: {len(names)} counts, {len(fa)} facts, "
              f"{len(diff) + len(fdiff)} differ; spark.jobs="
              f"{a['metrics']['spark.jobs']['value']}")
        ok = ok and not diff and not fdiff
    print("repeat check", "PASSED" if ok else "FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
