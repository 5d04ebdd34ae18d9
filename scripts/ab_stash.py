#!/usr/bin/env python
"""Interleaved stash-alternated A/B (the r15 measurement discipline,
made reusable for r16): time the named queries at sf0.1 in FRESH JVMs,
alternating the BEFORE arm (working tree stashed = HEAD) and the AFTER
arm (working tree) within each round, several rounds, min per query
per arm.  Include at least one UNTOUCHED control query so a hot-host
window is visible in the record.

Usage: AB_ROUNDS=3 [extra env...] python scripts/ab_stash.py out.json q1 [q2 ...]

Env is inherited by the child JVMs, so session settings
(e.g. SPARK_GRAFT_CPUS=4) apply to BOTH arms.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD = r"""
import json, sys, time
sys.path.insert(0, %(repo)r)
import __spark_entry__ as E
from xesmf_spark import release_persisted
from xesmf_spark.session import get_spark

names = %(names)r
action = %(action)r
spark = get_spark("ab_stash")
spark.sparkContext.setLogLevel("ERROR")
qs = E.queries()
out = {}
spark.range(1000).count()  # warmup: first timed query must not pay JVM spin-up
for n in names:
    trials = []
    for _ in range(2):
        release_persisted()
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        df = qs[n](spark, "/root/testdata/sf0.1")
        # AB_ACTION=collect mirrors bench.py's timed action; count()
        # can let the optimizer PRUNE the query's work (e.g. a
        # key-unique left join collapses under count-only), timing a
        # different plan than the bench measures
        df.collect() if action == "collect" else df.count()
        trials.append(time.perf_counter() - t0)
    out[n] = round(min(trials), 3)
print("ABRESULT " + json.dumps(out))
spark.stop()
"""


def _run_arm(names: list[str], rot: int) -> dict[str, float]:
    order = names[rot % len(names):] + names[: rot % len(names)]
    code = _CHILD % {
        "repo": HERE,
        "names": order,
        "action": os.environ.get("AB_ACTION", "count"),
    }
    p = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        timeout=3600, cwd=HERE,
    )
    line = [l for l in p.stdout.splitlines() if l.startswith("ABRESULT ")]
    if not line:
        print(p.stdout[-2000:], p.stderr[-4000:], file=sys.stderr)
        raise SystemExit("arm produced no result")
    return json.loads(line[0][len("ABRESULT "):])


def _git(*args: str) -> None:
    subprocess.run(["git", *args], cwd=HERE, check=True, capture_output=True)


def main() -> None:
    out_path = sys.argv[1]
    names = sys.argv[2:]
    rounds = int(os.environ.get("AB_ROUNDS", "3"))
    best: dict[str, dict[str, float]] = {"before": {}, "after": {}}
    runs: list[dict] = []
    for r in range(rounds):
        arms = ["before", "after"] if r % 2 == 0 else ["after", "before"]
        for arm in arms:
            if arm == "before":
                _git("stash", "push", "-q", "-m", "ab_stash-before-arm")
                try:
                    got = _run_arm(names, r)
                finally:
                    _git("stash", "pop", "-q")
            else:
                got = _run_arm(names, r)
            runs.append({"round": r, "arm": arm, "times": got})
            for k, v in got.items():
                cur = best[arm].get(k, float("inf"))
                best[arm][k] = min(cur, v)
            print(f"round {r} {arm}: {got}", file=sys.stderr)
    ratios = {
        k: round(best["after"][k] / best["before"][k], 3)
        for k in names
        if best["before"].get(k)
    }
    payload = {"rounds": runs, "minima": best, "after_over_before": ratios}
    with open(out_path, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
    print(json.dumps({"minima": best, "after_over_before": ratios}, indent=1))


if __name__ == "__main__":
    main()
