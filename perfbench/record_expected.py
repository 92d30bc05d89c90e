#!/usr/bin/env python3
"""Record perfbench/expected.json: each query's row count and digest.

Usage, from the root of a checkout: python3 perfbench/record_expected.py

Runs every workload twice, with seeds 1 and 2, and compares every
execution (warm and timed) of each query. A query whose digest does not
repeat is recorded with "digest": null and is then checked on its row
count only; one whose row count does not repeat is an error. Run it only
at a commit whose outputs are known good, and cross-check the result
with check_oracle.py.
"""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def main():
    root = os.getcwd()
    jars = run.spark_jars()
    classes = run.build(root, jars)
    seen = {}
    for name, wl in sorted(run.CONFIG["workloads"].items()):
        for seed in (1, 2):
            _, recs = run.run_harness(root, classes, jars, wl, seed, 1, False)
            for r in recs:
                if r["kind"] in ("warm", "query"):
                    if "error" in r:
                        sys.exit(f"{r['name']} failed: {r['error']}")
                    seen.setdefault(r["name"], set()).add((r["rows"], r["digest"]))
    expected = {}
    for name, obs in sorted(seen.items()):
        rows = {r for r, _ in obs}
        if len(rows) != 1:
            sys.exit(f"{name}: row count does not repeat: {sorted(rows)}")
        digests = {d for _, d in obs}
        expected[name] = {"rows": rows.pop(), "digest": digests.pop() if len(digests) == 1 else None}
        print(f"{name}: {expected[name]}" + ("" if len(digests) <= 1 else f" (digests seen: {len(obs)})"))
    with open(os.path.join(run.HERE, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
