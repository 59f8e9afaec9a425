#!/usr/bin/env python3
"""Compare two saved benchmark results (perfbench/results/*.json).

    python3 perfbench/compare.py BEFORE.json AFTER.json

Refuses (exit 3) when the two environment fingerprints differ: cores,
parallelism, heap, young generation, JIT, GC, Java, Spark or Scala
version. Otherwise prints each metric of both results with the
after/before ratio.
"""
import json
import sys


def main(a_path, b_path):
    with open(a_path) as f:
        a = json.load(f)
    with open(b_path) as f:
        b = json.load(f)
    if a["fingerprint"] != b["fingerprint"]:
        diff = {k: (a["fingerprint"].get(k), b["fingerprint"].get(k))
                for k in set(a["fingerprint"]) | set(b["fingerprint"])
                if a["fingerprint"].get(k) != b["fingerprint"].get(k)}
        print(f"refusing to compare: fingerprints differ: {diff}",
              file=sys.stderr)
        return 3
    if (a["workload"], a["trace"]) != (b["workload"], b["trace"]):
        print("refusing to compare: different workload or trace mode",
              file=sys.stderr)
        return 3
    ma, mb = a["result"]["metrics"], b["result"]["metrics"]
    for name in sorted(set(ma) & set(mb)):
        va, vb = ma[name]["value"], mb[name]["value"]
        ratio = f"{vb / va:.3f}" if va else "-"
        print(f"{name:48s} {va:12.6g} {vb:12.6g} {ratio:>8s} {ma[name]['unit']}")
    return 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
