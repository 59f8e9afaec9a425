#!/usr/bin/env python3
"""Per-span calls, wall time and Spark job count of traced perfbench runs.

Usage:
    python3 tools/span_jobs.py RESULT.json [OTHER.json]

RESULT.json is a traced result file that perfbench/run.py --trace 1
writes under perfbench/results/. The files are only read.

Every span name is listed, the ones that are not benchmark layers
(snapshot.gc, the pass itself) included. A figure is the mean over the
file's traced passes (the passes whose calls carry jobs): calls per
pass, wall seconds per pass, jobs per pass. A job counts toward the
span it was submitted under, as perfbench/metrics.py attributes it;
the pass row counts every job of the pass.
Given a second file, its figures follow and then OTHER minus RESULT.
"""
import json
import os
import sys

sys.dont_write_bytecode = True  # leave no cache beside perfbench's sources
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "..", "perfbench"))
from metrics import attribute_jobs  # noqa: E402


def span_table(doc):
    """span name -> (calls, wall_s, jobs), each a mean per traced pass."""
    spans = doc.get("spans")
    if not spans:
        sys.exit("not a traced result (no spans): rerun with --trace 1")
    by_id = {s["id"]: s for s in spans}

    def pass_of(s):
        while s["parent"] >= 0:
            s = by_id[s["parent"]]
        return s["id"]

    by_span = attribute_jobs(doc["jobs"], spans)
    traced = {pass_of(by_id[sid]) for sid, js in by_span.items() if js}
    if not traced:
        sys.exit("no traced pass carries a job")
    pass_jobs = {}
    for sid, js in by_span.items():
        pid = pass_of(by_id[sid])
        pass_jobs[pid] = pass_jobs.get(pid, 0) + len(js)
    totals = {}
    for s in spans:
        if pass_of(s) not in traced:
            continue
        t = totals.setdefault(s["name"], [0, 0.0, 0])
        t[0] += 1
        t[1] += (s["end"] - s["start"]) / 1000
        t[2] += (pass_jobs[s["id"]] if s["parent"] < 0
                 else len(by_span.get(s["id"], [])))
    n = len(traced)
    return {name: (c / n, w / n, j / n) for name, (c, w, j) in totals.items()}


def main(argv):
    if len(argv) not in (2, 3):
        sys.exit(__doc__)
    tables = []
    for path in argv[1:]:
        with open(path) as f:
            tables.append(span_table(json.load(f)))
    names = sorted(set().union(*tables), key=lambda n: (n != "pass", n))
    head = f"{'span':<22}" + "".join(
        f"{'calls':>7}{'wall_s':>9}{'jobs':>7}" for _ in tables)
    if len(tables) == 2:
        head += f"{'d_wall_s':>10}{'d_jobs':>8}"
    print(head)
    for name in names:
        row = [t.get(name, (0, 0.0, 0)) for t in tables]
        line = f"{name:<22}" + "".join(
            f"{c:>7.3g}{w:>9.3f}{j:>7.3g}" for c, w, j in row)
        if len(tables) == 2:
            line += f"{row[1][1] - row[0][1]:>+10.3f}{row[1][2] - row[0][2]:>+8.3g}"
        print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
