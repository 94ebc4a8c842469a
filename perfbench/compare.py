"""Spread of a set of benchmark runs, and the change between two sets.

    python3 perfbench/compare.py SET_DIR [NEW_SET_DIR]

A set is a directory of the run records ``run.py`` keeps under
``perfbench/.work/results`` (one ``.json`` file per run); move or copy a
finished set's records into a directory of their own. Only untraced runs
count.

For each workload and end-to-end metric it prints the median and the
spread: the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median. Given a
second set, it also prints how much worse the second median is than the
first, against the bound in ``BENCHMARK.json``, and exits 1 if any metric
is worse by more. Sets recorded on different hosts (core count, memory,
driver heap, Spark, Java or Python version, input sizes) are refused.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(directory: str) -> list[dict]:
    out = []
    for path in sorted(glob.glob(os.path.join(directory, "*.json"))):
        with open(path, encoding="utf-8") as fh:
            rec = json.load(fh)
        if rec.get("trace") == 0:
            out.append(rec)
    return out


def spread(values: list[float]) -> float:
    if len(values) < 2:
        return 0.0
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def main(argv: list[str]) -> int:
    if len(argv) not in (1, 2):
        print(__doc__, file=sys.stderr)
        return 2
    sets = [load(d) for d in argv]
    for d, rows in zip(argv, sets):
        if not rows:
            print(f"no untraced run records in {d}", file=sys.stderr)
            return 1
    hosts = {json.dumps(r.get("host"), sort_keys=True) for rows in sets for r in rows}
    if len(hosts) != 1 or "null" in hosts:
        print("refusing to compare: the results come from different or unrecorded hosts:", file=sys.stderr)
        for h in sorted(hosts):
            print(f"  {h}", file=sys.stderr)
        return 1
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    values: dict[tuple[int, str, str], list[float]] = defaultdict(list)
    for i, rows in enumerate(sets):
        for r in rows:
            for name, m in r["result"]["metrics"].items():
                values[(i, r["workload"], name)].append(m["value"])
    worse = 0
    for w in [w["name"] for w in bench["workloads"]]:
        for m in bench["end_to_end"]:
            cols = []
            for i in range(len(sets)):
                v = values.get((i, w, m["name"]))
                if not v:
                    break
                cols.append((statistics.median(v), spread(v), len(v)))
            if len(cols) != len(sets):
                continue
            line = f"{w:14s} {m['name']:10s}" + "".join(
                f"  median {med:9.4f} spread {sp:6.3f} (n={n})" for med, sp, n in cols
            )
            if len(cols) == 2:
                mb, mn = cols[0][0], cols[1][0]
                change = (mn - mb) / mb if m["better"] == "lower" else (mb - mn) / mb
                verdict = "worse" if change > m["bound"] else "ok"
                worse += verdict == "worse"
                line += f"  worse by {change:+7.3f} (bound {m['bound']}) {verdict}"
            print(line)
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
