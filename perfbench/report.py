"""Write ``perfbench/LAYERS.md``: the per-layer table of every workload.

    python3 perfbench/report.py [--seed 1] [--pairs 2]

For each workload it makes ``--pairs`` untraced and traced runs, alternating,
with the same seed, then tabulates the medians of the per-layer metrics next
to the end-to-end ones. The tracing overhead is the traced ``pass_s`` minus
the untraced ``pass_s`` (medians).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(bench: dict, workload: str, seed: int, trace: int) -> tuple[dict, dict, set[str]]:
    cmd = bench["command"] + [
        "--workload", workload, "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", str(trace),
    ]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True)
    lines = out.stdout.strip().splitlines()
    host = next(json.loads(l[len("# host "):]) for l in lines if l.startswith("# host "))
    failed_ops = {l[len("# error "):].split(":", 1)[0] for l in out.stderr.splitlines() if l.startswith("# error ")}
    return json.loads(lines[-1]), host, failed_ops


def fmt(v: float) -> str:
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--pairs", type=int, default=2)
    ap.add_argument("--out", default=os.path.join(HERE, "LAYERS.md"))
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    workloads = [w["name"] for w in bench["workloads"]]
    results: dict[str, tuple[list[dict], list[dict]]] = {}
    hosts = set()
    failed_ops: dict[str, set[str]] = {w: set() for w in workloads}
    for w in workloads:
        results[w] = ([], [])
        for _ in range(args.pairs):
            for trace in (0, 1):
                result, host, failed = run(bench, w, args.seed, trace)
                failed_ops[w] |= failed
                results[w][trace].append(result)
                hosts.add(json.dumps(host, sort_keys=True))
        print(f"{w}: done", flush=True)
    if len(hosts) != 1:
        raise SystemExit(f"runs came from different hosts: {hosts}")
    host = json.loads(hosts.pop())

    def val(w: str, trace: int, name: str) -> float:
        return statistics.median(r["metrics"][name]["value"] for r in results[w][trace])

    out = [
        "# Per-layer record of the three workloads",
        "",
        f"Written by `python3 perfbench/report.py --seed {args.seed} --pairs {args.pairs}` on {time.strftime('%Y-%m-%d')}.",
        f"{args.pairs} untraced and {args.pairs} traced runs per workload, alternating, same seed;",
        "each value is the median over those runs of one timed pass.",
        "",
        "Host: " + ", ".join(f"{k}={v}" for k, v in sorted(host.items())),
        "",
        "## End to end (untraced) and tracing overhead",
        "",
        "| metric | " + " | ".join(workloads) + " |",
        "|---|" + "---|" * len(workloads),
    ]
    for m in bench["end_to_end"]:
        out.append(f"| `{m['name']}` ({m['unit']}) | " + " | ".join(fmt(val(w, 0, m["name"])) for w in workloads) + " |")
    out.append(
        "| tracing overhead: traced `pass_s` − untraced `pass_s` (s) | "
        + " | ".join(fmt(val(w, 1, "trace.pass_s") - val(w, 0, "pass_s")) for w in workloads)
        + " |"
    )
    out.append(
        "| largest per-op gap between summed layer self times and op wall (ms; tolerance 1 ms) | "
        + " | ".join(fmt(val(w, 1, "trace.selfsum_err_ms")) for w in workloads)
        + " |"
    )
    out += [
        "",
        "Run-to-run spread of `pass_s` on the reference host is about 10%, so a tracing",
        "overhead smaller than that is not resolved by a few pairs; its sign can come out",
        "either way.",
        "",
        "## Per layer (traced)",
        "",
        "| metric | " + " | ".join(workloads) + " |",
        "|---|" + "---|" * len(workloads),
    ]
    for m in bench["per_layer"]:
        out.append(f"| `{m['name']}` ({m['unit']}) | " + " | ".join(fmt(val(w, 1, m["name"])) for w in workloads) + " |")
    out += [
        "",
        "## Workload roles",
        "",
        f"- `operators.python_rows` on `sql_analytics`: {fmt(val('sql_analytics', 1, 'operators.python_rows'))}",
        "- writer or maintenance spans in the suite workloads: "
        + ", ".join(f"{w} {fmt(val(w, 1, 'trace.writer_spans'))}" for w in workloads if w != "lake_rw"),
        f"- registry pin time on `lake_rw`: {fmt(val('lake_rw', 1, 'tables.pin_s'))} s",
        "- `cache.leaks`: " + ", ".join(f"{w} {fmt(val(w, 1, 'cache.leaks'))}" for w in workloads),
        "- failed ops per run, most over the runs: "
        + ", ".join(f"{w} {max(r['failed'] for side in results[w] for r in side)}" for w in workloads),
        "- ops that failed in any run: "
        + ", ".join(f"{w} {', '.join(f'`{o}`' for o in sorted(failed_ops[w])) or 'none'}" for w in workloads),
        "",
    ]
    with open(args.out, "w", encoding="utf-8") as fh:
        fh.write("\n".join(out))
    print(f"wrote {args.out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
