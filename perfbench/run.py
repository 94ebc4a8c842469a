"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Runs one measurement of workload W (see ``BENCHMARK.json``) and prints,
as the last line of standard output, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` reports the per-layer ones.
A run times one pass of the workload's fixed op list, so ``--seconds`` is
accepted but does not change the work. ``--sf`` and ``--files`` shrink the
inputs for the benchmark's own tests.

Each run is isolated and pinned to this checkout:

- the measured program runs in a child process whose working directory
  and ``PYTHONPATH`` are this checkout, so the driver and the Python
  workers import the package from here; the child refuses to run when
  either copy of the package lies elsewhere;
- ``TMPDIR``, the JVMs' ``java.io.tmpdir`` and ``SPARK_LOCAL_DIRS`` point
  at a fresh directory under ``perfbench/.work`` that is removed
  afterwards, so no index or fixture built by an earlier run (or other
  code) is reused and set-up time counts every build;
- the core count and driver heap come from ``config.py``;
- every process the child started is stopped before this one exits.

The full record of a run (host, per-op latencies, errors, and with
``--trace 1`` its spans) is kept under ``perfbench/.work/results``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def session_members(sid: int) -> list[int]:
    """Pids of live processes in session ``sid``."""
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="utf-8") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            out.append(int(entry))
    return out


def stop_session(sid: int, grace_s: float = 10.0) -> None:
    """TERM, then KILL, every process of the child's session; wait until
    none is left."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        pids = session_members(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + grace_s
        while session_members(sid) and time.time() < deadline:
            time.sleep(0.1)
    if session_members(sid):
        raise RuntimeError(f"processes of session {sid} survived SIGKILL")


def main(argv=None) -> int:
    t0 = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    # one timed pass of a fixed op list; its length does not depend on --seconds
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--sf", help="suite input scale, a directory name under perfbench/data")
    ap.add_argument("--files", type=int, help="lake_rw tree size")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from perfbench import config as cfg

    if args.workload not in cfg.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {cfg.WORKLOADS}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, "connected_data_lake_spark", "__init__.py")):
        print(f"no connected_data_lake_spark package in {ROOT}", file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(run_dir, "spark-local"))
    stamp = time.strftime("%Y%m%dT%H%M%S")
    results = os.path.join(WORK, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}.json")
    env = dict(os.environ)
    env.update(
        PYTHONPATH=ROOT,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        SPARK_GRAFT_CPUS=str(cfg.cpus()),
        SPARK_GRAFT_DRIVER_MEM=cfg.DRIVER_MEM,
        PERFBENCH_T0=repr(t0),
        # the JVMs' temporary files and perf-data file stay in the run directory
        JAVA_TOOL_OPTIONS=f"{os.environ.get('JAVA_TOOL_OPTIONS', '')} -XX:-UsePerfData -Djava.io.tmpdir={tmp}".strip(),
    )
    cmd = [
        sys.executable,
        "-m",
        "perfbench.harness",
        "--workload",
        args.workload,
        "--seed",
        str(args.seed),
        "--trace",
        str(args.trace),
        "--workdir",
        os.path.join(run_dir, "work"),
        "--results",
        results,
    ]
    for flag in ("sf", "files"):
        if getattr(args, flag) is not None:
            cmd += [f"--{flag}", str(getattr(args, flag))]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=cfg.CHILD_TIMEOUT_S)
        rc = proc.returncode
    except subprocess.TimeoutExpired:
        print(f"run exceeded {cfg.CHILD_TIMEOUT_S:.0f} s; stopping it", file=sys.stderr)
        stop_session(proc.pid)
        out, _ = proc.communicate()
        rc = 124
    finally:
        stop_session(proc.pid)
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = out.decode("utf-8", "replace").splitlines()
    if rc != 0:
        print(f"run failed with exit code {rc}", file=sys.stderr)
        return rc if rc > 0 else 1
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        print("run printed no result", file=sys.stderr)
        return 1
    if set(result) != RESULT_KEYS:
        print(f"malformed result keys {sorted(result)}", file=sys.stderr)
        return 1
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
