"""Benchmark entry point.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

Checks the fixtures against ``fixtures/SHA256SUMS``, starts one Spark
driver process (worker.py) for the run, prints every
metric by name with its unit, and prints as its last line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones. Exits non-zero, and
prints no result, when the run could not be made.

This launcher is the subreaper of everything the run starts: the JVM and
the Python workers outlive the driver process, so after the driver exits
they are re-parented here and waited for.
"""

from __future__ import annotations

import argparse
import ctypes
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

from workloads import END_TO_END, PER_LAYER, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
FIXTURES = os.path.join(HERE, "fixtures")
RUN_TIMEOUT_S = 150.0
REAP_GRACE_S = 10.0
_PR_SET_CHILD_SUBREAPER = 36


def _children() -> list[int]:
    me = str(os.getpid())
    kids = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[1] == me:  # field 4, ppid, after the "(comm)"
            kids.append(int(pid))
    return kids


def _reap_all() -> None:
    """Wait for every descendant; SIGKILL whatever outlives the grace."""
    deadline = time.monotonic() + REAP_GRACE_S
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            return
        if time.monotonic() > deadline:
            for pid in _children():
                os.kill(pid, signal.SIGKILL)
        time.sleep(0.05)


def _fixtures_intact() -> bool:
    """The fixtures are byte copies of the engine's seed-42 test tables;
    refuse to measure anything else."""
    with open(os.path.join(FIXTURES, "SHA256SUMS")) as f:
        sums = [line.split() for line in f if line.strip()]
    for digest, path in sums:
        with open(os.path.join(FIXTURES, path), "rb") as f:
            if hashlib.sha256(f.read()).hexdigest() != digest:
                print(f"fixture {path} differs from SHA256SUMS", file=sys.stderr)
                return False
    return True


def _launch(args, data_dir: str) -> dict | None:
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(
        os.environ,
        # Python workers import the engine too (UDF closures pickle by
        # module path), whatever directory the run is started from.
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        PYSPARK_PYTHON=sys.executable,
        # Task threads on half the cores the run may use: neither workload
        # runs faster on all of them, and the rest keep the driver JVM's own
        # threads (scheduler, JIT, GC) and this driver process off the
        # task threads' cores (README.md, "Steadiness").
        SPARK_GRAFT_CPUS=str(max(1, len(os.sched_getaffinity(0)) // 2)),
        SPARK_LOCAL_DIRS=os.path.join(BUILD, "spark-local"),
        # No hsperfdata files in /tmp from the JVM that builds the
        # driver's command line (worker.py turns them off in the driver).
        SPARK_LAUNCHER_OPTS=" ".join(
            filter(None, [os.environ.get("SPARK_LAUNCHER_OPTS"), "-XX:-UsePerfData"])
        ),
        TMPDIR=tmp,
    )
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data-dir", data_dir, "--build-dir", BUILD,
    ]
    t0 = time.time()
    proc = subprocess.Popen(
        cmd + ["--t0", repr(t0)], cwd=BUILD, env=env, stdout=subprocess.PIPE, text=True
    )
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        print(f"run exceeded {RUN_TIMEOUT_S:.0f} s", file=sys.stderr)
        return None
    finally:
        _reap_all()
    if proc.returncode != 0 or not out.strip():
        print(f"driver process exited with code {proc.returncode}", file=sys.stderr)
        return None
    return json.loads(out.strip().splitlines()[-1])


def _report(args, result: dict) -> dict:
    wanted = PER_LAYER if args.trace else END_TO_END
    measured = result["metrics"]
    metrics = {name: {"value": measured[name], "unit": unit} for name, unit in wanted}
    for name, unit in wanted:
        print(f"{name:34s} {measured[name]:14.6g} {unit}")
    for phase, times in result["pass_times_s"].items():
        print(f"{phase} passes (s): {[round(t, 3) for t in times]}")
    for c in result["checks"]:
        print(f"oracle {'ok  ' if c['ok'] else 'FAIL'} {c['query']} "
              f"rows={c.get('rows', '-')} hash={c.get('hash', '-')}")
    for f in result["failures"]:
        print(f"failed {f['phase']} {f['query']}: {f['error']}")
    return {
        "correct": not result["failures"],
        "attempted": result["attempted"],
        "failed": len(result["failures"]),
        "metrics": metrics,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        print("cannot become child subreaper", file=sys.stderr)
        return 1
    if not _fixtures_intact():
        return 1
    os.makedirs(BUILD, exist_ok=True)
    result = _launch(args, FIXTURES)
    if result is None:
        return 1
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(BUILD, "results", name), "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(_report(args, result)))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
