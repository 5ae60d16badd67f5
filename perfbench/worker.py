"""One benchmark run in one Spark driver process; started by run.py.

Set-up, the passes and the oracle check run here, and the last line on
stdout is a JSON record of everything measured. Timing covers the call to
the registry function through the write of its full result to Spark's
``noop`` sink; ``count()`` is never used, because Catalyst prunes columns
(and with them whole Python UDF nodes) that a count does not need.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import random
import statistics
import sys
import time
import traceback

import pandas as pd

from workloads import MEASURE_SF, WARM_SF, WARMUP_PASSES, WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tools"))

from big_data_training_spark.registry import all_queries  # noqa: E402
from big_data_training_spark.session import session_builder  # noqa: E402
from verify_oracle import duck_connection, dtype_mismatches, normalize  # noqa: E402

# Timed passes an untraced run makes at least, so each query's median is a
# middle value; a traced run makes at least two of each kind (timed, traced).
MIN_TIMED_PASSES = 3
MIN_TRACED_PASSES = 2


def _error(exc: BaseException) -> str:
    """Error class, plus the last line of a wrapped worker traceback."""
    last = str(exc).strip().splitlines()[-1:] or [""]
    return f"{type(exc).__name__}: {last[0][:200]}"


class Run:
    """Runs a workload's passes and keeps every query and pass time by phase."""

    def __init__(self, spark, names: list[str], seed: int, data_dir: str, sf: float):
        self.spark = spark
        self.sf = sf
        self.specs = all_queries()
        self.names = names
        self.rng = random.Random(seed)
        self.data_dir = data_dir
        self.attempted = 0
        self.failures: list[dict] = []
        self.pass_times: dict[str, list[float]] = {}
        self.query_times: dict[str, dict[str, list[float]]] = {}
        self.spans: list[dict] = []

    def sf_dir(self, sf: float) -> str:
        return os.path.join(self.data_dir, f"sf{sf}")

    def order(self) -> list[str]:
        names = list(self.names)
        self.rng.shuffle(names)
        return names

    def fail(self, name: str, phase: str, error: str) -> None:
        self.failures.append({"query": name, "phase": phase, "error": error})
        print(f"FAIL {phase} {name}: {error}", file=sys.stderr, flush=True)

    def execute(self, name: str, sf_dir: str, phase: str, tracer=None) -> None:
        """Run one query into the noop sink; failures are counted, never
        swallowed."""
        self.attempted += 1
        t0 = time.time()
        p0 = time.perf_counter()
        build_s = None
        try:
            df = self.specs[name].fn(self.spark, sf_dir)
            build_s = time.perf_counter() - p0
            df.write.format("noop").mode("overwrite").save()
        except Exception as exc:  # the run goes on; the failure is reported
            traceback.print_exc()
            self.fail(name, phase, _error(exc))
        wall_s = time.perf_counter() - p0
        self.query_times.setdefault(phase, {}).setdefault(name, []).append(wall_s)
        if tracer is not None:
            layers = tracer.record(t0, t0 + wall_s, wall_s if build_s is None else build_s)
            self.spans.append({"pass": len(self.pass_times.get(phase, [])),
                               "query": name, "wall_s": wall_s, **layers})

    def run_pass(self, sf: float, phase: str, tracer=None) -> float:
        sf_dir = self.sf_dir(sf)
        p0 = time.perf_counter()
        for name in self.order():
            self.execute(name, sf_dir, phase, tracer)
        elapsed = time.perf_counter() - p0
        self.pass_times.setdefault(phase, []).append(elapsed)
        return elapsed

    def check(self) -> list[dict]:
        """Compare each query's full result with its DuckDB oracle, using
        the normalization and dtype policy of tools/verify_oracle.py."""
        sf_dir = self.sf_dir(self.sf)
        con = duck_connection(sf_dir)
        try:
            return [self._check_one(con, sf_dir, name) for name in self.order()]
        finally:
            con.close()

    def _check_one(self, con, sf_dir: str, name: str) -> dict:
        self.attempted += 1
        spec = self.specs[name]
        try:
            s = normalize(spec.fn(self.spark, sf_dir).toPandas())
            o = normalize(con.execute(spec.oracle).fetchdf())
        except Exception as exc:
            traceback.print_exc()
            self.fail(name, "check", _error(exc))
            return {"query": name, "ok": False}
        problem = None
        if len(s) != len(o):
            problem = f"rowcount {len(s)} vs {len(o)}"
        elif list(s.columns) != list(o.columns):
            problem = f"columns {list(s.columns)} vs {list(o.columns)}"
        elif mism := dtype_mismatches(s, o):
            problem = f"dtype mismatch: {mism}"
        else:
            try:
                pd.testing.assert_frame_equal(s, o, check_dtype=False, check_exact=True)
            except AssertionError as exc:
                problem = f"values differ: {str(exc)[:300]}"
        if problem:
            self.fail(name, "check", f"OracleMismatch: {problem}")
        return {"query": name, "ok": problem is None, "rows": len(s), "hash": _frame_hash(s)}


def _frame_hash(df: pd.DataFrame) -> str:
    digest = pd.util.hash_pandas_object(df, index=False).values.tobytes()
    return hashlib.sha256(digest).hexdigest()[:16]


def _medians(times: dict[str, list[float]]) -> dict[str, float]:
    """Each query's median time over the passes of one phase. Their sum is
    the time of a median pass taken query by query, which a slow-down that
    hits one pass partway through moves less than the median of whole
    passes."""
    return {name: statistics.median(ts) for name, ts in times.items()}


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _start_session(workload: str, build_dir: str):
    tmp = os.environ["TMPDIR"]
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={build_dir}"
    spark = (
        session_builder(f"perfbench-{workload}", master=f"local[{os.environ['SPARK_GRAFT_CPUS']}]")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.sql.warehouse.dir", os.path.join(build_dir, "warehouse"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def measure(args) -> dict:
    from layers import Tracer, pass_totals

    spark = _start_session(args.workload, args.build_dir)
    launch_s = time.time() - args.t0
    run = Run(
        spark, list(WORKLOADS[args.workload]), args.seed, args.data_dir,
        MEASURE_SF[args.workload],
    )
    run.run_pass(WARM_SF, "warm")
    setup_s = time.time() - args.t0

    warmup = [run.run_pass(run.sf, "first" if i == 0 else "warmup")
              for i in range(max(WARMUP_PASSES[args.workload], args.trace))]
    c0 = time.perf_counter()
    checks = run.check()
    check_s = time.perf_counter() - c0
    tracer = Tracer(spark) if args.trace else None
    timed = run.pass_times.setdefault("timed", [])
    traced = run.pass_times.setdefault("traced", [])
    start = time.perf_counter()
    while (
        time.perf_counter() - start < args.seconds
        or len(timed) < (MIN_TRACED_PASSES if tracer else MIN_TIMED_PASSES)
        or (tracer and len(traced) < MIN_TRACED_PASSES)
    ):
        # A traced run alternates traced and untraced passes, so the
        # tracing overhead is measured under the same conditions.
        if tracer and len(traced) <= len(timed):
            tracer.attach()
            run.run_pass(run.sf, "traced", tracer)
            tracer.detach()
        else:
            run.run_pass(run.sf, "timed")

    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    peak_rss_mb = (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb("self")) / 1024.0
    spark.stop()

    query_medians = _medians(run.query_times["timed"])
    metrics = {
        "setup_s": setup_s,
        "pass_s": sum(query_medians.values()),
        "query_geomean_s": math.exp(statistics.fmean(map(math.log, query_medians.values()))),
        "ok_ratio": 1.0 - len(run.failures) / run.attempted,
        "session.peak_rss_mb": peak_rss_mb,
    }
    if tracer:
        metrics["session.first_pass_s"] = warmup[0]
        totals = [
            pass_totals([s for s in run.spans if s["pass"] == i]) for i in range(len(traced))
        ]
        for key in totals[0]:
            metrics[key] = statistics.median(t[key] for t in totals)
        metrics["trace.coverage_min"] = min(s["coverage"] for s in run.spans)
        metrics["trace.pass_s"] = sum(_medians(run.query_times["traced"]).values())
        metrics["trace.overhead_s"] = metrics["trace.pass_s"] - metrics["pass_s"]
    return {
        "workload": args.workload,
        "seed": args.seed,
        "attempted": run.attempted,
        "failures": run.failures,
        "launch_s": launch_s,
        "check_s": check_s,
        "pass_times_s": run.pass_times,
        "query_times_s": run.query_times,
        "checks": checks,
        "metrics": metrics,
        "spans": [{k: v for k, v in s.items() if k != "_batch_ms"} for s in run.spans],
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--t0", type=float, required=True, help="launch time (epoch s)")
    ap.add_argument("--data-dir", required=True)
    ap.add_argument("--build-dir", required=True)
    args = ap.parse_args()
    try:
        result = measure(args)
    except Exception:
        traceback.print_exc()
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
