"""Operator-level benchmark for polars_grouper_spark.

One process, one client, closed loop: each request runs the workload's
steps; a step reads its parquet input, calls one public operator and
forces the result with ``.cache().count()``.  The next request starts when
the previous one has finished and been checked against its oracles.

    python3 perfbench/run.py --workload dist_fixpoint --seed 1 --seconds 18 --trace 0
    python3 perfbench/run.py --smoke

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics; the last stdout line is one JSON object.  See README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import resource
import shlex
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import asdict
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"

sys.path.insert(0, str(HERE))

from layers import OPERATOR_MODULES, SparkCounters, Tracer  # noqa: E402
from workloads import WORKLOADS, mismatches  # noqa: E402

# Measuring starts this long after set-up ends: the cold request, then
# untimed warm requests (at least the cold one).
WARMUP_S = 22.0

END_TO_END = {
    "setup_s": "s",
    "request_p50_s": "s",
    "rows_per_s": "rows/s",
    "py_peak_rss_mb": "MB",
}
# Single samples per run, too noisy for a bound (see README.md): printed
# by every run, carried in the JSON by the traced run.
COLD_AND_JVM = {
    "session.first_request_s": "s",
    "spark.jvm_peak_rss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    units = {"sources.io.read_parquet.s": "s"}
    for op in OPERATOR_MODULES:
        units[f"operators.{op}.build_s"] = "s"
    units["action.count_s"] = "s"
    for fn in ("plans.iteration.truncate_lineage", "plans.iteration.fingerprint",
               "plans.iteration.agg_row", "plans.parallelism.local_result",
               "pyspark.count", "pyspark.collect", "pyspark.toPandas",
               "pyspark.createDataFrame"):
        units[fn + ".calls"] = "count"
        units[fn + ".s"] = "s"
    units["plans.tiering.local_calls"] = "count"
    units.update({
        "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
        "spark.job_s": "s", "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
        "spark.jvm_gc_s": "s", "spark.shuffle_read_mb": "MB",
        "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB", "spark.result_mb": "MB",
    })
    for kind in ("scan", "exchange", "python", "compute"):
        units[f"spark.stage_kind.{kind}.run_s"] = "s"
    units["driver.gap_s"] = "s"
    units["trace.request_s"] = "s"
    units["trace.overhead_s"] = "s"
    units.update(COLD_AND_JVM)
    return units


PER_LAYER = per_layer_units()


def confine_to_checkout() -> None:
    """Keep every file Spark, the JVM and Python write under ``WORK``.
    Must run before the JVM starts."""
    tmp = WORK / "tmp"
    for d in (tmp, WORK / "spark-local", WORK / "warehouse"):
        d.mkdir(parents=True, exist_ok=True)
    # -Xms = -Xmx (the 2g below): a heap that starts small grows over the
    # first ~15 requests, and the shrinking GC cost reads as a drift in
    # request time.  C1 only: C2's compile work keeps three cores busy and
    # requests drifting for the first 60-100 s, longer than a run lasts
    # (README.md "Driver").
    java_opts = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g "
                 "-XX:TieredStopAtLevel=1")
    os.environ.update(
        TMPDIR=str(tmp),
        SPARK_LOCAL_DIRS=str(WORK / "spark-local"),
        SPARK_GRAFT_WAREHOUSE=str(WORK / "warehouse"),
        # Half the cores: the rest are for the driver Python, the Python
        # workers and the JVM's own threads.
        SPARK_GRAFT_CPUS=str(max(1, len(os.sched_getaffinity(0)) // 2)),
        SPARK_GRAFT_DRIVER_MEM="2g",
        PYSPARK_SUBMIT_ARGS=f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell",
    )


def prepare_case(name: str, seed: int, smoke: bool) -> dict:
    """Build (or reuse) the seeded inputs and oracles in a helper process,
    so generation and the oracle cost neither timed work nor driver RSS."""
    steps = [asdict(step) for step in WORKLOADS[name].steps]
    tag = hashlib.sha1(json.dumps([smoke, steps], sort_keys=True).encode()).hexdigest()[:10]
    out = WORK / "cases" / f"{name}-{tag}-s{seed}"
    if not (out / "meta.json").exists():
        out.parent.mkdir(parents=True, exist_ok=True)
        subprocess.run(
            [sys.executable, str(HERE / "inputs.py"), name, str(seed),
             "smoke" if smoke else "full", str(out)],
            check=True, stdout=sys.stderr, timeout=600,
        )
    meta = json.loads((out / "meta.json").read_text())
    meta["dir"] = str(out)
    return meta


def jvm_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for JVM pid {pid}")


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


class Runner:
    """Runs one workload's requests in one Spark session."""

    def __init__(self, spark, name: str, case: dict, tracer, counters):
        import pandas as pd

        self.spark = spark
        self.wl = WORKLOADS[name]
        self.dirs = [os.path.join(case["dir"], str(i)) for i in range(len(self.wl.steps))]
        self.oracles = [pd.read_parquet(os.path.join(d, "oracle.parquet")) for d in self.dirs]
        self.tracer = tracer
        self.counters = counters
        self.attempted = 0
        self.failed = 0

    def request(self):
        import polars_grouper_spark as pgs
        from polars_grouper_spark.sources import io as sio

        outs = []
        t0, e0 = time.perf_counter(), time.time()
        with self.tracer.span("request"):
            for step, d in zip(self.wl.steps, self.dirs):
                df = sio.read_parquet(self.spark, os.path.join(d, "input.parquet"))
                # Cached, so that the count computes every output column and
                # the check reads the rows this request produced instead of
                # running the operator again.
                out = getattr(pgs, step.op)(df).cache()
                with self.tracer.span("action.count"):
                    out.count()
                outs.append(out)
        return time.perf_counter() - t0, e0, time.time(), outs

    def verify(self, outs) -> int:
        bad = 0
        for step, out, oracle in zip(self.wl.steps, outs, self.oracles):
            bad += mismatches(out, oracle, step)
            out.unpersist()
        return bad

    def one(self, traced_id: int | None = None):
        """One checked request -> (wall seconds, layer metrics) or None if
        it raised or failed its oracle."""
        self.attempted += 1
        self.tracer.request = traced_id
        try:
            if traced_id is not None:
                self.counters.mark()
            wall, e0, e1, outs = self.request()
            self.tracer.request = None
            layers = None
            if traced_id is not None:
                layers = self.tracer.request_metrics(traced_id)
                layers.update(self.counters.read(e0, e1))
            bad = self.verify(outs)
        except Exception:  # noqa: BLE001 - a failed request is counted, not fatal
            self.tracer.request = None
            traceback.print_exc()
            self.failed += 1
            return None
        if bad:
            print(f"{self.wl.name}: {bad} rows differ from the oracle", file=sys.stderr)
            self.failed += 1
            return None
        return wall, layers


def layer_metrics(traced: list[dict], traced_walls: list[float],
                  plain_walls: list[float]) -> dict[str, float]:
    out = {}
    for name in PER_LAYER:
        if name.startswith(("trace.", "driver.")) or name in COLD_AND_JVM:
            continue
        key = name
        if name.startswith("operators."):
            key = name[: -len("build_s")] + "s"
        elif name == "action.count_s":
            key = "action.count.s"
        out[name] = statistics.median(float(t.get(key, 0.0)) for t in traced)
    gaps = [w - t["spark.job_s"] for w, t in zip(traced_walls, traced)]
    out["driver.gap_s"] = statistics.median(gaps)
    out["trace.request_s"] = statistics.median(traced_walls)
    out["trace.overhead_s"] = statistics.median(traced_walls) - statistics.median(plain_walls)
    return out


def run_workload(name: str, seed: int, seconds: float, warmup: float, trace: bool,
                 smoke: bool) -> dict:
    import polars_grouper_spark as pgs

    case = prepare_case(name, seed, smoke)
    wl = WORKLOADS[name]

    t0 = time.perf_counter()
    spark = pgs.get_spark(f"perfbench-{name}")
    spark.range(1).count()
    setup_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    for k, v in wl.confs.items():
        spark.conf.set(k, v)
    jvm_pid = spark._jvm.ProcessHandle.current().pid()

    tracer = Tracer()
    counters = None
    if trace:
        tracer.install(spark)
        counters = SparkCounters(spark)
    runner = Runner(spark, name, case, tracer, counters)
    try:
        first = runner.one()
        warmup_walls = []
        while time.perf_counter() - t0 - setup_s < warmup:
            res = runner.one()
            if res is not None:
                warmup_walls.append(res[0])
        plain, traced_walls, traced = [], [], []
        start = time.perf_counter()
        i = 0
        # At least two warm requests; a traced run needs one of each kind.
        while i < 2 or time.perf_counter() - start < seconds:
            # U T T U U T T U ...: traced and untraced requests interleave
            # so that warm-up drift cancels out of the tracing overhead.
            traced_id = i if trace and i % 4 in (1, 2) else None
            res = runner.one(traced_id)
            i += 1
            if res is None:
                continue
            wall, layers = res
            if layers is None:
                plain.append(wall)
            else:
                traced_walls.append(wall)
                traced.append(layers)
        jvm_rss = jvm_peak_rss_mb(jvm_pid)
    finally:
        tracer.uninstall()
        stop_spark(spark)

    values = {}
    if first is not None:
        values["session.first_request_s"] = first[0]
    values["spark.jvm_peak_rss_mb"] = jvm_rss
    if plain:
        p50 = statistics.median(plain)
        values.update({
            "setup_s": setup_s,
            "request_p50_s": p50,
            "rows_per_s": case["input_rows"] / p50,
            "py_peak_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
        })
    if trace:
        spans_file = WORK / "traces" / f"{name}-s{seed}.json"
        spans_file.parent.mkdir(parents=True, exist_ok=True)
        spans_file.write_text(json.dumps(
            {"workload": name, "seed": seed, "spans": tracer.spans,
             "requests": traced, "request_walls": traced_walls}))
        if traced and plain:
            values.update(layer_metrics(traced, traced_walls, plain))
    return {"attempted": runner.attempted, "failed": runner.failed,
            "warmup_walls": warmup_walls, "warm_walls": plain + traced_walls,
            "values": values,
            "case": {k: case[k] for k in ("input_rows", "generate_s", "oracle_s")}}


def report(name: str, res: dict, units: dict[str, str], extra: dict[str, str]) -> dict:
    """Print the ``units`` and ``extra`` metrics by name with their units;
    return the ``units`` ones for the JSON line."""
    values = res["values"]
    fail_frac = res["failed"] / max(1, res["attempted"])
    warmup = " ".join(f"{w:.3f}" for w in res["warmup_walls"])
    warm = " ".join(f"{w:.3f}" for w in res["warm_walls"])
    print(f"{name}: {res['attempted']} requests, warm-up ({warmup} s), "
          f"{len(res['warm_walls'])} measured ({warm} s), "
          f"fail_frac {fail_frac:.3f}, input {res['case']['input_rows']} rows "
          f"(generated in {res['case']['generate_s']:.2f} s, oracle "
          f"{res['case']['oracle_s']:.2f} s)")
    metrics = {}
    for m, unit in {**units, **extra}.items():
        if m not in values:
            print(f"  {m} = missing {unit}")
            continue
        print(f"  {m} = {values[m]:.6g} {unit}")
        if m in units:
            metrics[m] = {"value": values[m], "unit": unit}
    return metrics


def smoke() -> int:
    """Every workload at tiny size, end-to-end and per-layer metrics in one
    traced pass; non-zero exit on any failed request or missing metric."""
    bad = 0
    for name in WORKLOADS:
        res = run_workload(name, seed=0, seconds=0.0, warmup=0.0, trace=True, smoke=True)
        units = {**END_TO_END, **PER_LAYER}
        bad += res["failed"] + len(units) - len(report(name, res, units, {}))
    print(f"smoke: {'ok' if not bad else f'{bad} problems'}")
    return 1 if bad else 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, every workload, every metric; exit 1 on failure")
    args = ap.parse_args(argv)
    if not args.smoke and args.workload is None:
        ap.error("--workload is required unless --smoke")

    confine_to_checkout()
    sys.path.insert(0, str(ROOT))
    import polars_grouper_spark  # noqa: F401 - the program under test; fails early if absent

    if args.smoke:
        return smoke()
    res = run_workload(args.workload, args.seed, args.seconds, WARMUP_S, bool(args.trace),
                       smoke=False)
    units, extra = (PER_LAYER, {}) if args.trace else (END_TO_END, COLD_AND_JVM)
    metrics = report(args.workload, res, units, extra)
    correct = res["failed"] == 0 and len(metrics) == len(units)
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
