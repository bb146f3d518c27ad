"""Benchmark entry point: one closed-loop client against the engine on local[nproc].

    python3 perfbench/run.py --workload gsod_etl --seed 1 --seconds 12 --trace 0

A run sets up five times (session start, input generation and a small
warm-up job; the JVM is launched by the first and kept by the others), runs
the workload's untimed warm-up passes, the first of them cold, then times
warm passes until ``--seconds`` have elapsed, and checks every output outside
the timed region. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the same passes run with
spans around every layer's public functions and the metrics are per layer.

Everything the run writes lives under ``.perfbench/`` in the repository
root: a private temp dir (removed at exit) and, for traced runs, the spans
as JSON lines in ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "pyspark_weather_forecasting_gsod_spark"
SETUPS = 5  # the first also launches the JVM, so the median is of warm set-ups
DRIVER_MEMORY = "2g"  # ample for these inputs; small enough for a shared 15 GB box
END_TO_END = {"setup_s": "s", "pass_s": "s", "op_p50_s": "s", "op_tail_s": "s",
              "peak_rss_mb": "MB"}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def pin_environment(tmp: str, ncpu: int) -> None:
    """Environment the JVM and the Python workers inherit."""
    local = os.path.join(tmp, "spark-local")
    ptmp = os.path.join(tmp, "tmp")
    os.makedirs(local)
    os.makedirs(ptmp)
    # Python UDF workers import the engine, so they need the repo on their path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = ptmp
    # every JVM, the spark-submit launcher included: temp files in the private
    # dir and no /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={ptmp}"
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    tempfile.tempdir = None


def session_conf(tmp: str) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        # a fixed, pre-touched heap: with G1 growing the heap on demand, peak
        # RSS varied by a quarter between runs of the same inputs
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.sql.streaming.forceDeleteTempCheckpointLocation": "true",
        # keep every job and stage of a run in the status store, so a traced
        # run can read back their metrics after the timed passes
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def start_session(workload: str, tmp: str, ncpu: int):
    from pyspark_weather_forecasting_gsod_spark import session

    spark = session.get_spark(f"perfbench-{workload}", master=f"local[{ncpu}]",
                              shuffle_partitions=ncpu, extra_conf=session_conf(tmp))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark) -> None:
    from pyspark.sql import functions as F

    spark.range(10000).groupBy((F.col("id") % 7).alias("k")).count().collect()


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()  # noqa: SLF001
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway  # noqa: SLF001
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    SparkContext._gateway = None  # noqa: SLF001
    SparkContext._jvm = None  # noqa: SLF001


def p90(xs: list[float]) -> tuple[float, str]:
    """Nearest-rank 90th percentile. A run has 1 to 20 warm operations, too
    few for a percentile with ten samples beyond it: that rule would pick
    the maximum at 19 samples and the median at 20."""
    xs = sorted(xs)
    return xs[math.ceil(0.9 * len(xs)) - 1], f"p90 of {len(xs)}"


def run(args, tmp: str, ncpu: int):
    sys.path[:0] = [HERE, ROOT]
    import tracer as tracing
    import workloads

    tracer = tracing.Tracer()
    if args.trace:
        tracer.install()
        tracer.active = True
    wl = workloads.WORKLOADS[args.workload](args.seed)
    setups = []
    spark = None
    listener = None
    try:
        # set up several times for a median: the first set-up also launches
        # the JVM; the later ones stop the session and start a new one in it
        for i in range(SETUPS):
            t = time.perf_counter()
            if spark is not None:
                spark.stop()
            spark = start_session(args.workload, tmp, ncpu)
            wl.setup(spark, os.path.join(tmp, f"setup{i}"))
            warm_up(spark)
            setups.append(time.perf_counter() - t)
        for i in range(SETUPS - 1):
            shutil.rmtree(os.path.join(tmp, f"setup{i}"))
        tracer.sc = spark.sparkContext
        if args.trace:
            listener = tracer.make_listener()
            spark.streams.addListener(listener)

        records: list[dict] = []

        def run_pass(p: int) -> float:
            ops = wl.ops(p)
            tracer.pass_no = p
            start = time.perf_counter()
            for name, op in ops:
                s = time.perf_counter()
                rec = {"pass": p, "name": name, "out": None, "err": None}
                try:
                    with tracer.span(name, "unwrapped"):
                        rec["out"] = op(spark, tracer)
                except Exception as exc:  # noqa: BLE001 - counted as failed
                    rec["err"] = f"{type(exc).__name__}: {str(exc)[:300]}"
                rec["s"] = time.perf_counter() - s
                records.append(rec)
            return time.perf_counter() - start

        # untimed warm-up: codegen, JIT and Python-worker start-up; the JIT
        # may need more than one pass to settle
        warm_up_walls = [run_pass(p) for p in range(wl.WARM_UP_PASSES)]
        first = wl.WARM_UP_PASSES
        walls = []
        start = time.perf_counter()
        while not walls or time.perf_counter() - start < args.seconds:
            walls.append(run_pass(first + len(walls)))
        tracer.active = False
        tracer.pass_no = None  # late listener events belong to no pass
        rss = jvm_peak_rss_mb(spark)
        layer = None
        if args.trace:
            tracer.wait_listeners()
            time.sleep(0.5)  # streaming progress events arrive asynchronously
            layer = tracer.layer_metrics(list(range(first, first + len(walls))), walls,
                                         wl.incoming_mb)

        # checks, outside the timed region
        ok = [(i, r) for i, r in enumerate(records) if r["err"] is None]
        bad = {ok[j][0]: why for j, why in
               wl.check([(r["name"], r["out"]) for _, r in ok]).items()}
        for i, r in enumerate(records):
            if r["err"] is not None:
                bad[i] = r["err"]
    finally:
        if listener is not None:
            spark.streams.removeListener(listener)
        tracer.uninstall()
        if spark is not None:
            stop_jvm(spark)

    warm = [r["s"] for r in records if r["pass"] >= first]
    op_tail, tail_at = p90(warm)
    e2e = {
        "setup_s": statistics.median(setups),
        "pass_s": statistics.median(walls),
        "op_p50_s": statistics.median(warm),
        "op_tail_s": op_tail,
        "peak_rss_mb": rss,
    }
    lines = [
        f"workload={args.workload} seed={args.seed} trace={args.trace} "
        f"master=local[{ncpu}] passes={first}+{len(walls)} ops={len(records)}",
        f"inputs: {json.dumps(wl.info())}",
        f"setup_s = median of {SETUPS} session+input+warm-up set-ups "
        f"{[round(g, 3) for g in setups]} (the first launches the JVM)",
        f"first_pass_s = {warm_up_walls[0]:.3f} s (the cold pass; untimed warm-up passes "
        f"{[round(w, 3) for w in warm_up_walls]})",
        f"op_tail_s at {tail_at} warm operations",
        "op seconds (pass:name=s): " + " ".join(
            f"{r['pass']}:{r['name']}={r['s']:.2f}" for r in records),
        f"fail_ratio = {len(bad)}/{len(records)} = {len(bad) / len(records):.4f}",
    ]
    lines += [f"FAILED op {i} ({records[i]['name']}): {why}" for i, why in sorted(bad.items())]
    if args.workload == "gsod_etl":
        lines.append("classifier AUC-ROC drift across passes: "
                     f"{wl.auc_drift([(r['name'], r['out']) for r in records if r['out']]):.3g}")
    if args.trace:
        metrics = {k: {"value": v, "unit": tracing.unit(k)} for k, v in layer.items()}
        lines.append(f"tracing overhead = trace.pass_s {layer['trace.pass_s']:.3f} s "
                     "minus pass_s of an untraced run; LR route: "
                     + ("L-BFGS fallback" if layer["ml.models.lr_iterations"] > 1
                        else "normal equation" if layer["ml.models.lr_iterations"] else "n/a"))
        traces = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(traces, exist_ok=True)
        path = os.path.join(traces, f"{args.workload}-seed{args.seed}.jsonl")
        tracer.dump(path)
        lines.append(f"spans: {path}")
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    lines += [f"{k:34s} {m['value']:12.4f} {m['unit']}" for k, m in metrics.items()]
    return lines, {"correct": not bad, "attempted": len(records), "failed": len(bad),
                   "metrics": metrics}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")) or not os.path.isfile(
            os.path.join(ROOT, "__spark_entry__.py")):
        print(f"perfbench: engine sources ({PKG}/, __spark_entry__.py) not found "
              f"under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    ncpu = len(os.sched_getaffinity(0))
    state = os.path.join(ROOT, ".perfbench")
    os.makedirs(state, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=state)
    try:
        pin_environment(tmp, ncpu)
        lines, result = run(args, tmp, ncpu)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print("\n".join(lines))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
