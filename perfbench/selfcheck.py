"""Check that tracing is near-free: it adds no Spark job and changes no output.

    python3 perfbench/selfcheck.py

Runs every operation of every workload on tiny inputs three times: once to
warm up, once untraced and once traced, counting the Spark jobs each run
starts. Exits non-zero, naming the operation, if the traced run starts a
different number of jobs or returns different rows. Upserts are skipped:
each commit changes the table the next one reads.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import run  # noqa: E402
import tracer as tracing  # noqa: E402
import workloads  # noqa: E402


def job_count(spark, tracer) -> int:
    tracer.wait_listeners()
    return spark.sparkContext._jsc.sc().statusStore().jobsList(None).size()  # noqa: SLF001


def comparable(out):
    if isinstance(out, dict):
        # the classifier's AUC drifts by ~1e-5 between identical fits in one
        # session (see the README), so only its accuracy is compared
        return out["census"], out["regression"], out["classification"]["accuracy"]
    return workloads.norm_rows(*out)


def main() -> int:
    workloads.SCALE = 0.001
    workloads.GsodEtl.STATIONS, workloads.GsodEtl.DAYS = 5, 60
    state = os.path.join(run.ROOT, ".perfbench")
    os.makedirs(state, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="selfcheck-", dir=state)
    ncpu = len(os.sched_getaffinity(0))
    problems = []
    try:
        run.pin_environment(tmp, ncpu)
        from pyspark_weather_forecasting_gsod_spark import session

        tracer = tracing.Tracer()
        tracer.install()
        spark = session.get_spark("perfbench-selfcheck", master=f"local[{ncpu}]",
                                  shuffle_partitions=ncpu, extra_conf=run.session_conf(tmp))
        listener = tracer.make_listener()
        spark.streams.addListener(listener)
        try:
            spark.sparkContext.setLogLevel("ERROR")
            tracer.sc = spark.sparkContext
            for name, cls in workloads.WORKLOADS.items():
                wl = cls(seed=1)
                wl.setup(spark, os.path.join(tmp, name))
                for op_name, op in wl.ops(0):
                    if op_name == "upsert_commit":
                        continue
                    op(spark, tracer)  # warm-up
                    counts, outs = [], []
                    for active in (False, True):
                        tracer.active = active
                        before = job_count(spark, tracer)
                        outs.append(comparable(op(spark, tracer)))
                        tracer.active = False
                        counts.append(job_count(spark, tracer) - before)
                    same = outs[0] == outs[1]
                    print(f"{name:14s} {op_name:28s} jobs untraced={counts[0]} "
                          f"traced={counts[1]} outputs {'equal' if same else 'DIFFER'}")
                    if counts[0] != counts[1] or not same:
                        problems.append(op_name)
        finally:
            spark.streams.removeListener(listener)
            tracer.uninstall()
            run.stop_jvm(spark)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if problems:
        print(f"FAIL: tracing changed jobs or outputs of {problems}")
        return 1
    print("OK: tracing added no Spark jobs and left every output unchanged")
    return 0


if __name__ == "__main__":
    sys.exit(main())
