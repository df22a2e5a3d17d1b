"""Benchmark of the CDC engine: one command, three workloads.

    python3 perfbench/run.py --workload bulk_replay --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds nothing: the engine is the
``etl_spark`` package beside this directory. Writes only under
``.bench_work/`` in the working directory. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``; an operation that raises is counted in ``failed`` and
makes the run incorrect. With ``--trace 0`` the metrics are the end-to-end ones;
with ``--trace 1`` they are the per-layer ones, and the spans, the
counters and that run's end-to-end figures go to
``.bench_work/traces/<workload>-<seed>.json``.

The Spark session runs at ``local[<usable cores>]`` with a 3 GB JVM
heap, no console progress bar and its scratch space under
``.bench_work``; the command stops the session and waits for the JVM to
exit before it prints the result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
END_TO_END = [
    ("setup_s", "s"), ("cold_round_s", "s"), ("round_p50_s", "s"),
    ("epoch_commit_p50_s", "s"), ("events_per_s", "events/s"), ("table_bytes", "bytes"),
]


def process_age_s() -> float:
    """Seconds since this process started (from /proc, so interpreter
    start-up counts toward set-up)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


# /proc counts in clock ticks; the part after this line is timed exactly
_AGE0, _T0 = process_age_s(), time.perf_counter()


def parse(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def hygiene(work: str) -> None:
    """Keep every byte Spark, the JVM and Python write inside ``work``."""
    for d in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # the engine's default 16g heap is above a 15 GB host's RAM
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    # -UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>
    jvm = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = f"-XX:+UseParallelGC {jvm}"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)


def start_spark(work: str, trace: bool):
    from etl_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    return get_spark("perfbench", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, then close the JVM's stdin (it exits on EOF)
    and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def jvm_peak_rss_mb() -> float:
    from pyspark import SparkContext

    with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def main(argv=None) -> int:
    sys.path[:0] = [HERE, ROOT]
    args = parse(argv)
    try:
        import etl_spark.cdc.engine  # noqa: F401  (the program under test)
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    work = os.path.join(os.getcwd(), ".bench_work", "run")
    shutil.rmtree(work, ignore_errors=True)
    hygiene(work)

    import oracle
    import tracing
    from workloads import WORKLOADS, Ctx

    tracer = tracing.Tracer()
    if args.trace:
        tracer.install()
    spark = start_spark(work, bool(args.trace))
    try:
        ctx = Ctx(spark, work, args.seed, args.seconds, tracer)
        setup, run = WORKLOADS[args.workload]
        state = setup(ctx)
        t_setup = time.perf_counter()
        setup_s = _AGE0 + t_setup - _T0
        res = run(ctx, state)
        rss_mb = jvm_peak_rss_mb()
        t_run = time.perf_counter()
    finally:
        stop_spark(spark)
    t_stop = time.perf_counter()

    orc = oracle.Oracle(os.path.join(work, "log"), os.path.join(work, "tmp"))
    try:
        failures = res.collect(orc)
    finally:
        orc.close()
    t_check = time.perf_counter()
    for f in res.errors + failures:
        print(f, file=sys.stderr)

    e2e = {"setup_s": setup_s, **res.metrics()}
    if args.trace:
        lineage = 0
        for dirpath, _dirs, files in os.walk(work):
            lineage += sum(os.path.getsize(os.path.join(dirpath, f))
                           for f in files if f == "lineage.jsonl")
        spark_m = tracing.fold_event_log(os.path.join(work, "eventlog"), tracer.spans,
                                         tracer.codegen_s)
        layer = tracer.per_layer(spark_m, lineage)
        metrics = {n: {"value": float(layer[n]), "unit": u} for n, u in tracing.PER_LAYER}
        tracer.dump(
            os.path.join(os.getcwd(), ".bench_work", "traces", f"{args.workload}-{args.seed}.json"),
            {"workload": args.workload, "seed": args.seed, "end_to_end": e2e,
             "peak_rss_mb": rss_mb, "epoch_unattributed_share": tracer.unattributed_share(),
             "rounds": res.rounds, "epochs": res.epochs},
        )
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in END_TO_END}
    print(f"perfbench: {args.workload} rounds={len(res.rounds)} "
          f"round_s={[round(x, 3) for x in res.rounds]} peak_rss_mb={rss_mb:.0f} "
          f"after_rounds_s={t_run - t_setup - sum(res.rounds):.1f} "
          f"stop_s={t_stop - t_run:.1f} checks_s={t_check - t_stop:.1f}", file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": not failures and not res.failed, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
