"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload {olap_read,ingest_cdc,llm_pipeline}
                             --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Inputs are generated from ``--seed``
under ``.perfbench_work/`` in the checkout, the workload runs closed loop
for ``--seconds``, every result is checked against DuckDB, and the last
line of stdout is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics of BENCHMARK.json with
``--trace 0``, its per-layer metrics with ``--trace 1``). A full record
of the run, including what the JSON line leaves out, is kept under
``.perfbench_work/results/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("olap_read", "ingest_cdc", "llm_pipeline")


def process_age_s() -> float:
    """Seconds since this process started (setup_s counts from here)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


T_PROC = time.perf_counter() - process_age_s()


def confine(run_dir: str) -> None:
    """Keep every file the run writes inside the checkout; size Spark from
    the host (SPARK_GRAFT_CPUS = usable CPUs) and leave every other session
    setting at the program's default."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = tmp
    os.chdir(run_dir)


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    sc = spark.sparkContext
    gateway = sc._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def declared(kind: str) -> list[str]:
    """Metric names BENCHMARK.json declares for the JSON result line."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [m["name"] for m in json.load(f)[kind]]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "carbondata_spark", "__init__.py")):
        print(f"perfbench: no carbondata_spark package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    confine(run_dir)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    import common
    import spans

    tracer = spans.Tracer(enabled=args.trace == 1)
    tracer.install()
    ctx = common.Context(args.workload, args.seed, args.seconds, "bench", run_dir, tracer, T_PROC)
    try:
        outcome = common.run_workload(ctx)
    finally:
        tracer.uninstall()
        if ctx.spark is not None:
            stop_spark(ctx.spark)
    record = common.summarize(ctx, outcome)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(WORK, "results",
                           f"{args.workload}_seed{args.seed}_trace{args.trace}_{stamp}.json"),
              "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    os.chdir(ROOT)
    shutil.rmtree(run_dir, ignore_errors=True)
    common.print_report(record)
    kind = "per_layer" if args.trace else "end_to_end"
    line = {
        "correct": record["correct"],
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {k: record[kind][k] for k in declared(kind)},
    }
    print(json.dumps(line), flush=True)
    return 0 if record["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

