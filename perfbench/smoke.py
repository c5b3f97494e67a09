"""Smoke test: all three workloads on tiny inputs, traced, in one process.

    python3 perfbench/smoke.py

One Spark session serves the three workloads (1-second windows), so the
JVM start and warm-up are paid once. Exits 0 when every workload's
results match DuckDB and every per-layer metric is reported.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

import run


def main() -> int:
    if not os.path.isfile(os.path.join(run.ROOT, "carbondata_spark", "__init__.py")):
        print("smoke: run from a full checkout", file=sys.stderr)
        return 2
    t0 = time.perf_counter()
    run_dir = os.path.join(run.WORK, f"smoke-{os.getpid()}")
    run.confine(run_dir)
    sys.path.insert(0, run.ROOT)
    import common
    import spans

    tracer = spans.Tracer(enabled=True)
    tracer.install()
    done = []
    try:
        for w in run.WORKLOADS:
            ctx = common.Context(w, 1, 1.0, "smoke", run_dir, tracer, time.perf_counter())
            done.append((ctx, common.run_workload(ctx)))
    finally:
        tracer.uninstall()
        if done and done[0][0].spark is not None:
            run.stop_spark(done[0][0].spark)
    ok = True
    for ctx, out in done:
        rec = common.summarize(ctx, out)
        missing = [n for n, _ in common.PER_LAYER if n not in rec["per_layer"]]
        print(f"{ctx.workload}: correct={rec['correct']} attempted={rec['attempted']} "
              f"failed={rec['failed']} classes={sorted(rec['classes'])} missing={missing}")
        for e in rec["errors"]:
            print(f"  error: {e}")
        ok &= rec["correct"] and not missing
    os.chdir(run.ROOT)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(f"smoke {'ok' if ok else 'FAILED'} in {time.perf_counter() - t0:.0f} s")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
