"""Shared run context, the closed-loop timer and the metric definitions.

End-to-end metrics (BENCHMARK.json ``end_to_end``) are printed for every
workload, so each is defined on every workload; the op class behind each
one differs per workload (see README.md, "Metrics"):

- ``setup_s``: process start -> system ready (session, generation, build);
- ``throughput_per_s``: the workload's unit of work per second;
- ``read_p50_s``: median latency of the workload's read ops;
- ``bulk_p50_s``: median latency of the workload's bulk ops.

Where a class mixes op templates (``olap_read``), the class figure is the
geometric mean of the per-template medians, so a change in any one
template moves it by the same share whatever the template's latency.
"""

from __future__ import annotations

import math
import os
import statistics
import threading
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass, field

import spans

now = time.perf_counter

# workload -> (read class, bulk class); the classes each workload times.
CLASSES = {
    "olap_read": ("point", "scan"),
    "ingest_cdc": ("fresh_read", "write"),
    "llm_pipeline": ("cosine_topk", "pass"),
}
# Tails are printed, not gated: p90 where a 15 s window gives ~30 samples per
# class, p75 where it gives fewer.
TAIL_Q = {"olap_read": 0.90, "ingest_cdc": 0.75, "llm_pipeline": 0.75}


@dataclass
class Context:
    workload: str
    seed: int
    seconds: float
    scale: str
    run_dir: str
    tracer: spans.Tracer
    t_proc: float
    spark: object = None
    setup_end: float = 0.0
    window_start: float = 0.0
    deadline: float = 0.0
    phases: dict = field(default_factory=dict)  # op id -> catalyst phase seconds
    info: dict = field(default_factory=dict)  # environment facts for the record

    def dir(self, *parts: str) -> str:
        p = os.path.join(self.run_dir, self.workload, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def eventlog_dir(self) -> str:
        p = os.path.join(self.run_dir, "eventlog")
        os.makedirs(p, exist_ok=True)
        return p

    def start_session(self):
        from carbondata_spark import session

        extra = None
        if self.tracer.enabled:
            extra = {"spark.eventLog.enabled": "true", "spark.eventLog.dir": self.eventlog_dir(),
                     "spark.eventLog.compress": "false"}
        self.spark = session.get_spark(app_name=f"perfbench-{self.workload}", extra_conf=extra)
        self.tracer.install_py4j(self.spark)
        conf = self.spark.sparkContext.getConf()
        jvm = self.spark.sparkContext._jvm
        self.info.update({
            "spark_master": conf.get("spark.master"),
            "spark_driver_memory": conf.get("spark.driver.memory", "default"),
            "jvm_max_heap_gb": round(jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**30, 2),
            "default_parallelism": self.spark.sparkContext.defaultParallelism,
            "host_cpus": len(os.sched_getaffinity(0)),
        })
        return self.spark

    def setup_done(self) -> None:
        """The system is ready: what follows is the benchmark's own
        correctness gate, then the timed window."""
        self.setup_end = now()

    def start_window(self) -> None:
        self.window_start = now()
        self.deadline = self.window_start + self.seconds

    def timed_out(self) -> bool:
        return now() >= self.deadline


@dataclass
class Outcome:
    samples: dict[str, list[float]] = field(default_factory=dict)  # class -> latencies
    by_template: dict[str, list[float]] = field(default_factory=dict)  # template -> latencies
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    throughput: float = 0.0
    read_p50: float | None = None  # set when a figure is not a plain class median
    bulk_p50: float | None = None
    window_ops: set[str] = field(default_factory=set)  # op ids in the timed window
    extra: dict[str, float] = field(default_factory=dict)  # printed end-to-end extras
    layer: dict[str, float] = field(default_factory=dict)  # workload-computed per-layer values
    lock: threading.Lock = field(default_factory=threading.Lock)

    def add(self, cls: str | None, seconds: float, template: str | None = None) -> None:
        """One timed op of class ``cls`` (None: recorded per template only)."""
        with self.lock:
            if cls is not None:
                self.samples.setdefault(cls, []).append(seconds)
            self.by_template.setdefault(template or cls, []).append(seconds)

    def fail(self, what: str) -> None:
        with self.lock:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(what)


def guarded(outcome: Outcome, what: str, fn):
    """Run one op; an exception counts as a failed op (no retries)."""
    try:
        return fn()
    except Exception:
        outcome.fail(f"{what}: {traceback.format_exc(limit=3).strip().splitlines()[-1]}")
        return None


def run_workload(ctx: Context) -> Outcome:
    import importlib

    mod = importlib.import_module(ctx.workload.split("_")[0])
    return mod.run(ctx)


def geomean_of_medians(out: Outcome, templates: tuple[str, ...]) -> float:
    """Geometric mean of the templates' median latencies (nan if a
    template has no sample)."""
    meds = [statistics.median(out.by_template[t]) if out.by_template.get(t) else float("nan")
            for t in templates]
    return math.exp(sum(math.log(m) for m in meds) / len(meds))


def pct(xs: list[float], q: float) -> float:
    s = sorted(xs)
    if not s:
        return float("nan")
    i = (len(s) - 1) * q
    lo = int(i)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (i - lo)


def summarize(ctx: Context, out: Outcome) -> dict:
    read_cls, bulk_cls = CLASSES[ctx.workload]
    setup = ctx.setup_end - ctx.t_proc

    def p50(cls: str) -> float:
        return statistics.median(out.samples.get(cls) or [float("nan")])

    e2e = {
        "setup_s": {"value": setup, "unit": "s"},
        "throughput_per_s": {"value": out.throughput, "unit": "1/s"},
        "read_p50_s": {"value": p50(read_cls) if out.read_p50 is None else out.read_p50,
                       "unit": "s"},
        "bulk_p50_s": {"value": p50(bulk_cls) if out.bulk_p50 is None else out.bulk_p50,
                       "unit": "s"},
    }
    q = TAIL_Q[ctx.workload]
    classes = {
        cls: {"n": len(xs), "p50_s": statistics.median(xs), f"p{round(q * 100)}_s": pct(xs, q),
              "beyond_tail": sum(1 for x in xs if x > pct(xs, q))}
        for cls, xs in out.samples.items()
    }
    templates = {t: {"n": len(xs), "p50_s": statistics.median(xs)}
                 for t, xs in sorted(out.by_template.items())}
    record = {
        "workload": ctx.workload, "seed": ctx.seed, "seconds": ctx.seconds, "scale": ctx.scale,
        "trace": int(ctx.tracer.enabled), "correct": out.failed == 0 and out.attempted > 0,
        "attempted": out.attempted, "failed": out.failed,
        "error_rate": out.failed / max(out.attempted, 1), "errors": out.errors,
        "end_to_end": e2e, "classes": classes, "templates": templates, "extra": out.extra, "info": ctx.info,
    }
    if ctx.tracer.enabled:
        record.update(layer_report(ctx, out))
    return record


# -- per-layer metrics (traced run) -------------------------------------------------

PER_LAYER = [
    ("session.get_spark_s", "s"), ("catalog.load_table_s", "s"), ("catalog.load_table_calls", "count"),
    ("sources.read_csv_s", "s"), ("sql.self_s", "s"), ("sql.calls", "count"),
    ("sql.views_registered", "count"), ("plans.rollup_routed_frac", "frac"), ("plans.refresh_s", "s"),
    ("store.table_s", "s"), ("store.table_cache_hit_frac", "frac"), ("store.scan_s", "s"),
    ("store.scan_files_read_frac", "frac"), ("store.segments_valid", "count"),
    ("store.load_s", "s"), ("store.merge_rows_s", "s"), ("store.delete_rows_s", "s"),
    ("store.update_rows_s", "s"), ("store.compact_s", "s"), ("store.clean_files_s", "s"),
    ("store.segments_rewritten", "count"), ("store.rewrite_useful_frac", "frac"),
    ("store.bytes_written", "bytes"), ("store.write_amp", "ratio"), ("store.space_amp", "ratio"),
    ("lock.wait_s", "s"), ("lock.hold_s", "s"), ("lock.acquisitions", "count"),
    ("bloom.probe_positions_s", "s"), ("bloom.probe_positions_calls", "count"), ("bloom.compute_s", "s"),
    ("operators.minhash_lsh_pairs_s", "s"), ("operators.tfidf_top_terms_s", "s"),
    ("operators.with_quality_score_s", "s"), ("operators.dedup_exact_s", "s"),
    ("operators.cosine_topk_s", "s"),
    ("spark.analysis_s", "s"), ("spark.optimization_s", "s"), ("spark.planning_s", "s"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.task_time_s", "s"), ("spark.task_cpu_s", "s"), ("spark.scheduler_delay_s", "s"),
    ("spark.gc_s", "s"), ("spark.input_bytes", "bytes"), ("spark.output_bytes", "bytes"),
    ("spark.shuffle_read_bytes", "bytes"), ("spark.shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"), ("py4j.calls", "count"), ("py4j.s", "s"),
    *[(f"self.{layer}_s", "s") for layer in spans.LAYERS if layer != "session"],
    ("trace.spans", "count"), ("trace.overhead_est_s", "s"),
]
# span name -> per-call mean metric ("<name>_s": mean inclusive seconds per call)
_PER_CALL = {
    "catalog.load_table": "catalog.load_table_s", "sources.read_csv": "sources.read_csv_s",
    "plans.refresh": "plans.refresh_s", "store.table": "store.table_s", "store.scan": "store.scan_s",
    "store.load": "store.load_s", "store.merge_rows": "store.merge_rows_s",
    "store.delete_rows": "store.delete_rows_s", "store.update_rows": "store.update_rows_s",
    "store.compact": "store.compact_s", "store.clean_files": "store.clean_files_s",
    "bloom.probe_positions": "bloom.probe_positions_s", "bloom.compute": "bloom.compute_s",
    "lock.wait": "lock.wait_s", "lock.hold": "lock.hold_s",
}
# span name -> per-op count metric
_PER_OP_COUNT = {
    "catalog.load_table": "catalog.load_table_calls", "sql.sql": "sql.calls",
    "store.register_view": "sql.views_registered", "lock.wait": "lock.acquisitions",
    "bloom.probe_positions": "bloom.probe_positions_calls", "py4j.call": "py4j.calls",
}
_SPARK_EVENT = ("jobs", "stages", "tasks", "task_time_s", "task_cpu_s", "scheduler_delay_s", "gc_s",
                "input_bytes", "output_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
                "spill_bytes")


def layer_report(ctx: Context, out: Outcome) -> dict:
    """Per-layer metrics. Per-call means and counts come from the timed
    window; a call the window never makes (olap_read's store build: LOAD,
    CSV parse, lock, bloom build, aggregate refresh) is reported from
    set-up instead, as mean per call and total count."""
    tracer = ctx.tracer
    ops = out.window_ops
    n_ops = max(len(ops), 1)
    by_class = spans.breakdown(tracer, ops)
    win_calls: dict[str, int] = defaultdict(int)
    win_incl: dict[str, float] = defaultdict(float)
    set_calls: dict[str, int] = defaultdict(int)
    set_incl: dict[str, float] = defaultdict(float)
    selfs: dict[str, float] = defaultdict(float)
    for c in by_class.values():
        for k, v in c["self_s"].items():
            selfs[k] += v
    for _sid, _p, op, name, t0, t1 in tracer.spans:
        if op in ops:
            win_calls[name] += 1
            win_incl[name] += t1 - t0
        elif t1 <= ctx.setup_end:
            set_calls[name] += 1
            set_incl[name] += t1 - t0
    m = {name: 0.0 for name, _ in PER_LAYER}
    for span_name, metric in _PER_CALL.items():
        if win_calls[span_name]:
            m[metric] = win_incl[span_name] / win_calls[span_name]
        elif set_calls[span_name]:
            m[metric] = set_incl[span_name] / set_calls[span_name]
    for span_name, metric in _PER_OP_COUNT.items():
        m[metric] = win_calls[span_name] / n_ops if win_calls[span_name] else set_calls[span_name]
    m["session.get_spark_s"] = set_incl["session.get_spark"]
    m["sql.self_s"] = selfs["sql"] / n_ops
    m["py4j.s"] = win_incl["py4j.call"] / n_ops
    for layer in spans.LAYERS:
        if layer != "session":
            m[f"self.{layer}_s"] = selfs[layer] / n_ops
    for op_name in ("minhash_lsh_pairs", "tfidf_top_terms", "with_quality_score", "dedup_exact",
                    "cosine_topk"):
        c = by_class.get(op_name)
        if c and c["ops"]:
            m[f"operators.{op_name}_s"] = c["wall_s"] / c["ops"]
    # rollup routing and table-resolution cache, from recorded return values
    routed = [res is not None for op, name, res, a, kw in tracer.results
              if name == "plans.choose_rollup" and op in ops]
    if routed:
        m["plans.rollup_routed_frac"] = sum(routed) / len(routed)
    last: dict[tuple, int] = {}
    hits = eligible = 0
    for op, name, res, a, kw in tracer.results:
        if name != "store.table" or len(a) != 2 or any(v is not None for v in kw.values()):
            continue
        key = (id(a[0]), a[1])
        if op in ops:
            eligible += 1
            hits += last.get(key) == id(res)
        last[key] = id(res)
    if eligible:
        m["store.table_cache_hit_frac"] = hits / eligible
    # Catalyst phases and event-log job metrics, per op
    for ph in ("analysis", "optimization", "planning"):
        m[f"spark.{ph}_s"] = sum(ctx.phases.get(o, {}).get(ph, 0.0) for o in ops) / n_ops
    events = spans.parse_event_log(ctx.eventlog_dir())
    for k in _SPARK_EVENT:
        m[f"spark.{k}"] = sum(events.get(o, {}).get(k, 0.0) for o in ops) / n_ops
    n_spans = sum(win_calls.values())
    cost = tracer.span_cost_s()
    m["trace.spans"] = n_spans / n_ops
    m["trace.overhead_est_s"] = n_spans * cost / n_ops
    m.update(out.layer)
    units = dict(PER_LAYER)
    per_class = {}
    for cls, c in by_class.items():
        cls_events = [events.get(o, {}) for o in ops if tracer.ops[o]["class"] == cls]
        per_class[cls] = {
            "ops": c["ops"], "wall_s_per_op": c["wall_s"] / c["ops"],
            "self_s_per_op": {k: v / c["ops"] for k, v in sorted(c["self_s"].items())},
            "self_sum_minus_wall_s": sum(c["self_s"].values()) - c["wall_s"],
            "calls_per_op": {k: v / c["ops"] for k, v in sorted(c["calls"].items())},
            "spark_per_op": {k: sum(e.get(k, 0.0) for e in cls_events) / c["ops"]
                             for k in _SPARK_EVENT},
        }
    return {
        "per_layer": {k: {"value": float(v), "unit": units[k]} for k, v in m.items()},
        "per_class": per_class,
        "span_cost_s": cost,
    }


def print_report(rec: dict) -> None:
    w = rec["workload"]
    print(f"# perfbench {w} seed={rec['seed']} seconds={rec['seconds']} trace={rec['trace']} "
          f"scale={rec['scale']}")
    print(f"# environment: {rec['info']}")
    print(f"# attempted={rec['attempted']} failed={rec['failed']} "
          f"error_rate={rec['error_rate']:.4f} correct={rec['correct']}")
    for e in rec["errors"]:
        print(f"#   error: {e}")
    for k, v in rec["end_to_end"].items():
        print(f"# {k} = {v['value']:.6g} {v['unit']}")
    for cls, c in sorted(rec["classes"].items()):
        print(f"# class {cls}: " + " ".join(f"{k}={v:.6g}" for k, v in c.items()))
    print("# templates: " + " ".join(f"{t}={c['p50_s']:.4g}(n={c['n']})"
                                     for t, c in rec["templates"].items()))
    for k, v in sorted(rec["extra"].items()):
        print(f"# {k} = {v:.6g}")
    if rec["trace"]:
        for cls, c in sorted(rec["per_class"].items()):
            print(f"# trace {cls}: ops={c['ops']} wall/op={c['wall_s_per_op']:.4f}s "
                  f"self-sum minus wall={c['self_sum_minus_wall_s']:.2e}s")
            print("#   self/op: " + " ".join(f"{k}={v:.4f}" for k, v in c["self_s_per_op"].items()))
            print("#   spark/op: " + " ".join(f"{k}={v:.4g}" for k, v in c["spark_per_op"].items()))
        print(f"# span cost {rec['span_cost_s'] * 1e6:.2f} us")
