"""Traced-run instrumentation: spans around the calls into each layer.

The benchmark installs wrappers on the module and class attributes that
the program resolves at call time (``store.py`` binds ``file_lock`` at
import, ``bloom``/``plans``/``sources`` are imported inside functions),
records one span per call in memory, counts py4j round trips, and after
the run parses the Spark event log. Nothing inside the program changes.

A span is ``(id, parent, op, name, start, end)``; spans of one benchmark
operation share the op id, and a layer's self time is its span's duration
minus the durations of its child spans (children never overlap: they
nest on one thread's stack).
"""

from __future__ import annotations

import contextlib
import functools
import glob
import itertools
import json
import os
import sys
import threading
import time
from collections import defaultdict

now = time.perf_counter

# "spark" is the consume step (job execution + Arrow transfer to pandas),
# which runs over a local socket rather than py4j.
LAYERS = ("bench", "session", "catalog", "sources", "sql", "plans", "store", "lock", "bloom",
          "operators", "spark", "py4j")

# (module, owner attribute path, span name). Owners are resolved lazily so
# importing this module imports nothing from the program.
_WRAPPED = (
    ("carbondata_spark.session", "get_spark", "session.get_spark"),
    ("carbondata_spark.catalog", "load_table", "catalog.load_table"),
    ("carbondata_spark.sources.csv", "read_csv", "sources.read_csv"),
    ("carbondata_spark.sql", "CarbonSession.sql", "sql.sql"),
    ("carbondata_spark.plans.agg_table", "choose_rollup", "plans.choose_rollup"),
    ("carbondata_spark.plans.agg_table", "refresh_aggregate_table", "plans.refresh"),
    ("carbondata_spark.store", "CarbonStore.table", "store.table"),
    ("carbondata_spark.store", "CarbonStore.scan", "store.scan"),
    ("carbondata_spark.store", "CarbonStore.register_view", "store.register_view"),
    ("carbondata_spark.store", "CarbonStore.load", "store.load"),
    ("carbondata_spark.store", "CarbonStore.merge_rows", "store.merge_rows"),
    ("carbondata_spark.store", "CarbonStore.delete_rows", "store.delete_rows"),
    ("carbondata_spark.store", "CarbonStore.update_rows", "store.update_rows"),
    ("carbondata_spark.store", "CarbonStore.compact", "store.compact"),
    ("carbondata_spark.store", "CarbonStore.clean_files", "store.clean_files"),
    ("carbondata_spark.bloom", "probe_positions", "bloom.probe_positions"),
    ("carbondata_spark.bloom", "compute_segment_blooms", "bloom.compute"),
    ("carbondata_spark.bloom", "compute_segment_blooms_grouped", "bloom.compute"),
)
_LOCKS = (("carbondata_spark.store", "file_lock"), ("carbondata_spark.lock", "file_lock"))
# Calls whose return value a per-layer metric inspects after the run.
_KEEP_RESULTS = {"store.table", "store.scan", "plans.choose_rollup"}


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes every hook a no-op
    context so the untraced run pays only a function call per op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple[int, int, str | None, str, float, float]] = []
        self.ops: dict[str, dict] = {}
        self.results: list[tuple[str, str, object, tuple, dict]] = []
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    # -- span stack --------------------------------------------------------

    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled or getattr(self._tls, "paused", False):
            yield
            return
        st = self._stack()
        sid = next(self._ids)
        parent = st[-1] if st else 0
        st.append(sid)
        t0 = now()
        try:
            yield
        finally:
            t1 = now()
            st.pop()
            self.spans.append((sid, parent, getattr(self._tls, "op", None), name, t0, t1))

    @contextlib.contextmanager
    def op(self, op_id: str, op_class: str):
        """Root span of one benchmark operation."""
        if not self.enabled:
            yield
            return
        self._tls.op = op_id
        t0 = now()
        try:
            with self.span("bench.op"):
                yield
        finally:
            self.ops[op_id] = {"class": op_class, "t0": t0, "t1": now()}
            self._tls.op = None

    @contextlib.contextmanager
    def paused(self):
        """Measurement glue (job groups, inputFiles, manifest reads) runs
        here, uncounted."""
        prev = getattr(self._tls, "paused", False)
        self._tls.paused = True
        try:
            yield
        finally:
            self._tls.paused = prev

    # -- installation --------------------------------------------------------

    def _set(self, owner, attr, value):
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def install(self) -> None:
        if not self.enabled:
            return
        import importlib

        for mod_name, path, name in _WRAPPED:
            owner = importlib.import_module(mod_name)
            *parents, attr = path.split(".")
            for p in parents:
                owner = getattr(owner, p)
            self._set(owner, attr, self._wrap(getattr(owner, attr), name))
        for mod_name, attr in _LOCKS:
            owner = importlib.import_module(mod_name)
            self._set(owner, attr, self._wrap_lock(getattr(owner, attr)))

    def install_py4j(self, spark) -> None:
        """Count and time every driver->JVM round trip as a leaf span."""
        if not self.enabled:
            return
        client = spark.sparkContext._gateway._gateway_client
        orig = client.send_command
        if getattr(orig, "_traced", False):
            return
        tracer = self

        def send_command(*a, **kw):
            with tracer.span("py4j.call"):
                return orig(*a, **kw)

        send_command._traced = True
        self._patches.append((client, "send_command", orig))
        client.send_command = send_command

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def _wrap(self, fn, name):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            with tracer.span(name):
                res = fn(*a, **kw)
            op = getattr(tracer._tls, "op", None)
            if name in _KEEP_RESULTS and op is not None:
                tracer.results.append((op, name, res, a, kw))
            return res

        return wrapper

    def _wrap_lock(self, file_lock):
        tracer = self

        @contextlib.contextmanager
        def traced_lock(*a, **kw):
            cm = file_lock(*a, **kw)
            with tracer.span("lock.wait"):
                cm.__enter__()
            with tracer.span("lock.hold"):
                try:
                    yield
                except BaseException:
                    if not cm.__exit__(*sys.exc_info()):
                        raise
                    return
            cm.__exit__(None, None, None)

        return traced_lock

    def span_cost_s(self) -> float:
        """Measured cost of recording one span on this host."""
        probe = Tracer(True)
        n = 20000
        t0 = now()
        for _ in range(n):
            with probe.span("probe"):
                pass
        return (now() - t0) / n


# -- Spark job attribution ---------------------------------------------------------

def set_job_group(tracer: Tracer, spark, op_id: str) -> None:
    if tracer.enabled:
        with tracer.paused():
            spark.sparkContext.setJobGroup(op_id, op_id)


def catalyst_phases(tracer: Tracer, df) -> dict[str, float]:
    """analysis/optimization/planning seconds from the QueryPlanningTracker
    of a DataFrame the op produced and consumed."""
    out = {}
    if not tracer.enabled or df is None:
        return out
    with tracer.paused():
        phases = df._jdf.queryExecution().tracker().phases()
        for ph in ("analysis", "optimization", "planning"):
            o = phases.get(ph)
            if o.isDefined():
                out[ph] = o.get().durationMs() / 1000.0
    return out


def parse_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group (= op id): jobs, stages, tasks, task time, CPU,
    scheduler delay, GC and bytes, from the Spark event log."""
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    per: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)
                       + glob.glob(os.path.join(log_dir, "local-*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g is None:
                        continue
                    job_group[ev["Job ID"]] = g
                    per[g]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                elif kind == "SparkListenerStageCompleted":
                    g = stage_group.get(ev["Stage Info"]["Stage ID"])
                    if g is not None:
                        per[g]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"])
                    if g is None:
                        continue
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    d = per[g]
                    dur = (info["Finish Time"] - info["Launch Time"]) / 1000.0
                    run = m.get("Executor Run Time", 0) / 1000.0
                    d["tasks"] += 1
                    d["task_time_s"] += run
                    d["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    d["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    d["scheduler_delay_s"] += max(
                        0.0,
                        dur - run
                        - m.get("Executor Deserialize Time", 0) / 1000.0
                        - m.get("Result Serialization Time", 0) / 1000.0
                        - info.get("Getting Result Time", 0) / 1000.0,
                    )
                    d["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    d["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    d["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    d["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    d["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return per


# -- aggregation -----------------------------------------------------------------

def self_times(tracer: Tracer) -> dict[int, float]:
    child = defaultdict(float)
    for sid, parent, _op, _name, t0, t1 in tracer.spans:
        if parent:
            child[parent] += t1 - t0
    return {sid: (t1 - t0) - child[sid] for sid, _p, _o, _n, t0, t1 in tracer.spans}


def layer_of(name: str) -> str:
    return name.split(".", 1)[0]


def breakdown(tracer: Tracer, op_ids: set[str]) -> dict[str, dict]:
    """Per op class: op count, wall, self time per layer, and calls and
    inclusive time per span name."""
    selfs = self_times(tracer)
    out: dict[str, dict] = {}
    for sid, _p, op, name, t0, t1 in tracer.spans:
        if op not in op_ids:
            continue
        c = out.setdefault(tracer.ops[op]["class"], {
            "ops": 0, "wall_s": 0.0, "self_s": defaultdict(float),
            "calls": defaultdict(int), "incl_s": defaultdict(float),
        })
        c["self_s"][layer_of(name)] += selfs[sid]
        c["calls"][name] += 1
        c["incl_s"][name] += t1 - t0
        if name == "bench.op":
            c["ops"] += 1
            c["wall_s"] += t1 - t0
    return out
