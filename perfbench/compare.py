"""Compare benchmark runs of a parent commit and a change.

    python3 perfbench/compare.py PARENT CHANGE     # per workload x end-to-end metric
    python3 perfbench/compare.py --overhead RUNS   # traced minus untraced, same code

PARENT, CHANGE and RUNS are directories (or files) of run records: the
JSON records run.py keeps under .perfbench_work/results/, or saved stdout
of run.py whose file name starts with the workload name (the last line is
the result). Bounds and directions come from BENCHMARK.json.

Rules (choosing-metrics guide, section 8), for each workload x metric:
- each side's median and quartiles (statistics.quantiles, n=4);
- pair win fraction: pairs matched by seed (else by order), ties count
  for neither side;
- "gain": the change wins >= 9/10 of pairs and the medians differ by more
  than the parent's interquartile distance;
- "regression": the change's median is worse than the parent's by more
  than the metric's bound;
- "unresolved": a side's spread (IQR / median) exceeds the bound, unless
  every change run reads better than every parent run;
- otherwise "within bound". A gain is void when more ops failed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _record(path: str, workloads: list[str]) -> dict | None:
    with open(path) as f:
        text = f.read()
    try:
        rec = json.loads(text)
        if isinstance(rec, dict) and "workload" in rec:
            return rec
    except json.JSONDecodeError:
        pass
    lines = [ln for ln in text.splitlines() if ln.strip().startswith("{")]
    if not lines:
        return None
    line = json.loads(lines[-1])
    base = os.path.basename(path)
    wl = next((w for w in workloads if base.startswith(w)), None)
    if wl is None:
        return None
    seed = None
    for part in base.replace(".", "_").split("_"):
        if part.startswith("seed") and part[4:].isdigit():
            seed = int(part[4:])
    kind = "per_layer" if any("." in k for k in line["metrics"]) else "end_to_end"
    return {"workload": wl, "seed": seed, "failed": line["failed"], "attempted": line["attempted"],
            "trace": int(kind == "per_layer"), kind: line["metrics"]}


def load_runs(path: str, workloads: list[str]) -> list[dict]:
    files = ([os.path.join(path, f) for f in sorted(os.listdir(path))]
             if os.path.isdir(path) else [path])
    return [r for f in files if os.path.isfile(f) for r in [_record(f, workloads)] if r]


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(p: list[float], c: list[float], better: str, bound: float,
            p_seeds: list, c_seeds: list) -> dict:
    sign = 1.0 if better == "lower" else -1.0  # sign * (c - p) > 0 means worse
    pq1, pmed, pq3 = quartiles(p)
    cq1, cmed, cq3 = quartiles(c)
    p_spread = (pq3 - pq1) / abs(pmed) if pmed else float("inf")
    c_spread = (cq3 - cq1) / abs(cmed) if cmed else float("inf")
    if all(s is not None for s in p_seeds + c_seeds) and set(p_seeds) & set(c_seeds):
        pv, cv = dict(zip(p_seeds, p)), dict(zip(c_seeds, c))
        pairs = [(pv[s], cv[s]) for s in sorted(set(pv) & set(cv))]
    else:
        pairs = list(zip(p, c))
    wins = sum(1 for a, b in pairs if sign * (b - a) < 0)
    win_frac = wins / len(pairs) if pairs else 0.0
    worse = sign * (cmed - pmed) / abs(pmed) if pmed else 0.0
    all_better = all(sign * (b - a) < 0 for a in p for b in c)
    if max(p_spread, c_spread) > bound and not all_better:
        v = "unresolved"
    elif worse > bound:
        v = "regression"
    elif win_frac >= 0.9 and abs(cmed - pmed) > (pq3 - pq1) and worse < 0:
        v = "gain"
    else:
        v = "within bound"
    return {"parent": (pq1, pmed, pq3), "change": (cq1, cmed, cq3), "p_spread": p_spread,
            "c_spread": c_spread, "win_frac": win_frac, "pairs": len(pairs), "worse": worse,
            "verdict": v}


def compare(parent: list[dict], change: list[dict], bench: dict) -> list[dict]:
    rows = []
    for wl in [w["name"] for w in bench["workloads"]]:
        p_runs = [r for r in parent if r["workload"] == wl and "end_to_end" in r and not r.get("trace")]
        c_runs = [r for r in change if r["workload"] == wl and "end_to_end" in r and not r.get("trace")]
        if not p_runs or not c_runs:
            continue
        more_failed = sum(r["failed"] for r in c_runs) > sum(r["failed"] for r in p_runs)
        for m in bench["end_to_end"]:
            name = m["name"]
            p = [r["end_to_end"][name]["value"] for r in p_runs]
            c = [r["end_to_end"][name]["value"] for r in c_runs]
            res = verdict(p, c, m["better"], m["bound"], [r.get("seed") for r in p_runs],
                          [r.get("seed") for r in c_runs])
            if res["verdict"] == "gain" and more_failed:
                res["verdict"] = "void gain (more failed ops)"
            rows.append({"workload": wl, "metric": name, "unit": m["unit"], "bound": m["bound"],
                         "n": (len(p), len(c)), **res})
    return rows


def overhead(runs: list[dict], bench: dict) -> list[dict]:
    """Traced minus untraced medians of each end-to-end metric."""
    rows = []
    for wl in [w["name"] for w in bench["workloads"]]:
        sides = {t: [r for r in runs if r["workload"] == wl and r.get("trace") == t
                     and "end_to_end" in r] for t in (0, 1)}
        if not sides[0] or not sides[1]:
            continue
        for m in bench["end_to_end"]:
            med = {t: statistics.median(r["end_to_end"][m["name"]]["value"] for r in sides[t])
                   for t in (0, 1)}
            rows.append({"workload": wl, "metric": m["name"], "untraced": med[0], "traced": med[1],
                         "overhead": med[1] - med[0],
                         "overhead_frac": (med[1] - med[0]) / med[0] if med[0] else float("nan")})
    return rows


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("paths", nargs="+", help="PARENT CHANGE, or RUNS with --overhead")
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args(argv)
    bench = load_bench()
    workloads = [w["name"] for w in bench["workloads"]]
    if args.overhead:
        if len(args.paths) != 1:
            ap.error("--overhead takes one RUNS path")
        for r in overhead(load_runs(args.paths[0], workloads), bench):
            print(f"{r['workload']:14} {r['metric']:18} untraced={r['untraced']:.4g} "
                  f"traced={r['traced']:.4g} overhead={r['overhead']:+.4g} ({r['overhead_frac']:+.1%})")
        return 0
    if len(args.paths) != 2:
        ap.error("give PARENT and CHANGE")
    rows = compare(load_runs(args.paths[0], workloads), load_runs(args.paths[1], workloads), bench)
    for r in rows:
        pq1, pm, pq3 = r["parent"]
        cq1, cm, cq3 = r["change"]
        print(f"{r['workload']:14} {r['metric']:18} n={r['n'][0]}/{r['n'][1]} "
              f"parent={pm:.4g} [{pq1:.4g},{pq3:.4g}] change={cm:.4g} [{cq1:.4g},{cq3:.4g}] "
              f"win={r['win_frac']:.2f} worse={r['worse']:+.1%} bound={r['bound']:.0%} "
              f"-> {r['verdict']}")
    return 1 if any(r["verdict"] == "regression" for r in rows) else 0


if __name__ == "__main__":
    sys.exit(main())
