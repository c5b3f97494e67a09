"""olap_read: the interactive analyst, two closed-loop clients on one session.

Set-up builds a store of key-offset lineitem copies (one segment each,
bloom filter on the order key) plus orders and one aggregate table. The
timed mix alternates point ops (SQL key lookup; ``CarbonStore.scan`` isin
lookup) with scan ops (key-range aggregate, q01-style group-by, q03-style
join + top-10, rollup-routable group-by); literals vary per op. Every
template is checked against DuckDB before the window and every timed
result after it.
"""

from __future__ import annotations

import threading

import duckdb
import numpy as np

import gen
from common import Context, Outcome, geomean_of_medians, guarded, now
from spans import catalyst_phases, set_job_group

# bench: 150k orders and about 600k lineitems in all, the row counts of
# TPC-H sf0.1, so scans are task-bound while point lookups stay driver-bound.
SIZES = {"bench": {"copies": 3, "orders_per_copy": 50_000}, "smoke": {"copies": 2, "orders_per_copy": 300}}
CLIENTS = 2
WARMUP_S = {"bench": 3.0, "smoke": 0.0}
# Every template is an equal share of its class; a class figure is the
# geometric mean of its templates' medians.
POINT_CYCLE = ("point_sql", "point_store")
SCAN_CYCLE = ("range_agg", "q01", "q03", "rollup")
POINT_COLS = "l_orderkey, l_linenumber, l_quantity, l_extendedprice, CAST(l_shipdate AS STRING) AS l_shipdate"


def _sql(tpl: str, p: dict) -> str:
    if tpl == "point_sql":
        return f"SELECT {POINT_COLS} FROM lineitem WHERE l_orderkey = {p['key']}"
    if tpl == "point_store":  # the DuckDB side of the store.scan isin lookup
        return f"SELECT {POINT_COLS} FROM lineitem WHERE l_orderkey IN ({', '.join(map(str, p['keys']))})"
    if tpl == "range_agg":
        return ("SELECT count(*) AS n, sum(l_extendedprice) AS price, sum(l_quantity) AS qty "
                f"FROM lineitem WHERE l_orderkey BETWEEN {p['lo']} AND {p['hi']}")
    if tpl == "q01":
        return ("SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, "
                "sum(l_extendedprice) AS sum_price, sum(l_discount) AS sum_disc, count(*) AS n "
                f"FROM lineitem WHERE l_shipdate <= DATE '{p['date']}' "
                "GROUP BY l_returnflag, l_linestatus")
    if tpl == "q03":
        return ("SELECT l_orderkey, sum(l_extendedprice) AS revenue, "
                "CAST(o_orderdate AS STRING) AS o_orderdate FROM lineitem JOIN orders "
                f"ON l_orderkey = o_orderkey WHERE o_orderdate < DATE '{p['date']}' "
                f"AND l_shipdate > DATE '{p['date']}' GROUP BY l_orderkey, o_orderdate "
                "ORDER BY revenue DESC, l_orderkey LIMIT 10")
    if tpl == "rollup":
        return ("SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, count(*) AS n "
                f"FROM lineitem WHERE l_returnflag = '{p['flag']}' "
                "GROUP BY l_returnflag, l_linestatus")
    raise ValueError(tpl)


def _params(tpl: str, rng: np.random.Generator, keys: np.ndarray) -> dict:
    if tpl == "point_sql":
        return {"key": int(rng.choice(keys))}
    if tpl == "point_store":
        return {"keys": sorted(int(k) for k in rng.choice(keys, 3, replace=False))}
    if tpl == "range_agg":
        lo = int(rng.choice(keys))
        return {"lo": lo, "hi": lo + int(rng.integers(50, 400))}
    if tpl in ("q01", "q03"):
        y, mth, d = int(rng.integers(1993, 1998)), int(rng.integers(1, 13)), int(rng.integers(1, 29))
        return {"date": f"{y}-{mth:02d}-{d:02d}"}
    return {"flag": str(rng.choice(["A", "N", "R"]))}


def _schema(data: gen.OlapData, table: str):
    """Spark schema of a generated table, from its parquet footer."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    path = data.orders_file if table == "orders" else data.lineitem_files[0]
    return from_arrow_schema(pq.read_schema(path))


class Olap:
    def __init__(self, ctx: Context):
        from carbondata_spark.sql import CarbonSession
        from carbondata_spark.store import CarbonStore

        self.ctx = ctx
        spark = ctx.start_session()
        size = SIZES[ctx.scale]
        self.data = gen.olap_tables(ctx.seed, ctx.dir("gen"), **size)
        self.store = CarbonStore(spark, ctx.dir("store"))
        self.cs = CarbonSession(spark, self.store)
        for table, key in (("lineitem", "l_orderkey"), ("orders", "o_orderkey")):
            self.store.create_table(table, _schema(self.data, table), sort_columns=[key],
                                    properties={"bloom_columns": key})
        for f in (*self.data.lineitem_csv, self.data.orders_csv):
            table = "orders" if f == self.data.orders_csv else "lineitem"
            self.cs.sql(f"LOAD DATA INPATH '{f}' INTO TABLE {table}")
        self.cs.sql("CREATE AGGREGATETABLE flags FROM TABLE lineitem "
                    "GROUP BY (l_returnflag, l_linestatus) AGGREGATES (sum(l_quantity), count(l_quantity))")
        self.duck = duckdb.connect()
        files = ", ".join(f"'{f}'" for f in self.data.lineitem_files)
        self.duck.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet([{files}])")
        self.duck.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{self.data.orders_file}')")
        self.duck_lock = threading.Lock()
        ctx.setup_done()

    def execute(self, tpl: str, p: dict):
        """The op itself: returns (DataFrame, pandas result)."""
        if tpl == "point_store":
            df = self.store.scan("lineitem", "l_orderkey", isin=p["keys"]).selectExpr(
                *[c.strip() for c in POINT_COLS.split(", ")])
        else:
            df = self.cs.sql(_sql(tpl, p))
        # Arrow keeps decimals as Decimal on both sides, so oracle.compare
        # sees exact values with the same scale.
        with self.ctx.tracer.span("spark.consume"):
            return df, df.toPandas()

    def check(self, tpl: str, p: dict, got) -> str | None:
        from carbondata_spark.oracle import compare

        with self.duck_lock:
            want = self.duck.execute(_sql(tpl, p)).arrow().to_pandas()
        res = compare(tpl, got, want)
        return None if res.ok else f"{tpl} {p}: {res.detail}"


def run(ctx: Context) -> Outcome:
    out = Outcome()
    bench = Olap(ctx)
    spark = ctx.spark
    tracer = ctx.tracer
    keys = bench.data.order_keys

    # Correctness gate + warm-up: every template once, checked, untimed.
    rng = np.random.default_rng([ctx.seed, 10])
    for tpl in ("point_sql", "point_store", "range_agg", "q01", "q03", "rollup"):
        p = _params(tpl, rng, keys)
        out.attempted += 1
        res = guarded(out, f"gate {tpl}", lambda: bench.execute(tpl, p))
        if res is not None:
            err = bench.check(tpl, p, res[1])
            if err:
                out.fail("gate " + err)

    done: list[tuple[str, dict, object]] = []
    done_lock = threading.Lock()
    last_end = [0.0]

    def client(cid: int, timed: bool, deadline: float) -> None:
        crng = np.random.default_rng([ctx.seed, 20 + cid, int(timed)])
        j = 0
        while now() < deadline:
            cls = "point" if (j + cid) % 2 == 0 else "scan"
            cyc = POINT_CYCLE if cls == "point" else SCAN_CYCLE
            tpl = cyc[(j // 2) % len(cyc)]
            p = _params(tpl, crng, keys)
            op_id = f"{'ct'[timed]}{cid}-{j}"
            j += 1
            set_job_group(tracer, spark, op_id)
            t0 = now()
            with tracer.op(op_id, cls):
                res = guarded(out, f"{tpl} {p}", lambda: bench.execute(tpl, p))
            t1 = now()
            with done_lock:
                out.attempted += 1
                if timed:
                    out.window_ops.add(op_id)
                    last_end[0] = max(last_end[0], t1)
            if res is None:
                continue
            if timed:
                out.add(cls, t1 - t0, tpl)
                ctx.phases[op_id] = catalyst_phases(tracer, res[0])
            with done_lock:
                done.append((tpl, p, res[1]))

    def clients(timed: bool, deadline: float) -> None:
        threads = [threading.Thread(target=client, args=(c, timed, deadline)) for c in range(CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()

    # Warm-up: the same closed loop, untimed, so JIT and codegen caches
    # are filled before the window.
    clients(False, now() + WARMUP_S[ctx.scale])
    ctx.start_window()
    clients(True, ctx.deadline)
    n_ok = sum(len(v) for v in out.samples.values())
    out.throughput = n_ok / max(last_end[0] - ctx.window_start, 1e-9)
    out.read_p50 = geomean_of_medians(out, POINT_CYCLE)
    out.bulk_p50 = geomean_of_medians(out, SCAN_CYCLE)

    for tpl, p, got in done:
        err = bench.check(tpl, p, got)
        if err:
            out.fail(err)
    if tracer.enabled:
        out.layer.update(_scan_layer(bench, tracer, out.window_ops))
    return out


def _scan_layer(bench: Olap, tracer, ops: set[str]) -> dict[str, float]:
    """store.scan_files_read_frac (files a pruned scan reads / files of the
    valid segments) and store.segments_valid, read after the window."""
    import glob
    import os

    with tracer.paused():
        segs = bench.store.valid_segments("lineitem")
        root = os.path.join(bench.store.store_path, "lineitem", "Fact", "Part0")
        total = sum(len(glob.glob(os.path.join(root, f"Segment_{e.segment_id}", "**", "*.parquet"),
                                  recursive=True)) for e in segs)
        fracs = [len(res.inputFiles()) / max(total, 1)
                 for op, name, res, a, kw in tracer.results if name == "store.scan" and op in ops]
    out = {"store.segments_valid": float(len(segs))}
    if fracs:
        out["store.scan_files_read_frac"] = sum(fracs) / len(fracs)
    return out
