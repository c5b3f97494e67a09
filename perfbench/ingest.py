"""ingest_cdc: near-real-time loading and CDC through ``CarbonSession.sql``.

One writer runs the seeded write script (gen.INGEST_CYCLE: LOAD DATA of
CSV batches, MERGE INTO from a CDC view, DELETE by key range and by a
non-sort column, UPDATE ... WHERE, ALTER TABLE ... COMPACT) on a table
with a bloom filter on its key and one aggregate table. After every commit
one fresh read (count + key checksum) is timed. After the window a final
CLEAN FILES runs, and a DuckDB replay of the same script checks every
fresh read and the final table.
"""

from __future__ import annotations

import glob
import os

import duckdb

import gen
from common import Context, Outcome, guarded, now
from spans import set_job_group

SIZES = {"bench": {"batch_rows": 2000, "cdc_rows": 600}, "smoke": {"batch_rows": 200, "cdc_rows": 60}}
SETUP_LOADS = 2
FRESH_READ = "SELECT count(*) AS n, sum(k) AS ks FROM acct"
FINAL_TABLE = "SELECT k, cat, qty, amt FROM acct"
# (CarbonSession text, DuckDB text): DuckDB widens sum(BIGINT) to HUGEINT.
FINAL_ROLLUP = ("SELECT cat, sum(amt) AS amt, count(qty) AS n FROM acct GROUP BY cat",
                "SELECT cat, CAST(sum(amt) AS BIGINT) AS amt, count(qty) AS n FROM acct GROUP BY cat")
MUTATIONS = ("merge", "delete_range", "delete_nonkey", "update")


def _files(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def run(ctx: Context) -> Outcome:
    from pyspark.sql import types as T

    from carbondata_spark.oracle import compare
    from carbondata_spark.sql import CarbonSession
    from carbondata_spark.store import CarbonStore

    out = Outcome()
    tracer = ctx.tracer
    spark = ctx.start_session()
    store_dir = ctx.dir("store")
    store = CarbonStore(spark, store_dir)
    cs = CarbonSession(spark, store)
    schema = T.StructType([
        T.StructField("k", T.LongType()), T.StructField("cat", T.StringType()),
        T.StructField("qty", T.IntegerType()), T.StructField("amt", T.LongType()),
    ])
    store.create_table("acct", schema, sort_columns=["k"], properties={"bloom_columns": "k"})
    script = gen.IngestScript(ctx.seed, ctx.dir("gen"), **SIZES[ctx.scale])
    executed: list[tuple[gen.Statement, tuple | None]] = []  # (statement, fresh read)
    for _ in range(SETUP_LOADS):
        st = script.load()
        cs.sql(st.sql).collect()
        executed.append((st, None))
    cs.sql("CREATE AGGREGATETABLE bycat FROM TABLE acct GROUP BY (cat) "
           "AGGREGATES (sum(amt), count(qty))").collect()
    ctx.setup_done()
    out.attempted += 1
    guarded(out, "setup fresh read", lambda: cs.sql(FRESH_READ).collect())

    write_s = 0.0
    rows_in = bytes_in = bytes_written = 0
    before = _files(store_dir)
    segs_before = {}
    rewrites: list[tuple[gen.Statement, list[int]]] = []
    j = 0
    ctx.start_window()
    while not ctx.timed_out():
        st = script.next()
        if st.view:
            name, path = st.view
            spark.read.csv(path, schema=schema, header=True).createOrReplaceTempView(name)
        if tracer.enabled and st.kind in MUTATIONS:
            with tracer.paused():
                segs_before = {e["segment_id"]: e["status"] for e in store.show_segments("acct")}
        op_id = f"w{j}"
        set_job_group(tracer, spark, op_id)
        t0 = now()
        with tracer.op(op_id, "write"):
            ok = guarded(out, st.sql[:80], lambda: cs.sql(st.sql).collect())
        t1 = now()
        out.attempted += 1
        out.window_ops.add(op_id)
        if ok is None:
            executed.append((st, None))
            break  # the state is unknown after a failed commit; stop writing
        out.add("write", t1 - t0, st.kind)
        write_s += t1 - t0
        rows_in += st.input_rows
        bytes_in += st.input_bytes
        after = _files(store_dir)
        bytes_written += sum(sz for p, (sz, mt) in after.items() if before.get(p) != (sz, mt))
        before = after
        if tracer.enabled and st.kind in MUTATIONS:
            with tracer.paused():
                segs_after = {e["segment_id"]: e["status"] for e in store.show_segments("acct")}
            rewrites.append((st, [s for s, status in segs_before.items()
                                  if status == "Success" and segs_after.get(s) == "Compacted"]))
        op_id = f"r{j}"
        set_job_group(tracer, spark, op_id)
        t0 = now()
        with tracer.op(op_id, "fresh_read"):
            row = guarded(out, "fresh read", lambda: cs.sql(FRESH_READ).collect()[0])
        t1 = now()
        out.attempted += 1
        out.window_ops.add(op_id)
        executed.append((st, None if row is None else (row["n"], row["ks"])))
        if row is not None:
            out.add("fresh_read", t1 - t0)
        j += 1
    window_s = now() - ctx.window_start
    out.throughput = rows_in / max(write_s, 1e-9)

    layer = {}
    if tracer.enabled:
        layer.update(_rewrite_layer(store_dir, rewrites))
        with tracer.paused():
            layer["store.segments_valid"] = float(len(store.valid_segments("acct")))
    clean = script.clean()
    out.attempted += 1
    with tracer.op("clean", "clean"):
        guarded(out, "clean files", lambda: cs.sql(clean.sql).collect())
    out.window_ops.add("clean")
    space = sum(sz for sz, _mt in _files(store_dir).values())
    ingested = sum(st.input_bytes for st, _ in executed)

    # Oracle: replay the script in DuckDB, check every fresh read, then the
    # final table and a rollup-routable aggregate.
    duck = duckdb.connect()
    duck.execute("CREATE TABLE acct (k BIGINT, cat VARCHAR, qty INTEGER, amt BIGINT)")
    for st, fresh in executed:
        for q in st.duck:
            duck.execute(q)
        if fresh is not None:
            want = duck.execute("SELECT count(*), coalesce(sum(k), 0) FROM acct").fetchone()
            if (fresh[0], fresh[1] or 0) != tuple(want):
                out.fail(f"fresh read after {st.sql[:60]!r}: got {fresh}, want {want}")
    out.attempted += 2
    for name, (q, dq) in (("final table", (FINAL_TABLE, FINAL_TABLE)), ("final rollup", FINAL_ROLLUP)):
        got = guarded(out, name, lambda: cs.sql(q).toPandas())
        if got is not None:
            res = compare(name, got, duck.execute(dq).fetchdf())
            if not res.ok:
                out.fail(f"{name}: {res.detail}")

    n_writes = len(out.samples.get("write", []))
    out.extra.update({
        "ingest_rows_per_s": out.throughput,
        "write_amp": bytes_written / max(bytes_in, 1),
        "space_amp": space / max(ingested, 1),
        "writes": float(n_writes),
        "window_s": window_s,
    })
    layer["store.bytes_written"] = bytes_written / max(len(out.window_ops), 1)
    layer["store.write_amp"] = out.extra["write_amp"]
    layer["store.space_amp"] = out.extra["space_amp"]
    out.layer.update(layer)
    return out


def _rewrite_layer(store_dir: str, rewrites: list[tuple[gen.Statement, list[int]]]) -> dict:
    """Segments each mutation rewrote, and the share of them that held a
    matching row (checked in DuckDB on the pre-rewrite segment files,
    which stay on disk until CLEAN FILES)."""
    duck = duckdb.connect()
    n = useful = 0
    for st, segs in rewrites:
        for s in segs:
            files = glob.glob(os.path.join(store_dir, "acct", "Fact", "Part0", f"Segment_{s}",
                                           "**", "*.parquet"), recursive=True)
            if not files:
                continue
            n += 1
            pred = st.predicate or f"k IN ({', '.join(map(str, st.keys))})"
            lst = ", ".join(f"'{f}'" for f in files)
            useful += duck.execute(
                f"SELECT count(*) FROM read_parquet([{lst}]) WHERE {pred}").fetchone()[0] > 0
    n_mut = max(len(rewrites), 1)
    return {"store.segments_rewritten": n / n_mut, "store.rewrite_useful_frac": useful / max(n, 1)}
