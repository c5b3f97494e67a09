"""llm_pipeline: a batch, execution-bound pass over a near-duplicate corpus.

Each pass resolves the generated corpus through ``catalog.load_table`` and
runs ``minhash_lsh_pairs``, ``tfidf_top_terms``, ``with_quality_score`` and
``dedup_exact`` over the documents, then ``cosine_topk`` for a fixed query
set over the embeddings; every result is fully consumed into pandas. Each
operator's result is compared with its registry row's DuckDB oracle.
"""

from __future__ import annotations

import statistics
import threading

import duckdb

import gen
from common import Context, Outcome, guarded, now
from spans import catalyst_phases, set_job_group

SIZES = {"bench": {"base_docs": 1000, "copies": 4, "perturb": 0.08},
         "smoke": {"base_docs": 40, "copies": 2, "perturb": 0.08}}
# operator -> the registry row whose oracle pins its output
ORACLE_ROW = {
    "minhash_lsh_pairs": "p_dedup_minhash_lsh",
    "tfidf_top_terms": "p_text_tfidf",
    "with_quality_score": "p_text_quality",
    "dedup_exact": "p_dedup_exact",
    "cosine_topk": "p_sim_topk_bruteforce",
}
CORPUS_OPS = ("minhash_lsh_pairs", "tfidf_top_terms", "with_quality_score", "dedup_exact")
# The fixed query set is searched this many times per pass: one call per
# pass would give the read class too few samples for a steady median.
TOPK_CALLS = 3
PASS_OPS = (*CORPUS_OPS, *["cosine_topk"] * TOPK_CALLS)


def _call(name: str, spark, corpus: str):
    """One operator call on freshly resolved inputs, shaped like its
    registry row so the row's oracle applies."""
    from pyspark.sql import functions as F

    from carbondata_spark import catalog
    from carbondata_spark.operators import dedup, similarity, text

    if name == "cosine_topk":
        emb = catalog.load_table(spark, corpus, "embeddings")
        return similarity.cosine_topk(emb, emb.filter(F.col("vec_id") < 5), k=10)
    docs = catalog.load_table(spark, corpus, "documents")
    if name == "minhash_lsh_pairs":
        return dedup.minhash_lsh_pairs(docs, threshold=0.5)
    if name == "tfidf_top_terms":
        return text.tfidf_top_terms(docs, k=3)
    if name == "with_quality_score":
        return text.with_quality_score(docs).select(
            "doc_id", "n_words", "stopword_frac", "punct_frac", "quality_score")
    return dedup.dedup_exact(docs).select("doc_id", "n_chars")


def run(ctx: Context) -> Outcome:
    from carbondata_spark.oracle import compare
    from carbondata_spark.queries import registry

    out = Outcome()
    tracer = ctx.tracer
    spark = ctx.start_session()
    corpus = gen.llm_corpus(ctx.seed, ctx.dir("gen"), **SIZES[ctx.scale])
    ctx.setup_done()
    n_docs = SIZES[ctx.scale]["base_docs"] * SIZES[ctx.scale]["copies"]

    duck = duckdb.connect()
    for t in ("documents", "embeddings"):
        duck.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus}/{t}.parquet')")
    rows = registry()
    want: dict = {}
    # The oracles run in DuckDB while the untimed gate pass runs in Spark.
    oracles = threading.Thread(target=lambda: want.update(
        {op: duck.execute(rows[row].oracle).fetchdf() for op, row in ORACLE_ROW.items()}))
    oracles.start()

    def consume(op: str):
        with tracer.span(f"operators.{op}"):
            df = _call(op, spark, corpus)
        with tracer.span("spark.consume"):
            return df, df.toPandas()

    def one(op: str, op_id: str, cls: str):
        set_job_group(tracer, spark, op_id)
        t0 = now()
        with tracer.op(op_id, cls):
            res = guarded(out, op, lambda: consume(op))
        t1 = now()
        out.attempted += 1
        if res is not None:
            ctx.phases[op_id] = catalyst_phases(tracer, res[0])
            got.append((op, res[1]))
        return t1 - t0, res is not None

    # Correctness gate + warm-up: one untimed pass.
    got: list = []
    for i, op in enumerate(PASS_OPS):
        one(op, f"gate-{i}-{op}", "gate")
    gate_results = list(got)
    oracles.join()
    got = []
    ctx.start_window()
    # The window ends at the deadline, mid-pass if need be, but holds at
    # least one whole pass; throughput counts the whole passes over the
    # time they took.
    p, passes_end, i = 0, ctx.window_start, 0
    while p == 0 or not ctx.timed_out():
        op = PASS_OPS[i]
        op_id = f"p{p}-{i}-{op}"
        dt, done = one(op, op_id, op)
        out.window_ops.add(op_id)
        if done:
            out.add("cosine_topk" if op == "cosine_topk" else None, dt, op)
        i += 1
        if i == len(PASS_OPS):
            p, passes_end, i = p + 1, now(), 0
    out.throughput = n_docs * p / (passes_end - ctx.window_start)
    # The bulk figure is the corpus part of a pass, summed from each
    # operator's median call time: robust to one slow call in a short window.
    out.bulk_p50 = sum(statistics.median(out.by_template.get(op) or [float("nan")])
                       for op in CORPUS_OPS)
    for op, pdf in gate_results + got:
        res = compare(op, pdf, want[op])
        if not res.ok:
            out.fail(f"{op}: {res.detail}")
    out.extra.update({"pipeline_docs_per_s": out.throughput, "docs": float(n_docs),
                      "passes": float(p)})
    return out
