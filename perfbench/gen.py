"""Seeded input generator for the benchmark workloads.

Every input is a pure function of the workload seed and the sizes passed
in, and is written under the caller's work directory. Nothing is read from
outside the checkout: the TPC-H-shaped tables, the CSV/CDC write script and
the document/embedding corpus are synthesized here.
"""

from __future__ import annotations

import csv
import datetime as dt
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# Keys of copy c of the OLAP tables live in [c * KEY_STRIDE, (c + 1) * KEY_STRIDE):
# each copy loads as its own segment with a disjoint key range.
KEY_STRIDE = 10_000_000
_EPOCH = dt.date(1970, 1, 1)
_D_LO = (dt.date(1992, 1, 1) - _EPOCH).days
_D_HI = (dt.date(1998, 8, 2) - _EPOCH).days
_CUTOFF = (dt.date(1995, 6, 17) - _EPOCH).days


def _dec(cents: np.ndarray, precision: int) -> pa.Array:
    """decimal(precision, 2) from integer cents, built from the 128-bit
    little-endian two's-complement words Arrow stores."""
    words = np.zeros((len(cents), 2), dtype=np.int64)
    words[:, 0] = cents
    words[:, 1] = np.where(cents < 0, -1, 0)
    return pa.Array.from_buffers(pa.decimal128(precision, 2), len(cents),
                                 [None, pa.py_buffer(words.tobytes())])


def _date(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype(np.int32), pa.int32()).cast(pa.date32())


@dataclass
class OlapData:
    lineitem_files: list[str]  # parquet, one per copy (the DuckDB oracle reads these)
    orders_file: str
    lineitem_csv: list[str]  # the same rows as CSV, one LOAD DATA (= one segment) each
    orders_csv: str
    order_keys: np.ndarray  # every o_orderkey, for point-lookup literals


def _write(table: pa.Table, out_dir: str, name: str) -> tuple[str, str]:
    pq_path, csv_path = os.path.join(out_dir, f"{name}.parquet"), os.path.join(out_dir, f"{name}.csv")
    pq.write_table(table, pq_path)
    pacsv.write_csv(table, csv_path)
    return pq_path, csv_path


def olap_tables(seed: int, out_dir: str, copies: int, orders_per_copy: int) -> OlapData:
    """``copies`` key-offset copies of a TPC-H-shaped lineitem/orders pair:
    about four lineitems per order, decimal money columns (exact sums in
    both engines) and date columns."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    li_files, li_csv, orders_parts, keys = [], [], [], []
    for c in range(copies):
        n = orders_per_copy
        okey = c * KEY_STRIDE + 1 + np.arange(n, dtype=np.int64)
        odate = rng.integers(_D_LO, _D_HI, n)
        lines = rng.integers(1, 8, n)
        l_okey = np.repeat(okey, lines)
        l_odate = np.repeat(odate, lines)
        m = len(l_okey)
        l_lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
        qty = rng.integers(1, 51, m)
        price_cents = qty * rng.integers(90_000, 200_000, m) // 100
        ship = l_odate + rng.integers(1, 122, m)
        late = ship > _CUTOFF
        rflag = np.where(late, "N", np.where(rng.random(m) < 0.5, "R", "A"))
        lstatus = np.where(late, "O", "F")
        li = pa.table(
            {
                "l_orderkey": pa.array(l_okey),
                "l_partkey": pa.array(rng.integers(1, 20_000, m)),
                "l_suppkey": pa.array(rng.integers(1, 1_000, m)),
                "l_linenumber": pa.array(l_lnum),
                "l_quantity": pa.array(qty.astype(np.int64)),
                "l_extendedprice": _dec(price_cents, 12),
                "l_discount": _dec(rng.integers(0, 11, m), 4),
                "l_tax": _dec(rng.integers(0, 9, m), 4),
                "l_returnflag": pa.array(rflag),
                "l_linestatus": pa.array(lstatus),
                "l_shipdate": _date(ship),
            }
        )
        pq_path, csv_path = _write(li, out_dir, f"lineitem_{c}")
        li_files.append(pq_path)
        li_csv.append(csv_path)
        total = np.bincount(np.repeat(np.arange(n), lines), weights=price_cents, minlength=n)
        orders_parts.append(
            pa.table(
                {
                    "o_orderkey": pa.array(okey),
                    "o_custkey": pa.array(rng.integers(1, 15_000, n)),
                    "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n)),
                    "o_totalprice": _dec(total.astype(np.int64), 12),
                    "o_orderdate": _date(odate),
                    "o_orderpriority": pa.array(
                        rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n)
                    ),
                }
            )
        )
        keys.append(okey)
    orders_file, orders_csv = _write(pa.concat_tables(orders_parts), out_dir, "orders")
    return OlapData(li_files, orders_file, li_csv, orders_csv, np.concatenate(keys))


# -- ingest_cdc write script ---------------------------------------------------

INGEST_COLUMNS = ["k", "cat", "qty", "amt"]
INGEST_DUCK_COLUMNS = "{'k': 'BIGINT', 'cat': 'VARCHAR', 'qty': 'INTEGER', 'amt': 'BIGINT'}"
# One cycle of the timed write script. Keys of LOAD batch i are the even
# numbers of [i * BATCH_SPAN, i * BATCH_SPAN + 2 * rows): the odd numbers
# inside a segment's [min,max] are never loaded, so CDC rows that use them
# pass the zone map and should be rejected by the bloom filter.
INGEST_CYCLE = ("load", "merge", "delete_range", "load", "update", "merge", "delete_nonkey", "load", "compact")
FRESH_KEY_BASE = 1_000_000_000


@dataclass
class Statement:
    kind: str
    sql: str  # CarbonSession.sql text
    duck: list[str]  # the same change as DuckDB statements, for the replay oracle
    input_rows: int = 0
    input_bytes: int = 0
    view: tuple[str, str] | None = None  # (view name, csv path) to register before sql
    keys: list[int] = field(default_factory=list)  # CDC source keys (merge)
    predicate: str = ""  # row predicate (delete/update)


class IngestScript:
    """The seeded write script. ``next()`` returns the next statement and
    writes its CSV input; a Python model of the live keys exists only to
    aim updates at existing keys and in-range inserts at unused ones. The
    DuckDB replay of ``Statement.duck`` is the correctness oracle."""

    def __init__(self, seed: int, out_dir: str, batch_rows: int, cdc_rows: int):
        os.makedirs(out_dir, exist_ok=True)
        self.rng = np.random.default_rng([seed, 2])
        self.dir = out_dir
        self.batch_rows = batch_rows
        self.cdc_rows = cdc_rows
        self.span = 10 * batch_rows
        self.n_loads = 0
        self.n_files = 0
        self.n_fresh = 0
        self.live: dict[int, tuple[str, int, int]] = {}
        self.used_odd: set[int] = set()
        self.pos = 0

    def _rows(self, n: int) -> list[tuple[str, int, int]]:
        cats = self.rng.integers(0, 12, n)
        qty = self.rng.integers(1, 51, n)
        amt = self.rng.integers(100, 1_000_000, n)
        return [(f"c{c:02d}", int(q), int(a)) for c, q, a in zip(cats, qty, amt)]

    def _write_csv(self, keys: list[int], vals: list[tuple[str, int, int]]) -> tuple[str, int]:
        path = os.path.join(self.dir, f"in_{self.n_files:04d}.csv")
        self.n_files += 1
        with open(path, "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(INGEST_COLUMNS)
            for k, v in zip(keys, vals):
                w.writerow((k, *v))
        return path, os.path.getsize(path)

    @staticmethod
    def _duck_csv(path: str) -> str:
        return f"read_csv('{path}', header = true, columns = {INGEST_DUCK_COLUMNS})"

    def load(self) -> Statement:
        base = self.n_loads * self.span
        self.n_loads += 1
        keys = [base + 2 * j for j in range(self.batch_rows)]
        vals = self._rows(len(keys))
        path, nbytes = self._write_csv(keys, vals)
        self.live.update(zip(keys, vals))
        return Statement(
            "load",
            f"LOAD DATA INPATH '{path}' INTO TABLE acct",
            [f"INSERT INTO acct SELECT * FROM {self._duck_csv(path)}"],
            input_rows=len(keys),
            input_bytes=nbytes,
        )

    def merge(self) -> Statement:
        third = self.cdc_rows // 3
        live = np.fromiter(self.live, dtype=np.int64)
        upd = [int(k) for k in self.rng.choice(live, min(third, len(live)), replace=False)]
        inrange: list[int] = []
        while len(inrange) < third:
            b = int(self.rng.integers(0, self.n_loads))
            k = b * self.span + 2 * int(self.rng.integers(0, self.batch_rows - 1)) + 1
            if k not in self.used_odd:
                self.used_odd.add(k)
                inrange.append(k)
        fresh = [FRESH_KEY_BASE + self.n_fresh + j for j in range(third)]
        self.n_fresh += third
        keys = upd + inrange + fresh
        vals = self._rows(len(keys))
        path, nbytes = self._write_csv(keys, vals)
        self.live.update(zip(keys, vals))
        view = f"cdc_{self.n_files:04d}"
        src = self._duck_csv(path)
        return Statement(
            "merge",
            f"MERGE INTO acct USING {view} ON (k) "
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
            [
                f"UPDATE acct SET cat = s.cat, qty = s.qty, amt = s.amt FROM {src} s "
                "WHERE acct.k = s.k",
                f"INSERT INTO acct SELECT * FROM {src} s WHERE s.k NOT IN (SELECT k FROM acct)",
            ],
            input_rows=len(keys),
            input_bytes=nbytes,
            view=(view, path),
            keys=keys,
        )

    def _key_range(self) -> tuple[int, int]:
        b = int(self.rng.integers(0, self.n_loads))
        lo = b * self.span + 2 * int(self.rng.integers(0, self.batch_rows - 60))
        return lo, lo + 100

    def delete_range(self) -> Statement:
        lo, hi = self._key_range()
        pred = f"k BETWEEN {lo} AND {hi}"
        self.live = {k: v for k, v in self.live.items() if not lo <= k <= hi}
        return Statement("delete_range", f"DELETE FROM acct WHERE {pred}",
                         [f"DELETE FROM acct WHERE {pred}"], predicate=pred)

    def delete_nonkey(self) -> Statement:
        q = int(self.rng.integers(1, 51))
        pred = f"qty = {q}"
        self.live = {k: v for k, v in self.live.items() if v[1] != q}
        return Statement("delete_nonkey", f"DELETE FROM acct WHERE {pred}",
                         [f"DELETE FROM acct WHERE {pred}"], predicate=pred)

    def update(self) -> Statement:
        lo, hi = self._key_range()
        pred = f"k BETWEEN {lo} AND {hi}"
        for k, v in self.live.items():
            if lo <= k <= hi:
                self.live[k] = (v[0], v[1], v[2] + 1)
        sql = f"UPDATE acct SET amt = amt + 1 WHERE {pred}"
        return Statement("update", sql, [sql], predicate=pred)

    def compact(self) -> Statement:
        return Statement("compact", "ALTER TABLE acct COMPACT", [])

    def clean(self) -> Statement:
        return Statement("clean", "CLEAN FILES FOR TABLE acct", [])

    def next(self) -> Statement:
        kind = INGEST_CYCLE[self.pos % len(INGEST_CYCLE)]
        self.pos += 1
        return getattr(self, kind)()


# -- llm_pipeline corpus -------------------------------------------------------

_COMMON = (
    "the a and of to in is it that for data spark table query scan join group order "
    "sort filter window value key row column batch stream merge hash vector part line "
    "customer fast slow big small agg der die und das ist le la les et est el los las es y"
).split()


def llm_corpus(seed: int, out_dir: str, base_docs: int, copies: int, perturb: float) -> str:
    """``copies`` word-perturbed copies of a seeded base corpus (copy 0 is
    the base; one base document in ten is copied verbatim, so exact and
    near duplicates both occur), plus ``copies`` noisy copies of a base
    embedding set. Writes documents.parquet and embeddings.parquet and
    returns the directory, laid out as catalog.load_table expects."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    vocab = _COMMON + [
        "".join(rng.choice(list("abcdefghijklmnopqrstuvwxyz"), int(rng.integers(3, 9))))
        for _ in range(400)
    ]
    weights = 1.0 / np.arange(1, len(vocab) + 1)
    weights /= weights.sum()
    base = [
        list(rng.choice(len(vocab), int(rng.integers(8, 90)), p=weights)) for _ in range(base_docs)
    ]
    exact = rng.random(base_docs) < 0.1
    texts = []
    for c in range(copies):
        for i, words in enumerate(base):
            w = list(words)
            if c > 0 and not exact[i]:
                hit = rng.random(len(w)) < perturb
                for j in np.flatnonzero(hit):
                    w[j] = int(rng.integers(0, len(vocab)))
            texts.append(" ".join(vocab[j] for j in w))
    n = len(texts)
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(["en", "de", "fr", "es", "zh"], n)),
            "source": pa.array([f"src{i % 7}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    dim = 64
    vbase = rng.standard_normal((base_docs, dim)).astype(np.float32)
    vecs = np.concatenate(
        [vbase + (0 if c == 0 else 0.05) * rng.standard_normal(vbase.shape).astype(np.float32)
         for c in range(copies)]
    ).astype(np.float32)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(len(vecs), dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(np.tile(rng.integers(0, 10, base_docs), copies).astype(np.int32)),
        }
    )
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
    return out_dir
