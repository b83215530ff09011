"""Seeded input generator for the benchmark workloads.

Every table is synthesised from ``numpy.random.default_rng(seed)``: the
same seed gives byte-identical inputs, and the program under test only
ever sees the parquet files written here.  Shapes follow the TPC-H-like
star schema and the ``events``/``documents`` tables that the repository's
test data uses, so the pipelines below are the ones users write against
those tables.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
_LANGS = np.array(["en", "fr", "de", "es"])

# stream layout: one-hour event-time windows, two hours of allowed
# lateness; a share of each file's last hour of rows moves to the next
# file, so moved rows are at most one hour older than the newest row
# already staged and none of them ever falls behind the watermark
STREAM_START = dt.datetime(2024, 1, 1)
STREAM_DAYS = 30
STREAM_LATENESS_S = 7200
STREAM_LATE_SHARE = 0.3
SENTINEL_TS = dt.datetime(2100, 1, 1)


@dataclass
class Inputs:
    """Where a workload's generated files live, and how much they hold."""

    root: str
    paths: dict[str, str] = field(default_factory=dict)
    rows: int = 0
    bytes: int = 0
    extra: dict = field(default_factory=dict)


def _write(tbl: pa.Table, path: str, inputs: Inputs) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(tbl, path)
    inputs.rows += tbl.num_rows
    inputs.bytes += os.path.getsize(path)


def _dict_col(rng: np.random.Generator, values: np.ndarray, n: int) -> pa.Array:
    idx = rng.integers(0, len(values), n, dtype=np.int32)
    return pa.DictionaryArray.from_arrays(pa.array(idx), pa.array(values)).cast(pa.string())


def _orders(rng: np.random.Generator, n_orders: int, n_cust: int) -> pa.Table:
    days = rng.integers(0, 2405, n_orders)  # 1995-01-01 .. 2001-08-01
    return pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders, dtype=np.int64)),
        "o_orderstatus": _dict_col(rng, np.array(["F", "O", "P"]), n_orders),
        "o_totalprice": pa.array(np.round(rng.uniform(900.0, 500_000.0, n_orders), 2)),
        "o_orderdate": pa.array(_EPOCH_1995 + days.astype("timedelta64[D]")),
        "o_orderpriority": _dict_col(rng, _PRIORITIES, n_orders),
    })


def gen_batch_etl(root: str, seed: int, scale: float) -> Inputs:
    """Star schema at ``scale`` (1.0 = 6 M lineitem rows, 1.5 M orders)."""
    rng = np.random.default_rng(seed)
    inp = Inputs(root)
    n_orders = max(100, int(1_500_000 * scale))
    n_cust = max(10, int(150_000 * scale))
    n_part = max(20, int(200_000 * scale))
    orders = _orders(rng, n_orders, n_cust)
    inp.paths["orders"] = os.path.join(root, "orders")
    _write(orders, os.path.join(inp.paths["orders"], "part-0.parquet"), inp)
    inp.paths["customer"] = os.path.join(root, "customer")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": _dict_col(rng, _SEGMENTS, n_cust),
    }), os.path.join(inp.paths["customer"], "part-0.parquet"), inp)
    inp.paths["part"] = os.path.join(root, "part")
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_brand": pa.array(
            np.char.add("Brand#", rng.integers(11, 56, n_part).astype(str))),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(rng.uniform(900.0, 2100.0, n_part), 2)),
    }), os.path.join(inp.paths["part"], "part-0.parquet"), inp)

    # lineitem: 1-7 lines per order, written in order-key chunks so the
    # scan has several files to split across cores
    lines = rng.integers(1, 8, n_orders)
    order_days = (orders.column("o_orderdate").to_numpy() - _EPOCH_1995).astype(
        "timedelta64[D]").astype(np.int64)
    inp.paths["lineitem"] = os.path.join(root, "lineitem")
    n_files = 8
    bounds = np.linspace(0, n_orders, n_files + 1).astype(np.int64)
    for f in range(n_files):
        lo, hi = bounds[f], bounds[f + 1]
        ok = np.repeat(np.arange(lo, hi, dtype=np.int64), lines[lo:hi])
        n = len(ok)
        lineno = (np.arange(n) - np.repeat(np.cumsum(lines[lo:hi]) - lines[lo:hi], lines[lo:hi]) + 1)
        qty = rng.integers(1, 51, n).astype(np.float64)
        ship = order_days[ok] + rng.integers(1, 122, n)
        _write(pa.table({
            "l_orderkey": pa.array(ok),
            "l_partkey": pa.array(rng.integers(0, n_part, n, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, max(1, n_part // 20), n, dtype=np.int64)),
            "l_linenumber": pa.array(lineno.astype(np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": _dict_col(rng, np.array(["A", "N", "R"]), n),
            "l_linestatus": _dict_col(rng, np.array(["F", "O"]), n),
            "l_shipdate": pa.array(_EPOCH_1995 + ship.astype("timedelta64[D]")),
        }), os.path.join(inp.paths["lineitem"], f"part-{f}.parquet"), inp)
    return inp


def gen_lakehouse(root: str, seed: int, n_orders: int) -> Inputs:
    """Orders table plus one keyed CDC batch: ~2% updates, ~1% inserts."""
    rng = np.random.default_rng(seed)
    inp = Inputs(root)
    orders = _orders(rng, n_orders, max(10, n_orders // 10))
    inp.paths["orders"] = os.path.join(root, "orders")
    _write(orders, os.path.join(inp.paths["orders"], "part-0.parquet"), inp)
    n_upd = max(1, n_orders // 50)
    n_ins = max(1, n_orders // 100)
    upd_keys = np.sort(rng.choice(n_orders, n_upd, replace=False)).astype(np.int64)
    upd = orders.take(pa.array(upd_keys))
    upd = upd.set_column(
        upd.schema.get_field_index("o_totalprice"), "o_totalprice",
        pa.array(np.round(upd.column("o_totalprice").to_numpy() * 1.05 + 1.0, 2)))
    ins = _orders(rng, n_ins, max(10, n_orders // 10))
    ins = ins.set_column(0, "o_orderkey", pa.array(
        np.arange(n_orders, n_orders + n_ins, dtype=np.int64)))
    cdc = pa.concat_tables([upd, ins])
    inp.paths["cdc"] = os.path.join(root, "cdc")
    _write(cdc, os.path.join(inp.paths["cdc"], "part-0.parquet"), inp)
    return inp


def gen_stream(root: str, seed: int, n_events: int, n_files: int) -> Inputs:
    """Time-sorted events split into ``n_files`` files with bounded disorder.

    A seeded share of each file's last hour of rows is moved into the next
    file, so those rows arrive one micro-batch late but always inside the
    allowed lateness.  A final one-row sentinel file far in the future
    advances the watermark past every real window.
    """
    rng = np.random.default_rng(seed)
    inp = Inputs(root)
    span_us = STREAM_DAYS * 86_400 * 1_000_000
    offs = np.sort(rng.integers(0, span_us, n_events))
    ts = np.datetime64(STREAM_START, "us") + offs.astype("timedelta64[us]")
    tbl = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, 2000, n_events, dtype=np.int64)),
        "event_type": _dict_col(rng, _EVENT_TYPES, n_events),
        "value": pa.array(np.round(rng.uniform(0.0, 200.0, n_events), 2)),
    })
    bounds = np.linspace(0, n_events, n_files + 1).astype(np.int64)
    file_of = np.zeros(n_events, dtype=np.int64)
    for f in range(n_files):
        file_of[bounds[f]:bounds[f + 1]] = f
    hour_us = 3_600 * 1_000_000
    for f in range(n_files - 1):
        lo, hi = bounds[f], bounds[f + 1]
        tail = np.nonzero(offs[lo:hi] >= offs[hi - 1] - hour_us)[0] + lo
        pick = tail[rng.random(len(tail)) < STREAM_LATE_SHARE]
        file_of[pick] = f + 1
    inp.paths["events"] = os.path.join(root, "events")
    base_mtime = 1_700_000_000
    for f in range(n_files + 1):
        if f < n_files:
            part = tbl.filter(pa.array(file_of == f))
        else:
            part = pa.table({
                "event_id": pa.array([n_events], pa.int64()),
                "ts": pa.array([SENTINEL_TS], pa.timestamp("us")),
                "user_id": pa.array([0], pa.int64()),
                "event_type": pa.array(["sentinel"]),
                "value": pa.array([0.0]),
            })
        path = os.path.join(inp.paths["events"], f"b{f:04d}.parquet")
        _write(part, path, inp)
        # the file source orders files by modification time
        os.utime(path, (base_mtime + f * 10, base_mtime + f * 10))
    return inp


def _vocab(rng: np.random.Generator, size: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 9, size)
    words = {"".join(rng.choice(letters, n)) for n in lens}
    return np.array(sorted(words))


def gen_documents(root: str, seed: int, n_docs: int) -> Inputs:
    """Corpus with planted near-duplicates and a seeded eval slice modulus.

    Word frequencies are Zipf-like over a synthetic vocabulary.  About a
    tenth of the documents are near-copies of an earlier document with a
    few words replaced, which the minhash dedup stage should cluster;
    the decontamination slice is ``doc_id % modulus == residue``.
    """
    rng = np.random.default_rng(seed)
    inp = Inputs(root)
    vocab = _vocab(rng, 3000)
    weights = 1.0 / np.arange(1, len(vocab) + 1)
    weights /= weights.sum()
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(words), max(1, len(words) // 25)):
                words[j] = vocab[int(rng.integers(0, len(vocab)))]
        else:
            words = list(rng.choice(vocab, int(rng.integers(25, 90)), p=weights))
        texts.append(" ".join(words))
    ids = np.arange(n_docs, dtype=np.int64)
    inp.paths["documents"] = os.path.join(root, "documents")
    _write(pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": _dict_col(rng, _LANGS, n_docs),
        "source": pa.array([f"src{i % 7}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }), os.path.join(inp.paths["documents"], "part-0.parquet"), inp)
    inp.extra.update(slice_mod=25, slice_residue=int(rng.integers(0, 25)))
    return inp
