"""The four benchmark workloads: pipeline YAML, inputs and output oracle.

Each workload runs whole pipelines through the public entry points
(``parse_config`` + ``run_pipeline``).  ``iteration`` runs one unit of the
closed loop through the runner's ``run`` callable, which times only the
pipeline itself, and then checks the outputs against an independent
DuckDB (or pure-Python) recomputation; a mismatch raises ``Mismatch``.

Why these four (each stresses a different layer of the program):
  batch_etl      execution-bound star-schema ETL; bypasses the lakehouse,
                 streaming and Python-worker layers.
  lakehouse_dml  driver-side commit work of the native delta and iceberg
                 sinks (write, merge, update, delete, compact).
  stream_panes   fixed cost per micro-batch: executor-side pane state plus
                 one delta commit per batch.
  text_curation  eager jobs while building the plan and Python-worker
                 kernels (decontaminate, repetition, minhash dedup).
"""

from __future__ import annotations

import hashlib
import math
import os
import re
import shutil
from typing import Callable

import duckdb

from gen import (Inputs, STREAM_LATENESS_S, gen_batch_etl, gen_documents,
                 gen_lakehouse, gen_stream)
from layers import delta_live_files


class Mismatch(AssertionError):
    """The program's output differs from the oracle's."""


def _same_rows(got: list[tuple], want: list[tuple], what: str) -> None:
    """Order-insensitive row comparison; floats equal to 1e-9 relative."""

    def key(row):
        return tuple((1, v) if isinstance(v, float) else (0, str(v)) for v in row)

    if len(got) != len(want):
        raise Mismatch(f"{what}: {len(got)} rows, oracle has {len(want)}")
    for g, w in zip(sorted(got, key=key), sorted(want, key=key)):
        for a, b in zip(g, w):
            if isinstance(a, float) or isinstance(b, float):
                if not math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-6):
                    raise Mismatch(f"{what}: {g} != oracle {w}")
            elif str(a) != str(b):
                raise Mismatch(f"{what}: {g} != oracle {w}")


def _duck() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET TimeZone = 'UTC'")
    return con


def _pq(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet')"


# a run callable: run(yaml_text, finish=None) -> finish(spark) result
Run = Callable[..., object]


class Workload:
    name = ""
    runs_per_iteration = 1
    warm_up_iterations = 1

    def __init__(self, work: str, seed: int, smoke: bool) -> None:
        self.work = work
        self.seed = seed
        self.smoke = smoke
        self.inputs: Inputs | None = None

    def generate(self) -> Inputs:
        raise NotImplementedError

    def out_dir(self, k: int) -> str:
        return os.path.join(self.work, "out", str(k))

    def iteration(self, k: int, run: Run) -> None:
        raise NotImplementedError

    def lake_tables(self, k: int) -> list[tuple[str, str]]:
        """(format, table path) pairs written by iteration ``k``."""
        return []

    def cleanup(self, k: int) -> None:
        shutil.rmtree(self.out_dir(k), ignore_errors=True)


# --- batch_etl ---------------------------------------------------------------

ETL_YAML = """
sources:
  - {{name: lineitem, module: storage, parameters: {{format: parquet, input: "{lineitem}"}}}}
  - {{name: orders, module: storage, parameters: {{format: parquet, input: "{orders}"}}}}
  - {{name: customer, module: storage, parameters: {{format: parquet, input: "{customer}"}}}}
  - {{name: part, module: storage, parameters: {{format: parquet, input: "{part}"}}}}
transforms:
  - name: shipped
    module: filter
    inputs: [lineitem]
    parameters:
      filters:
        - {{key: l_shipdate, op: ">=", value: "1996-01-01"}}
        - {{key: l_discount, op: "<=", value: 0.08}}
  - name: priced
    module: select
    inputs: [shipped]
    parameters:
      select:
        - l_orderkey
        - l_partkey
        - l_quantity
        - l_shipdate
        - {{name: revenue, func: expression, expression: "l_extendedprice * (1 - l_discount)"}}
  - name: branded
    module: lookup
    inputs: [priced]
    sideInputs: [part]
    parameters: {{keyFields: [l_partkey], sideKeyFields: [p_partkey]}}
  - name: joined
    module: sql
    inputs: [branded, orders, customer]
    parameters:
      sql: >-
        SELECT c.c_mktsegment, b.p_brand, b.l_shipdate, b.revenue, b.l_quantity
        FROM branded b JOIN orders o ON b.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE o.o_orderstatus <> 'P'
  - name: monthly
    module: aggregation
    inputs: [joined]
    timestampAttribute: l_shipdate
    strategy: {{window: {{type: fixed, size: 30, unit: day}}}}
    parameters:
      groupFields: [c_mktsegment, p_brand]
      aggregations:
        - {{name: n, op: count}}
        - {{name: revenue, op: sum, field: revenue}}
        - {{name: max_qty, op: max, field: l_quantity}}
  - name: top
    module: limit
    inputs: [monthly]
    parameters: {{count: 20, groupFields: [c_mktsegment], orderFields: [revenue], descending: true}}
sinks:
  - {{name: out, module: storage, inputs: [top], parameters: {{format: parquet, output: "{out}"}}}}
"""

ETL_ORACLE = """
WITH j AS (
  SELECT c.c_mktsegment, p.p_brand, l.l_shipdate, l.l_quantity,
         l.l_extendedprice * (1 - l.l_discount) AS revenue
  FROM {lineitem} l JOIN {part} p ON l.l_partkey = p.p_partkey
  JOIN {orders} o ON l.l_orderkey = o.o_orderkey
  JOIN {customer} c ON o.o_custkey = c.c_custkey
  WHERE l.l_shipdate >= TIMESTAMP '1996-01-01' AND l.l_discount <= 0.08
    AND o.o_orderstatus <> 'P'
), w AS (
  SELECT c_mktsegment, p_brand,
         make_timestamp((epoch_us(l_shipdate) // 2592000000000) * 2592000000000) AS ws,
         count(*) AS n, sum(revenue) AS revenue, max(l_quantity) AS max_qty
  FROM j GROUP BY ALL
)
SELECT c_mktsegment, p_brand, ws, n, revenue, max_qty FROM (
  SELECT *, row_number() OVER (PARTITION BY c_mktsegment ORDER BY revenue DESC) AS rn
  FROM w) WHERE rn <= 20
"""


class BatchEtl(Workload):
    name = "batch_etl"

    def generate(self) -> Inputs:
        self.inputs = gen_batch_etl(os.path.join(self.work, "in"), self.seed,
                                    0.001 if self.smoke else 0.25)
        con = _duck()
        self._want = con.execute(ETL_ORACLE.format(
            **{t: _pq(p) for t, p in self.inputs.paths.items()})).fetchall()
        con.close()
        return self.inputs

    def iteration(self, k: int, run: Run) -> None:
        out = os.path.join(self.out_dir(k), "etl")
        run(ETL_YAML.format(out=out, **self.inputs.paths))
        con = _duck()
        got = con.execute(
            "SELECT c_mktsegment, p_brand, \"window\".start, n, revenue, max_qty "
            f"FROM {_pq(out)}").fetchall()
        con.close()
        _same_rows(got, self._want, "batch_etl top windows")


# --- lakehouse_dml -----------------------------------------------------------

LAKE_YAML = """
sources:
  - {{name: orders, module: storage, parameters: {{format: parquet, input: "{orders}"}}}}
  - {{name: cdc, module: storage, parameters: {{format: parquet, input: "{cdc}"}}}}
  - name: table
    module: {fmt}
    waits: [compact]
    parameters: {{path: "{table}"}}
transforms:
  - name: recent
    module: filter
    inputs: [table]
    parameters:
      filters: [{{key: o_orderdate, op: ">=", value: "1998-01-01"}}]
  - name: summary
    module: aggregation
    inputs: [recent]
    parameters:
      groupFields: [o_orderstatus, o_orderpriority]
      aggregations:
        - {{name: n, op: count}}
        - {{name: total, op: sum, field: o_totalprice}}
sinks:
  - {{name: write, module: {fmt}, inputs: [orders], parameters: {{path: "{table}", mode: overwrite}}}}
  - name: merge
    module: {fmt}
    inputs: [cdc]
    waits: [write]
    parameters: {{path: "{table}", mode: merge, primaryKeys: [o_orderkey]}}
  - name: update
    module: {fmt}
    inputs: [orders]
    waits: [merge]
    parameters:
      path: "{table}"
      mode: update
      where: [{{key: o_orderpriority, op: "=", value: "1-URGENT"}}]
      set: {{o_totalprice: "o_totalprice * 1.1", o_orderstatus: "'U'"}}
  - name: delete
    module: {fmt}
    inputs: [orders]
    waits: [update]
    parameters:
      path: "{table}"
      mode: delete
      where:
        - {{key: o_orderstatus, op: "=", value: "F"}}
        - {{key: o_totalprice, op: ">", value: 400000.0}}
  - {{name: compact, module: {fmt}, inputs: [orders], waits: [delete], parameters: {{path: "{table}", mode: compact}}}}
  - {{name: result, module: memory, inputs: [summary], parameters: {{table: "{view}"}}}}
"""

LAKE_ORACLE = """
WITH base AS (
  SELECT * FROM {orders} WHERE o_orderkey NOT IN (SELECT o_orderkey FROM {cdc})
  UNION ALL SELECT * FROM {cdc}
), upd AS (
  SELECT o_orderkey, o_orderdate, o_orderpriority,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
         CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice * 1.1 ELSE o_totalprice END AS o_totalprice
  FROM base
)
SELECT o_orderstatus, o_orderpriority, count(*) AS n, sum(o_totalprice) AS total
FROM upd
WHERE NOT (o_orderstatus = 'F' AND o_totalprice > 400000.0)
  AND o_orderdate >= TIMESTAMP '1998-01-01'
GROUP BY ALL
"""


class LakehouseDml(Workload):
    """One YAML shape, run once per table format in every iteration."""

    name = "lakehouse_dml"
    runs_per_iteration = 2
    # after one warm-up the next three iterations still fell by about 1 s
    # and 0.5 s (8.9, 8.0, 7.7 s on a 4-vCPU Xeon VM), so a run's median
    # depended on how many iterations fitted in it
    warm_up_iterations = 2

    def generate(self) -> Inputs:
        self.inputs = gen_lakehouse(os.path.join(self.work, "in"), self.seed,
                                    1_500 if self.smoke else 50_000)
        con = _duck()
        self._want = con.execute(LAKE_ORACLE.format(
            **{t: _pq(p) for t, p in self.inputs.paths.items()})).fetchall()
        con.close()
        return self.inputs

    def lake_tables(self, k: int) -> list[tuple[str, str]]:
        return [(fmt, os.path.join(self.out_dir(k), fmt)) for fmt in ("delta", "iceberg")]

    def iteration(self, k: int, run: Run) -> None:
        results = {}
        for fmt, table in self.lake_tables(k):
            view = f"lake_{fmt}_{k}"
            text = LAKE_YAML.format(fmt=fmt, table=table, view=view, **self.inputs.paths)
            results[fmt] = run(
                text,
                finish=lambda spark, v=view: [tuple(r) for r in spark.table(v).collect()])
        _same_rows(results["delta"], results["iceberg"], "lakehouse delta vs iceberg")
        _same_rows(results["delta"], self._want, "lakehouse delta vs oracle")


# --- stream_panes ------------------------------------------------------------

STREAM_YAML = """
sources:
  - name: events
    module: storage
    parameters: {{format: parquet, input: "{events}", mode: streaming, maxFilesPerTrigger: 1}}
transforms:
  - name: panes
    module: aggregation
    inputs: [events]
    timestampAttribute: ts
    strategy:
      window: {{type: fixed, size: 1, unit: hour}}
      allowedLateness: {lateness}
      trigger:
        type: afterWatermark
        earlyFiringTrigger: {{type: afterProcessingTime, pastFirstElementDelay: 1}}
      paneStateBackend: executor
      accumulationMode: accumulating
      outputPaneInfo: true
    parameters:
      groupFields: [event_type]
      aggregations:
        - {{name: n, op: count}}
        - {{name: total, op: sum, field: value}}
  - name: big
    module: filter
    inputs: [events]
    parameters:
      filters: [{{key: value, op: ">=", value: 100.0}}]
sinks:
  - name: pane_out
    module: storage
    inputs: [panes]
    parameters: {{format: parquet, output: "{out}/panes", checkpointLocation: "{out}/panes_ckpt", availableNow: true}}
  - name: table_out
    module: delta
    inputs: [big]
    waits: [pane_out]
    parameters: {{path: "{out}/delta", mode: append, checkpointLocation: "{out}/delta_ckpt"}}
"""

# the sentinel's window never closes, so whether it shows an early pane
# depends on processing time: both sides leave it out
PANE_ORACLE = """
SELECT time_bucket(INTERVAL 1 HOUR, ts) AS ws, event_type, count(*) AS n, sum(value) AS total
FROM {events} WHERE event_type <> 'sentinel' GROUP BY ALL
"""
ROWS_DIGEST = "SELECT count(*), sum(hash(event_id, ts, user_id, event_type, value)) FROM {src}"


class StreamPanes(Workload):
    name = "stream_panes"

    def generate(self) -> Inputs:
        root = os.path.join(self.work, "in")
        if self.smoke:
            self.inputs = gen_stream(root, self.seed, 1_000, 1)
        else:
            self.inputs = gen_stream(root, self.seed, 30_000, 2)
        con = _duck()
        src = _pq(self.inputs.paths["events"])
        self._want_panes = con.execute(PANE_ORACLE.format(events=src)).fetchall()
        self._want_rows = con.execute(
            ROWS_DIGEST.format(src=f"(SELECT * FROM {src} WHERE value >= 100.0)")).fetchall()
        con.close()
        return self.inputs

    def lake_tables(self, k: int) -> list[tuple[str, str]]:
        return [("delta", os.path.join(self.out_dir(k), "delta"))]

    def iteration(self, k: int, run: Run) -> None:
        out = self.out_dir(k)
        run(STREAM_YAML.format(out=out, lateness=STREAM_LATENESS_S, **self.inputs.paths))
        con = _duck()
        got = con.execute(f"""
            SELECT "window".start, event_type, n, total FROM (
              SELECT *, row_number() OVER (PARTITION BY "window".start, event_type
                                           ORDER BY __pane__.index DESC) AS rn
              FROM {_pq(out + '/panes')}) WHERE rn = 1 AND event_type <> 'sentinel'
            """).fetchall()
        _same_rows(got, self._want_panes, "stream_panes last pane per window")
        live = delta_live_files(os.path.join(out, "delta"))
        files = ", ".join(f"'{p}'" for p in live)
        rows = con.execute(ROWS_DIGEST.format(src=f"read_parquet([{files}])")).fetchall()
        con.close()
        if rows != self._want_rows:
            raise Mismatch(f"stream_panes delta table {rows} != filtered source {self._want_rows}")


# --- text_curation -----------------------------------------------------------

CURATION_EXAMPLE = os.path.join("examples", "training-data-curation.yaml")


# minhash LSH only proposes pairs (64 hashes in 16 bands): at the dedup
# threshold 0.5 a pair becomes a candidate with probability ~0.64, at
# Jaccard 0.9 with 1 - 4e-8, so only pairs that similar must be gone
NEAR_CERTAIN_JACCARD = 0.9


def _tokens(text: str) -> list[str]:
    return " ".join(text.lower().split()).split(" ")


def _grams(toks: list[str], n: int) -> set[tuple[str, ...]]:
    return {tuple(toks[i:i + n]) for i in range(len(toks) - n + 1)}


class TextCuration(Workload):
    """The shipped curation example with only its paths and slice rewritten.

    No SQL oracle exists for the minhash chain, so every run checks the
    properties each stage guarantees: no output document shares an 8-gram
    with the eval slice; output rows are unmodified input documents; no
    two output documents share 90% of their word 3-grams; token counts
    and shuffle keys equal their definitions; and
    the digest of (doc_id, md5 of the normalised text) equals the first
    run's in the process.
    """

    name = "text_curation"

    def generate(self) -> Inputs:
        self.inputs = gen_documents(os.path.join(self.work, "in"), self.seed,
                                    200 if self.smoke else 1_500)
        with open(CURATION_EXAMPLE) as fh:
            text = fh.read()
        mod, res = self.inputs.extra["slice_mod"], self.inputs.extra["slice_residue"]
        # only the source input, the sink output and the eval slice change
        text = re.sub(r"(format: parquet, input: )[^,}\s]+", r"\1{documents}", text)
        text = re.sub(r"(format: parquet, output: )[^,}\s]+", r"\1{out}", text)
        text = text.replace("doc_id % 25 = 0", f"doc_id % {mod} = {res}")
        if text.count("{documents}") != 1 or text.count("{out}") != 1 or f"% {mod} = {res}" not in text:
            raise RuntimeError("examples/training-data-curation.yaml changed shape")
        self._yaml = text
        con = _duck()
        docs = con.execute(
            f"SELECT doc_id, text FROM {_pq(self.inputs.paths['documents'])}").fetchall()
        con.close()
        self._docs = {d: t for d, t in docs}
        bench_grams: set = set()
        for d, t in docs:
            if d % mod == res:
                bench_grams |= _grams(_tokens(t), 8)
        self._dirty = {d for d, t in docs if _grams(_tokens(t), 8) & bench_grams}
        self._digest = None
        return self.inputs

    def iteration(self, k: int, run: Run) -> None:
        out = os.path.join(self.out_dir(k), "curated")
        text = self._yaml.replace("{documents}", self.inputs.paths["documents"])
        run(text.replace("{out}", out))
        con = _duck()
        rows = con.execute(
            f"SELECT doc_id, text, n_tokens, shuffle_key FROM {_pq(out)}").fetchall()
        con.close()
        self.check(rows)

    def check(self, rows: list[tuple]) -> None:
        ids = [r[0] for r in rows]
        if not rows or len(set(ids)) != len(ids):
            raise Mismatch(f"text_curation: {len(rows)} rows, {len(set(ids))} distinct ids")
        if self._dirty & set(ids):
            raise Mismatch(f"text_curation: contaminated docs kept: {sorted(self._dirty & set(ids))[:5]}")
        shingles = {}
        digest = hashlib.sha256()
        for doc_id, text, n_tok, skey in sorted(rows):
            if self._docs.get(doc_id) != text:
                raise Mismatch(f"text_curation: doc {doc_id} is not an input document")
            toks = _tokens(text)
            if n_tok != len(toks):
                raise Mismatch(f"text_curation: doc {doc_id} n_tokens {n_tok} != {len(toks)}")
            if skey != hashlib.md5(f"epoch0{doc_id}".encode()).hexdigest():
                raise Mismatch(f"text_curation: doc {doc_id} shuffle_key {skey}")
            digest.update(f"{doc_id}:{hashlib.md5(' '.join(toks).encode()).hexdigest()};".encode())
            shingles[doc_id] = _grams(toks, 3)
        owners: dict = {}
        for d, grams in shingles.items():
            for g in grams:
                owners.setdefault(g, []).append(d)
        shared: dict = {}
        for ds in owners.values():
            for i, a in enumerate(ds):
                for b in ds[i + 1:]:
                    shared[(a, b)] = shared.get((a, b), 0) + 1
        for (a, b), inter in shared.items():
            union = len(shingles[a]) + len(shingles[b]) - inter
            if inter / union >= NEAR_CERTAIN_JACCARD:
                raise Mismatch(f"text_curation: near-duplicates {a}, {b} both kept")
        if self._digest is None:
            self._digest = digest.hexdigest()
        elif digest.hexdigest() != self._digest:
            raise Mismatch("text_curation: output digest differs from this process's first run")


WORKLOADS = {w.name: w for w in (BatchEtl, LakehouseDml, StreamPanes, TextCuration)}
