"""``search``: interactive table search over a parsed, cached cell index.

Set-up parses a seeded corpus plus the fixtures into persisted
``tables_output``/``cells_output`` frames and caches a seeded embedding
table.  The timed loop is one analyst who waits for each reply: a seeded mix
of ``operators.search`` Q2-Q7 calls and ``similarity.ann_topk``, each one
``collect()``.  The parse kernel does no work while the loop is timed.
"""

from __future__ import annotations

import math
import random
import re
import time

import duckdb
import pyarrow.parquet as pq
from pyspark import StorageLevel
from pyspark.sql import functions as F

from document_parser_spark.operators import extract as ops
from document_parser_spark.operators import search as q
from document_parser_spark.operators import similarity
from document_parser_spark.sources import data

from . import inputs, planmetrics
from .harness import OpResult, median, quantile

N_DOCS = 150
N_VECS = 1000
ANN_K = 10
ANYWHERE_TOPK = 20
PLAN_ROUNDS = 200
KINDS = ("key_value", "by_column", "row_by_value", "anywhere", "list_tables", "by_title", "ann")
_TERM = re.compile(r"[a-z0-9]{3,}")
#: One query of each kind, the same for every seed, run as the warm-up.
WARMUP = (
    {"kind": "key_value", "query": "name"},
    {"kind": "by_column", "column": "Col1 Name", "value": "12"},
    {"kind": "row_by_value", "column": "Col0 Name", "value": "34"},
    {"kind": "anywhere", "query": "56"},
    {"kind": "list_tables"},
    {"kind": "by_title", "query": "block"},
    {"kind": "ann", "vec_id": 0},
)


class Search:
    """One operation is a round: one query of each kind, in a seeded order,
    each sent when the previous reply is in.  Every run then times the same
    mix whatever its seed, and the round's latency averages over kinds whose
    latencies differ tenfold (a per-query median would sit in the gap
    between two kinds)."""

    name = "search"
    items_per_op = len(KINDS)
    #: Set-ups include the index build (~4 s each).
    setups = 3
    #: Package modules whose public functions the traced loop wraps in spans.
    layers = ("operators.search", "functions.columns", "operators.similarity")

    def __init__(self, bench):
        self.bench = bench
        self.docs = inputs.mixed_corpus(bench.seed, N_DOCS)
        self.vectors = inputs.embeddings(bench.seed, N_VECS)
        self.plan: list[dict] = []
        self.results: list[tuple[dict, int, list]] = []
        self.query_stats: list[dict] = []
        self.query_ms: list[tuple[str, float]] = []

    # -- set-up -------------------------------------------------------------
    def setup(self, k: int) -> None:
        b, tr = self.bench, self.bench.tracer
        spark = b.spark
        with tr.span("sources.data", "stage"):
            path = b.path(f"input-{k}.parquet")
            inputs.write_flat(self.docs, path)
            vec_path = b.path(f"embeddings-{k}.parquet")
            pq.write_table(self.vectors, vec_path)
            docs = data.lift_flat_to_input(spark.read.parquet(path))
        with tr.span("bench", "index_build"):
            parsed = ops.parse_documents(ops.assemble_document_text(docs))
            self.tables = ops.tables_output(parsed).persist(StorageLevel.MEMORY_AND_DISK)
            self.cells = ops.cells_output(self.tables).persist(StorageLevel.MEMORY_AND_DISK)
            self.emb = spark.read.parquet(vec_path).persist(StorageLevel.MEMORY_AND_DISK)
            self.n_tables = self.tables.count()
            self.n_cells = self.cells.count()
            self.emb.count()

    def warmup(self) -> None:
        """Two rounds: query latencies still fall over the first rounds
        after a cold start."""
        for _ in range(2):
            for spec in WARMUP:
                self._run(spec)

    def prepare(self) -> None:
        """Seeded query plan drawn from the built index, so every query
        matches something.  Key-value queries target the vertical tables,
        which come from the fixtures."""
        self.db = duckdb.connect()
        self.db.register("cells", self.cells.toArrow())
        self.db.register("tables", self.tables.select(
            "doc_id", "table_index", "title", "table_type").toArrow())
        rng = random.Random(self.bench.seed)
        keys = [r[0] for r in self.db.execute(
            "SELECT lower(text) FROM cells WHERE table_type = 'vertical' AND col = 0 "
            "AND text IS NOT NULL ORDER BY ALL").fetchall() if _TERM.search(r[0])]
        cols = self.db.execute(
            "SELECT header, lower(text) FROM cells WHERE table_type = 'horizontal' "
            "AND header IS NOT NULL AND header <> '' AND text IS NOT NULL AND text <> '' "
            "ORDER BY ALL").fetchall()
        # four-digit cell values match a similar, small number of cells
        cols = [(h, t) for h, t in cols if h.isascii() and len(t) == 4 and t.isdigit()]
        titles = [r[0] for r in self.db.execute(
            "SELECT DISTINCT lower(title) FROM tables WHERE title IS NOT NULL ORDER BY 1").fetchall()]
        title_terms = sorted({w for t in titles for w in _TERM.findall(t)})
        cell_terms = sorted({t for _, t in cols})
        for _ in range(PLAN_ROUNDS):
            for kind in rng.sample(KINDS, len(KINDS)):
                self.plan.append(self._draw(rng, kind, keys, cols, title_terms, cell_terms))

    @staticmethod
    def _draw(rng, kind, keys, cols, title_terms, cell_terms) -> dict:
        spec = {"kind": kind}
        if kind == "key_value":
            spec["query"] = _TERM.findall(rng.choice(keys))[0]
        elif kind in ("by_column", "row_by_value"):
            header, text = rng.choice(cols)
            spec["column"], spec["value"] = header, text
        elif kind == "anywhere":
            spec["query"] = rng.choice(cell_terms)
        elif kind == "by_title":
            spec["query"] = rng.choice(title_terms)
        elif kind == "ann":
            spec["vec_id"] = rng.randrange(N_VECS)
        return spec

    def _frame(self, spec: dict):
        kind = spec["kind"]
        if kind == "key_value":
            return q.search_by_key_value(self.cells, spec["query"])
        if kind == "by_column":
            return q.search_by_column(self.cells, spec["column"], spec["value"])
        if kind == "row_by_value":
            return q.get_row_by_column_value(self.cells, spec["column"], spec["value"])
        if kind == "anywhere":
            return q.search_anywhere(self.cells, spec["query"], max_results=ANYWHERE_TOPK)
        if kind == "list_tables":
            return q.list_all_tables(self.tables)
        if kind == "by_title":
            return q.get_table_by_title(self.tables, spec["query"])
        queries = self.emb.filter(F.col("vec_id") == spec["vec_id"])
        return similarity.ann_topk(self.emb, queries, k=ANN_K).select("vec_id")

    def _run(self, spec: dict) -> list:
        return self._frame(spec).collect()

    # -- measuring loop -----------------------------------------------------
    def op(self, i: int) -> OpResult:
        tr = self.bench.tracer
        for j in range(len(KINDS)):
            n = i * len(KINDS) + j
            spec = self.plan[n % len(self.plan)]
            t0 = time.perf_counter()
            with tr.span("bench", "query", kind=spec["kind"]):
                rows = self._run_traced(spec, n) if tr.enabled else self._run(spec)
            self.query_ms.append((spec["kind"], (time.perf_counter() - t0) * 1000.0))
            kept = [r["vec_id"] for r in rows] if spec["kind"] == "ann" else []
            self.results.append((spec, len(rows), kept))
        return OpResult(items=len(KINDS))

    def _run_traced(self, spec: dict, i: int) -> list:
        """Build the frame and its ``executedPlan()`` first (``plan_ms``; ANN
        runs its corpus-size and dimension jobs here), then execute the same
        query execution (``exec_ms``); count the jobs the query ran and the
        cached cells it scanned."""
        sc = self.bench.spark.sparkContext
        rec = self.bench.recorder
        since = rec.next_accumulator_id()
        group = f"q{i}"
        sc.setJobGroup(group, spec["kind"])
        t0 = time.perf_counter()
        df = self._frame(spec)
        df._jdf.queryExecution().executedPlan()
        t1 = time.perf_counter()
        rows = df.collect()
        t2 = time.perf_counter()
        sc.setJobGroup("", "")
        metrics = rec.metrics(since)
        self.query_stats.append({
            "kind": spec["kind"],
            "plan_ms": (t1 - t0) * 1000.0,
            "exec_ms": (t2 - t1) * 1000.0,
            "jobs": len(sc.statusTracker().getJobIdsForGroup(group)),
            "scanned": planmetrics.total(
                [m for m in metrics if not m.in_cache], "numOutputRows", "InMemoryTableScanExec"),
            "rows": len(rows),
        })
        return rows

    def after_op(self, i: int) -> None:
        pass

    def failed_items(self) -> int:
        return 0

    # -- output checks --------------------------------------------------------
    def verify(self) -> tuple[list[str], dict]:
        problems = []
        for spec, n_rows, _ in self.results:
            want = self._expected_rows(spec)
            if n_rows != want:
                problems.append(f"{spec}: {n_rows} rows, recomputed {want}")
        recall = self.ann_recall()
        if recall < 0.5:
            problems.append(f"ann recall@{ANN_K} {recall:.3f} below 0.5")
        timed = [ms for _, ms in self.query_ms]
        info = {"queries": len(self.results), "cells": self.n_cells, "tables": self.n_tables,
                "ann_recall_at_10": recall, "query_p50_ms": median(timed),
                "query_p90_ms": quantile(timed, 0.9),
                "query_ms": [(k, round(ms, 1)) for k, ms in self.query_ms]}
        return problems, info

    def _expected_rows(self, spec: dict) -> int:
        """Row count recomputed with DuckDB over the same collected cells."""
        kind, db = spec["kind"], self.db
        if kind == "key_value":
            sql = ("SELECT count(*) FROM cells k JOIN cells v USING (doc_id, table_index, row) "
                   "WHERE k.table_type = 'vertical' AND k.col = 0 AND contains(lower(k.text), ?) "
                   "AND v.col > 0")
            return db.execute(sql, [spec["query"]]).fetchone()[0]
        if kind in ("by_column", "row_by_value"):
            what = "count(*)" if kind == "by_column" else "count(DISTINCT (doc_id, table_index, row))"
            sql = (f"SELECT {what} FROM cells WHERE table_type = 'horizontal' AND "
                   "(header = ? OR list_contains(header_levels, ?) OR "
                   "len(list_filter(header_levels, x -> contains(lower(x), lower(?)))) > 0) "
                   "AND contains(lower(text), ?)")
            col = spec["column"]
            return db.execute(sql, [col, col, col, spec["value"]]).fetchone()[0]
        if kind == "anywhere":
            n = db.execute("SELECT count(*) FROM cells WHERE contains(lower(text), ?)",
                           [spec["query"]]).fetchone()[0]
            return min(n, ANYWHERE_TOPK)
        if kind == "list_tables":
            return self.n_tables
        if kind == "by_title":
            n = db.execute("SELECT count(*) FROM tables WHERE contains(lower(coalesce(title, '')), ?)",
                           [spec["query"]]).fetchone()[0]
            return min(n, 1)
        return min(ANN_K, N_VECS - 1)

    def ann_recall(self) -> float:
        """recall@10 of the ANN answers against ``brute_force_topk``."""
        asked = {spec["vec_id"]: kept for spec, _, kept in self.results if spec["kind"] == "ann"}
        if not asked:
            return 0.0
        queries = self.emb.filter(F.col("vec_id").isin(list(asked)))
        exact: dict[int, set] = {}
        for r in similarity.brute_force_topk(self.emb, queries, k=ANN_K).collect():
            exact.setdefault(r["query_id"], set()).add(r["vec_id"])
        hits = sum(len(exact.get(v, set()) & set(kept)) for v, kept in asked.items())
        return hits / (ANN_K * len(asked))

    # -- traced-run probes ----------------------------------------------------
    def layer_metrics(self) -> dict[str, float]:
        stats = self.query_stats
        by_kind = {k: [s["plan_ms"] + s["exec_ms"] for s in stats if s["kind"] == k] for k in KINDS}
        cell_kinds = ("key_value", "by_column", "row_by_value", "anywhere")
        scanned = sum(s["scanned"] for s in stats if s["kind"] in cell_kinds)
        returned = sum(s["rows"] for s in stats if s["kind"] in cell_kinds)
        n = self.emb.count()
        m = max(ANN_K, math.ceil(n * similarity.RERANK_FRAC_PCT / 100))
        out = {f"search.{k}_p50_ms": median(by_kind[k]) for k in KINDS if k != "ann"}
        out.update({
            "search.plan_ms": median([s["plan_ms"] for s in stats]),
            "search.exec_ms": median([s["exec_ms"] for s in stats]),
            "search.jobs_per_query": sum(s["jobs"] for s in stats) / max(len(stats), 1),
            "search.cells_scanned_per_row_returned": scanned / max(returned, 1),
            "ann.p50_ms": median(by_kind["ann"]),
            "ann.recall_at_10": self.ann_recall(),
            "ann.scored_fraction": m / n,
        })
        return out
