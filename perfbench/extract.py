"""``extract``: the resumable extraction job over a staged, seeded corpus.

Each operation is one ``plans.resume.run_extraction_checkpointed`` pass
into a fresh output directory: parse (``kernel`` behind the
``operators.extract`` mapInArrow boundary), salted repartition
(``plans.partitioning``), partitioned parquet writes and lineage rows
(``plans.resume``).  No search or dedup code runs.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark import StorageLevel
from pyspark.sql import functions as F

from document_parser_spark import kernel
from document_parser_spark.operators import extract as ops
from document_parser_spark.plans import partitioning, resume
from document_parser_spark.schemas import TABLE
from document_parser_spark.sources import data

from . import inputs, planmetrics
from .harness import OpResult, median

N_DOCS = 1000
BUCKETS = 16
CHECK_DOCS = 25


class Extract:
    name = "extract"
    #: Package modules whose public functions the traced loop wraps in spans.
    layers = ("operators.extract", "plans.partitioning", "plans.resume")
    #: A set-up is cheap here (session and staging), so five give a steadier median.
    setups = 5

    def __init__(self, bench):
        self.bench = bench
        self.docs = inputs.mixed_corpus(bench.seed, N_DOCS)
        self.items_per_op = len(self.docs)
        self.input_bytes = 0
        self.input_df = None
        self.last_out = None
        self.op_stats: list[dict] = []
        self.boot_ms: list[float] = []

    # -- set-up -------------------------------------------------------------
    def setup(self, k: int) -> None:
        b, tr = self.bench, self.bench.tracer
        with tr.span("sources.data", "stage"):
            path = b.path(f"input-{k}.parquet")
            self.input_bytes = inputs.write_flat(self.docs, path)
            self.input_df = data.lift_flat_to_input(b.spark.read.parquet(path))
        if tr.enabled:
            self.boot_ms.append(python_boot_ms(b.spark))

    def warmup(self) -> None:
        """Three passes: the first, on a cold JVM, is about three times as
        slow as a warm one, and the next two still run 10-30% slow."""
        for k in range(3):
            self._job(f"warm-{k}")

    def prepare(self) -> None:
        pass

    def _job(self, tag: str) -> dict:
        out = self.bench.path(f"{self.name}-out-{tag}")
        stats = resume.run_extraction_checkpointed(
            self.bench.spark, self.input_df, out, run_id=tag, num_buckets=BUCKETS
        )
        stats["out"] = out
        return stats

    # -- measuring loop -----------------------------------------------------
    def op(self, i: int) -> OpResult:
        stats = self._job(f"op-{i}")
        self.op_stats.append(stats)
        return OpResult(items=self.items_per_op)

    def after_op(self, i: int) -> None:
        """Count error docs from the lineage rows (untimed); keep only the
        newest output."""
        stats = self.op_stats[-1]
        totals = lineage_totals(self.bench.spark, stats["out"])
        stats.update(totals)
        if self.last_out:
            shutil.rmtree(self.last_out, ignore_errors=True)
        self.last_out = stats["out"]

    def failed_items(self) -> int:
        return sum(s.get("error_docs", 0) for s in self.op_stats)

    # -- output checks --------------------------------------------------------
    def verify(self) -> tuple[list[str], dict]:
        problems = []
        spark, last = self.bench.spark, self.op_stats[-1]
        for s in self.op_stats:
            if s.get("docs", -1) != len(self.docs) or s["docs_processed"] != len(self.docs):
                problems.append(f"{s['run_id']}: {s.get('docs')} docs in lineage, expected {len(self.docs)}")
        ids = [d["doc_id"] for d in inputs.sample(self.bench.seed, self.docs, CHECK_DOCS)]
        by_id = {d["doc_id"]: d["text"] for d in self.docs}
        spans = {
            r["doc_id"]: r["spans"]
            for r in spark.read.parquet(os.path.join(last["out"], "document_spans"))
            .filter(F.col("doc_id").isin(ids)).collect()
        }
        tables: dict[str, list] = {i: [] for i in ids}
        for r in (
            spark.read.parquet(os.path.join(last["out"], "tables"))
            .filter(F.col("doc_id").isin(ids)).collect()
        ):
            tables[r["doc_id"]].append(r)
        for doc_id in ids:
            want = kernel.parse_document(by_id[doc_id])
            got_spans = [s.asDict(recursive=True) for s in spans.get(doc_id, [])]
            want_spans = [{f: s.get(f) for f in ("kind", "text", "media_ref", "offset")} for s in want["spans"]]
            if got_spans != want_spans:
                problems.append(f"{doc_id}: spans differ from kernel.parse_document")
            got_tables = sorted(tables[doc_id], key=lambda r: r["table_index"])
            if len(got_tables) != len(want["tables"]):
                problems.append(f"{doc_id}: {len(got_tables)} tables, kernel has {len(want['tables'])}")
                continue
            for row, table in zip(got_tables, want["tables"]):
                for field in TABLE.fieldNames():
                    col = "table_index" if field == "index" else field
                    if _plain(row[col]) != _plain(table.get(field), TABLE[field].dataType):
                        problems.append(f"{doc_id} table {table['index']}: field {field} differs")
        totals = {k: last.get(k, 0) for k in ("docs", "spans", "tables", "error_docs")}
        return problems, {"totals": totals, "checked_docs": len(ids)}

    # -- traced-run probes ----------------------------------------------------
    def layer_metrics(self) -> dict[str, float]:
        b, tr = self.bench, self.bench.tracer
        out = {
            "resume.write_spans_ms": median(tr.durations_ms("write_partitioned", "document_spans")),
            "resume.write_tables_ms": median(tr.durations_ms("write_partitioned", "tables")),
            "resume.lineage_ms": median(tr.durations_ms("write_metrics")),
            "resume.bytes_written_per_input_byte": _du(self.last_out) / self.input_bytes,
            "extract.python_boot_ms": median(self.boot_ms),
            "extract.docs_out": self.op_stats[-1]["docs"],
            "extract.spans_out": self.op_stats[-1]["spans"],
            "extract.tables_out": self.op_stats[-1]["tables"],
            "extract.error_docs": self.op_stats[-1]["error_docs"],
        }
        out.update(self._parse_step())
        return out

    def _parse_step(self) -> dict[str, float]:
        """The job's parse stage alone: ``parse_documents`` + persist + count
        over the same salted repartition the job applies."""
        spark, rec = self.bench.spark, self.bench.recorder
        since = rec.next_accumulator_id()
        docs = resume.with_bucket(ops.assemble_document_text(self.input_df), BUCKETS)
        rep = partitioning.salted_repartition(docs, max(spark.sparkContext.defaultParallelism * 2, 8))
        parsed = ops.parse_documents(rep).persist(StorageLevel.MEMORY_AND_DISK)
        t0 = time.perf_counter()
        parsed.count()
        parse_ms = (time.perf_counter() - t0) * 1000.0
        metrics = rec.metrics(since)
        parsed.unpersist()
        part_chars = [
            r["c"] for r in rep.groupBy(F.spark_partition_id().alias("p"))
            .agg(F.sum("n_chars").alias("c")).collect()
        ]
        rec.take()
        arrow = "MapInArrowExec"
        return {
            "extract.parse_ms": parse_ms,
            "extract.python_total_ms": planmetrics.total(metrics, "pythonTotalTime", arrow, timing=True),
            "extract.python_init_ms": planmetrics.total(metrics, "pythonInitTime", arrow, timing=True),
            "extract.arrow_bytes_sent": planmetrics.total(metrics, "pythonDataSent", arrow),
            "extract.arrow_bytes_received": planmetrics.total(metrics, "pythonDataReceived", arrow),
            "partitioning.shuffle_bytes": planmetrics.total(metrics, "shuffleBytesWritten"),
            "partitioning.max_over_mean_partition_chars": max(part_chars) / (sum(part_chars) / len(part_chars)),
        }


def python_boot_ms(spark) -> float:
    """Wall time a no-op mapInArrow job spends starting Python workers: the
    first run on a fresh session minus an identical second run."""
    n = spark.sparkContext.defaultParallelism
    df = spark.range(0, n, 1, n)

    def run() -> float:
        t0 = time.perf_counter()
        df.mapInArrow(lambda batches: batches, df.schema).count()
        return (time.perf_counter() - t0) * 1000.0

    cold = run()
    return max(cold - run(), 0.0)


def lineage_totals(spark, out: str) -> dict[str, int]:
    row = spark.read.parquet(os.path.join(out, "metrics")).agg(
        F.sum("doc_count").alias("docs"),
        F.sum("span_count").alias("spans"),
        F.sum("table_count").alias("tables"),
        F.sum("error_count").alias("error_docs"),
    ).collect()[0]
    return {k: int(row[k] or 0) for k in ("docs", "spans", "tables", "error_docs")}


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def _plain(value, dtype=None):
    """Spark Rows and kernel dicts as plain lists/dicts, restricted to the
    fields the declared schema carries."""
    from pyspark.sql import Row
    from pyspark.sql import types as T

    if isinstance(value, Row):
        value = value.asDict(recursive=True)
    if isinstance(value, (list, tuple)):
        elem = dtype.elementType if isinstance(dtype, T.ArrayType) else None
        return [_plain(v, elem) for v in value]
    if isinstance(value, dict):
        if isinstance(dtype, T.StructType):
            return {f: _plain(value.get(f), dtype[f].dataType) for f in dtype.fieldNames()}
        return {k: _plain(v) for k, v in value.items()}
    return value
