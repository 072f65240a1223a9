"""``curate``: the training-data path over a seeded flat corpus with planted
exact duplicates.

Each operation runs ``plans.curate.run_curation_checkpointed`` (exact-dedup
election, quality/language gate, chunking, partitioned write) and then
``dedup.minhash_near_dup_pairs`` followed by ``dedup.duplicate_clusters``.
The parse kernel does nothing here.
"""

from __future__ import annotations

import shutil
import time

import pyarrow as pa
from pyspark import StorageLevel

from document_parser_spark.operators import curation, dedup
from document_parser_spark.plans import curate

from . import inputs
from .harness import OpResult, median

N_DOCS = 400
BUCKETS = 16


class Curate:
    name = "curate"
    #: Package modules whose public functions the traced loop wraps in spans.
    layers = ("plans.curate", "operators.curation", "operators.text", "operators.dedup", "plans.resume")
    #: A set-up is cheap here (session and staging), so five give a steadier median.
    setups = 5

    def __init__(self, bench):
        self.bench = bench
        self.docs = inputs.curation_corpus(bench.seed, N_DOCS)
        self.items_per_op = N_DOCS
        self.op_stats: list[dict] = []
        self.last_out = None

    def setup(self, k: int) -> None:
        b, tr = self.bench, self.bench.tracer
        with tr.span("sources.data", "stage"):
            path = b.path(f"{self.name}-input-{k}.parquet")
            inputs.write_flat(self.docs, path, id_type=pa.int64())
            self.input_df = b.spark.read.parquet(path)

    def warmup(self) -> None:
        """Two passes: the first, on a cold JVM, is about twice as slow as a
        warm one, and the second still runs ~15% slow."""
        for k in range(2):
            self._pass(f"warm-{k}")

    def prepare(self) -> None:
        pass

    def _pass(self, tag: str) -> dict:
        spark = self.bench.spark
        out = self.bench.path(f"{self.name}-out-{tag}")
        stats = curate.run_curation_checkpointed(
            spark, self.input_df, out, run_id=tag, num_buckets=BUCKETS
        )
        pairs = dedup.minhash_near_dup_pairs(self.input_df).persist(StorageLevel.MEMORY_AND_DISK)
        clusters = dedup.duplicate_clusters(pairs.select("doc_a", "doc_b")).collect()
        stats["pairs"] = {(r["doc_a"], r["doc_b"]) for r in pairs.select("doc_a", "doc_b").collect()}
        pairs.unpersist()
        stats["clusters"] = {r[0]: r[1] for r in clusters}
        stats["out"] = out
        return stats

    def op(self, i: int) -> OpResult:
        self.op_stats.append(self._pass(f"op-{i}"))
        return OpResult(items=self.items_per_op)

    def after_op(self, i: int) -> None:
        if self.last_out:
            shutil.rmtree(self.last_out, ignore_errors=True)
        self.last_out = self.op_stats[-1]["out"]

    def failed_items(self) -> int:
        return 0

    def verify(self) -> tuple[list[str], dict]:
        problems = []
        planted = inputs.planted_pairs(N_DOCS)
        for s in self.op_stats:
            if s["docs_in"] != N_DOCS:
                problems.append(f"{s['run_id']}: docs_in {s['docs_in']}, expected {N_DOCS}")
            if not 0 < s["docs_kept"] < N_DOCS:
                problems.append(f"{s['run_id']}: docs_kept {s['docs_kept']} out of range")
            missing = planted - s["pairs"]
            if missing:
                problems.append(f"{s['run_id']}: {len(missing)} planted duplicate pairs not verified")
            split = [p for p in planted if s["clusters"].get(p[0]) != s["clusters"].get(p[1]) or p[0] not in s["clusters"]]
            if split:
                problems.append(f"{s['run_id']}: {len(split)} planted pairs not in one cluster")
        last = self.op_stats[-1]
        info = {"docs_in": last["docs_in"], "docs_kept": last["docs_kept"], "chunks_out": last["chunks_out"],
                "verified_pairs": len(last["pairs"]), "planted_pairs": len(planted)}
        return problems, info

    def layer_metrics(self) -> dict[str, float]:
        tr = self.bench.tracer
        last = self.op_stats[-1]
        out = {
            "curate.pipeline_ms": median(tr.durations_ms("run_curation_checkpointed")),
            "curate.docs_kept": last["docs_kept"],
            "curate.chunks_out": last["chunks_out"],
        }
        out.update(self._steps())
        return out

    def _steps(self) -> dict[str, float]:
        """The pipeline's stages one at a time, each persisted and counted."""
        df = self.input_df
        held = []

        def timed(frame):
            frame = frame.persist(StorageLevel.MEMORY_AND_DISK)
            held.append(frame)
            t0 = time.perf_counter()
            n = frame.count()
            return frame, n, (time.perf_counter() - t0) * 1000.0

        canonical, _, election_ms = timed(
            curate.election_frames(curate.with_content_bucket(df, BUCKETS))[0].drop("_copies"))
        gated, _, gate_ms = timed(curation.quality_language_gate(canonical))
        _, _, chunk_ms = timed(curation.chunk_documents(gated, max_words=512))
        sigs, _, sig_ms = timed(dedup.minhash_signatures(df))
        _, candidates, _ = timed(dedup.minhash_candidate_pairs(sigs))
        pairs, verified, verify_ms = timed(dedup.minhash_pairs_from_signatures(sigs, sigs, df))
        _, _, cc_ms = timed(dedup.duplicate_clusters(pairs.select("doc_a", "doc_b")))
        for frame in held:
            frame.unpersist()
        return {
            "curate.election_ms": election_ms,
            "curation.gate_ms": gate_ms,
            "curation.chunk_ms": chunk_ms,
            "dedup.signatures_ms": sig_ms,
            "dedup.candidates": candidates,
            "dedup.verify_ms": verify_ms,
            "dedup.verified_pairs": verified,
            "dedup.verified_per_candidate": verified / max(candidates, 1),
            "dedup.cc_ms": cc_ms,
        }
