"""Distributed oversize-document segmentation (SURVEY.md §4.3).

Opt-in (``run_extraction_checkpointed(segment_threshold_chars=…)``).
Documents up to ``threshold_chars`` (and null texts) flow through the
regular parse; larger ones are split into safe segments
(kernel/segmentation.py), the segments are scanned IN PARALLEL across the
cluster through the same mapInArrow parse boundary as
operators.extract.parse_documents (kernel.segmentation.parse_segment_columns
per segment), and each doc is reassembled in one aggregate:

  * ``array_sort(collect_list(struct(seg, spans, tables)))`` — struct sort is
    by the leading field, so segments come back in document order;
  * spans: flatten of the per-segment spans;
  * tables: flatten of the per-segment tables, each re-indexed by its
    position (segment-local indices → the global table index);
  * error: max over the segments.

Output schema and values are identical to operators.extract.parse_documents
— asserted in tests/test_segmentation.py.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: docs above this size take the segmented path
THRESHOLD_CHARS = 1 << 21
#: per-segment size budget
TARGET_CHARS = 1 << 19

_SEGMENT_ROWS = T.StructType(
    [
        T.StructField("seg", T.IntegerType(), False),
        T.StructField("line_offset", T.IntegerType(), False),
        T.StructField("seg_text", T.StringType(), False),
        T.StructField("repeated", T.ArrayType(T.StringType()), False),
    ]
)


@F.pandas_udf(T.ArrayType(_SEGMENT_ROWS))
def _segment_udf(texts: Iterator[pd.Series]) -> Iterator[pd.Series]:
    from ..kernel.segmentation import segment_document

    for batch in texts:
        out = []
        for text in batch:
            segments, repeated = segment_document(
                text if text is not None else "", TARGET_CHARS
            )
            out.append(
                [
                    {"seg": k, "line_offset": off, "seg_text": seg, "repeated": repeated}
                    for k, (off, seg) in enumerate(segments)
                ]
            )
        yield pd.Series(out)


def parse_documents_segmented(
    df: DataFrame, threshold_chars: int = THRESHOLD_CHARS
) -> DataFrame:
    """(doc_id, text, …) → (doc_id, spans, tables, error); oversize docs are
    scanned segment-parallel.  Column set matches parse_documents minus the
    pass-through input columns."""
    from ..kernel.segmentation import parse_segment_columns
    from ..operators.extract import _parse_arrow, parse_documents

    # null length compares null: route null texts to the plain parse, which
    # parses them as the empty document
    fits = F.coalesce(F.length("text") <= threshold_chars, F.lit(True))
    normal = parse_documents(df.filter(fits).select("doc_id", "text")).select(
        "doc_id", "spans", "tables", "error"
    )

    big = df.filter(~fits).select("doc_id", "text")
    segs = big.select("doc_id", F.explode(_segment_udf("text")).alias("s")).select(
        "doc_id", "s.*"
    )
    # Redistribute: the exploded segments otherwise stay in the partition
    # that held their parent doc, so a 100 MB doc's ~200 segments parse
    # SERIALLY in one task — measured max/median task ratio 89 on a 20 MB
    # giant without it (r04); the whole point of segmentation is that they
    # fan out.
    segs = segs.repartition(
        big.sparkSession.sparkContext.defaultParallelism * 2, "doc_id", "seg"
    )
    parsed = _parse_arrow(
        segs, ["doc_id", "seg"], ["seg_text", "line_offset", "repeated"], parse_segment_columns
    )

    ordered = parsed.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("seg", "spans", "tables"))).alias("segs"),
        F.max("error").alias("error"),
    )
    big_out = ordered.select(
        "doc_id",
        F.flatten(F.transform("segs", lambda s: s.spans)).alias("spans"),
        F.transform(
            F.flatten(F.transform("segs", lambda s: s.tables)),
            lambda t, i: t.withField("index", i),
        ).alias("tables"),
        "error",
    )
    return normal.unionByName(big_out)
