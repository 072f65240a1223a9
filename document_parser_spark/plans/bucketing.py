"""Bucketed co-located joins — the shuffle-elimination tool for the hot
join keys (SURVEY.md §4.3 / the 100 TB playbook).

The cells index is re-joined on (doc_id, table_index, row) by every search
query (J1/J2) and the media side-table on (doc_id, media_ref) (J4).  At
corpus scale those joins shuffle BOTH sides every query; persisting the
index bucketed by the join key makes every later join a zero-exchange
sort-merge against any table bucketed the same way — the batch twin of
co-partitioned state.

Spark only honors bucket metadata through the catalog (``saveAsTable``),
not bare parquet paths — ``write_bucketed`` wraps that so callers can't
lose the bucketing by writing to a path."""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 64,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist ``df`` bucketed (and optionally sorted) by the join key.
    One shuffle now; zero exchanges on every future equi-join/aggregation
    keyed on a prefix of ``bucket_cols``."""
    writer = df.write.mode("overwrite").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.format("parquet").saveAsTable(table)

