"""Driver-side, single-thread timing of the parse kernel on a seeded sample
of the ``extract`` corpus (traced runs only)."""

from __future__ import annotations

import time

from document_parser_spark import kernel
from document_parser_spark.kernel import predicates, scanner, structure

from . import inputs

SAMPLE_DOCS = 300


def _cache_clear(fn) -> None:
    if hasattr(fn, "cache_clear"):
        fn.cache_clear()


def _hit_ratio(fn) -> float:
    """Hit share of an ``lru_cache``; 0 when the function is not cached."""
    if not hasattr(fn, "cache_info"):
        return 0.0
    info = fn.cache_info()
    calls = info.hits + info.misses
    return info.hits / calls if calls else 0.0


def probe(seed: int) -> dict[str, float]:
    docs = inputs.mixed_corpus(seed, SAMPLE_DOCS)
    texts = [d["text"] for d in docs]
    html = [t for t in texts if kernel.looks_like_html(t)]
    markdown = [kernel.normalize_scripts(t) for t in texts if not kernel.looks_like_html(t)]

    split_cache = getattr(scanner, "_split_row_cached", None)
    numeric = predicates.is_numeric_cell
    for fn in (split_cache, numeric):
        _cache_clear(fn)

    t0 = time.perf_counter()
    for t in texts:
        kernel.parse_document(t)
    parse_s = time.perf_counter() - t0
    split_ratio = _hit_ratio(split_cache)
    numeric_ratio = _hit_ratio(numeric)

    t0 = time.perf_counter()
    raw_tables = [kernel.scan_markdown(md)[1] for md in markdown]
    scan_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    for t in html:
        kernel.parse_html_document(t)
    html_s = time.perf_counter() - t0

    flat = [raw for tables in raw_tables for raw in tables]
    t0 = time.perf_counter()
    for idx, raw in enumerate(flat):
        structure.extract_table_auto_columns(raw, table_index=idx, title=raw.get("title", ""))
    struct_s = time.perf_counter() - t0

    return {
        "kernel.parse_us_per_doc": parse_s * 1e6 / len(texts),
        "kernel.markdown_scan_us_per_doc": scan_s * 1e6 / max(len(markdown), 1),
        "kernel.html_parse_us_per_doc": html_s * 1e6 / max(len(html), 1),
        "kernel.structure_us_per_table": struct_s * 1e6 / max(len(flat), 1),
        "kernel.split_row_cache_hit_ratio": split_ratio,
        "kernel.numeric_cache_hit_ratio": numeric_ratio,
    }
