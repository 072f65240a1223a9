"""Seeded inputs, built only from the package's public generators.

The same seed gives the same inputs.  The program under test receives only
what these functions produce.
"""

from __future__ import annotations

import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from document_parser_spark.corpus import fixture_documents, synthesize_doc, synthesize_html_doc
from document_parser_spark.plans.curate import EN_PREAMBLE

#: One document in this many is a synthetic HTML page (~20%); the rest are
#: synthetic markdown.
HTML_EVERY = 5
#: The markdown class mix of ``corpus.synthesize_doc``.  Every corpus holds
#: exactly these shares, whatever the seed, so runs with different seeds do
#: the same amount of work of each kind.
MARKDOWN_MIX = (("prose", 0.70), ("table_heavy", 0.20), ("media", 0.09), ("pathological", 0.01))
#: Pathological documents are taken from a band around their median size
#: (about 133k characters): a corpus holds only a handful of them, each worth
#: hundreds of ordinary documents, so their sizes would otherwise set most
#: of the run-to-run difference in work between seeds.
PATHOLOGICAL_CHARS = (120_000, 146_000)
#: Every tenth curation document copies its predecessor's text verbatim.
DUP_EVERY = 10
EMBED_DIM = 64


def markdown_class(text: str) -> str:
    """The ``synthesize_doc`` class a document came from, read off its text:
    media docs carry images, prose docs at most one table, table-heavy docs
    3-10 tables and pathological docs 40-120."""
    if "![](" in text:
        return "media"
    tables = sum(1 for line in text.split("\n") if line.startswith("|---"))
    if tables > 10:
        return "pathological"
    return "table_heavy" if tables > 1 else "prose"


def markdown_docs(seed: int, n_docs: int) -> list[dict]:
    """The first ``n_docs`` seeded markdown documents that fill each class's
    quota of ``MARKDOWN_MIX`` (largest-remainder rounding)."""
    exact = [(name, share * n_docs) for name, share in MARKDOWN_MIX]
    quota = {name: int(x) for name, x in exact}
    short = n_docs - sum(quota.values())
    for name, x in sorted(exact, key=lambda e: int(e[1]) - e[1])[:short]:
        quota[name] += 1
    docs = []
    i = 0
    while len(docs) < n_docs:
        doc = synthesize_doc(i, seed)
        cls = markdown_class(doc["text"])
        in_band = cls != "pathological" or (
            PATHOLOGICAL_CHARS[0] <= len(doc["text"]) <= PATHOLOGICAL_CHARS[1]
        )
        if quota[cls] and in_band:
            quota[cls] -= 1
            docs.append(doc)
        i += 1
    return docs


def mixed_corpus(seed: int, n_docs: int) -> list[dict]:
    """``n_docs`` synthetic documents, one in ``HTML_EVERY`` an HTML page and
    the rest markdown in the ``MARKDOWN_MIX`` shares, plus every fixture."""
    n_html = n_docs // HTML_EVERY
    html = [synthesize_html_doc(i, seed) for i in range(n_html)]
    return markdown_docs(seed, n_docs - n_html) + html + fixture_documents()


def curation_corpus(seed: int, n_docs: int) -> list[dict]:
    """Flat (doc_id:int, text) corpus with planted exact duplicates.

    Doc ``i`` with ``i % 10 == 9`` carries doc ``i - 1``'s text.  Three
    source texts in four open with an English preamble, so the language
    gate keeps some documents and drops others."""
    sources = markdown_docs(seed, n_docs)
    docs = []
    for i in range(n_docs):
        src = i - 1 if i % DUP_EVERY == DUP_EVERY - 1 else i
        pre = EN_PREAMBLE if src % 4 != 3 else ""
        docs.append({"doc_id": i, "text": pre + sources[src]["text"]})
    return docs


def planted_pairs(n_docs: int) -> set[tuple[int, int]]:
    return {(i - 1, i) for i in range(DUP_EVERY - 1, n_docs, DUP_EVERY)}


def embeddings(seed: int, n_vecs: int, dim: int = EMBED_DIM) -> pa.Table:
    """Isotropic unit vectors (vec_id:int64, embedding:list<float>, label:int32)."""
    rng = np.random.default_rng(seed)
    x = rng.standard_normal((n_vecs, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(x.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 8, n_vecs), pa.int32()),
        }
    )


def write_flat(docs: list[dict], path: str, id_type=pa.string()) -> int:
    """Stage (doc_id, text) as parquet; returns the UTF-8 text bytes."""
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([d["doc_id"] for d in docs], id_type),
                "text": pa.array([d["text"] for d in docs], pa.string()),
            }
        ),
        path,
    )
    return sum(len(d["text"].encode("utf-8")) for d in docs)


def sample(seed: int, population: list, k: int) -> list:
    return random.Random(seed).sample(population, min(k, len(population)))
