"""Dedup-operator semantics: prefix-filtered n-gram Jaccard must equal the
exhaustive definition exactly; banded MinHash must find verified near-dups
with exact integer set arithmetic."""

import hashlib
import itertools
from collections import Counter

import pytest
from pyspark.sql import functions as F

from document_parser_spark.operators import dedup
from tests.conftest import run_oracle_sql

#: Java's ``\s`` class — ASCII only; NBSP is not a separator.
JAVA_WS = " \t\n\x0b\f\r"


def _java_words(text):
    """Pure-Python word split on the Java ``\\s`` class, empty words dropped
    (the reference for the Arrow word splitters)."""
    out, cur = [], []
    for ch in text or "":
        if ch in JAVA_WS:
            if cur:
                out.append("".join(cur))
                cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur))
    return out


def _union_find_labels(edges):
    """Pure-Python connected components: each node in ``edges`` labelled
    with the minimum node of its component."""
    parent = {n: n for e in edges for n in e}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}

DOCS = [
    # (doc_id, lang, source, text)
    (1, "en", "web", "alpha beta gamma delta epsilon zeta"),
    (2, "en", "web", "alpha beta gamma delta epsilon eta"),      # ~0.71 vs 1
    (3, "en", "web", "the the the the completely different words here"),
    (4, "en", "web", "the unrelated body of text with shared stopword only"),
    (5, "en", "web", "alpha beta gamma delta epsilon zeta"),     # exact dup of 1
    (6, "fr", "web", "alpha beta gamma delta epsilon zeta"),     # other block
    (7, "en", "pdf", "alpha beta gamma delta epsilon zeta"),     # other block
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, lang string, source string, text string")


def _ngrams(text, n):
    """Distinct word n-grams (n = 1: distinct words) on the Java ``\\s``
    split, joined by one space like ``word_shingles``."""
    ws = _java_words(text)
    return {" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)}


def _exhaustive_pairs(threshold_pct, ngram_n=1):
    """Brute-force oracle: distinct-token Jaccard within (lang, source)
    blocks, tokens being words (``ngram_n`` = 1) or word n-grams."""
    out = []
    for (ida, la, sa, ta), (idb, lb, sb, tb) in itertools.combinations(DOCS, 2):
        if (la, sa) != (lb, sb):
            continue
        a, b = _ngrams(ta, ngram_n), _ngrams(tb, ngram_n)
        inter, union = len(a & b), len(a | b)
        if union and 100 * inter >= threshold_pct * union:
            lo, hi = min(ida, idb), max(ida, idb)
            out.append((lo, hi, inter, union))
    return sorted(out)


@pytest.mark.parametrize("threshold", [50, 80])
def test_prefix_filter_equals_exhaustive(docs, threshold):
    got = sorted(
        (r["doc_a"], r["doc_b"], r["n_inter"], r["n_union"])
        for r in dedup.ngram_jaccard_pairs(docs, threshold_pct=threshold).collect()
    )
    assert got == _exhaustive_pairs(threshold)


@pytest.mark.parametrize("ngram_n", [1, 3])
def test_array_verify_equals_explode_twin(docs, ngram_n):
    """The array_intersect verify must return EXACTLY the exhaustive
    distinct-token Jaccard pairs over words (n=1) and word 3-grams — same
    pairs, same n_inter/n_union."""
    got = sorted(
        (r["doc_a"], r["doc_b"], r["n_inter"], r["n_union"])
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold_pct=50, ngram_n=ngram_n
        ).collect()
    )
    assert got == _exhaustive_pairs(50, ngram_n) and len(got) > 0


def test_repetition_stats_arrow_equals_column_twin(spark):
    """r06: the one-pass Arrow repetition stats must equal the
    ``repetition_stats`` DuckDB oracle (exploded two-level aggregation),
    including 0-word/1-word/null-text edges."""
    from document_parser_spark.operators import text as text_ops
    from document_parser_spark.sources.session import load_table

    d = load_table(spark, "/root/testdata/sf0.01", "documents").select(
        "doc_id", "text"
    )
    key = lambda df: sorted(tuple(r) for r in df.collect())
    got = key(text_ops.repetition_stats(d))
    assert got == sorted(run_oracle_sql("repetition_stats", key(d)))
    assert len(got) == 500
    edge_rows = [(1, ""), (2, None), (3, "one"), (4, "a a b"), (5, "  x \t y\ny  x x  ")]
    edges = spark.createDataFrame(edge_rows, "doc_id long, text string")
    assert key(text_ops.repetition_stats(edges)) == sorted(
        run_oracle_sql("repetition_stats", edge_rows)
    )


def _bigram_novelty_reference(rows, common_df):
    """Pure-Python bigram novelty: per doc with >= 2 words, (n_bigrams,
    n_distinct, n_common, n_common_distinct) where a bigram is common when
    >= ``common_df`` docs contain it."""
    per_doc = {}
    for doc_id, text in rows:
        ws = _java_words(text)
        if len(ws) >= 2:
            per_doc[doc_id] = Counter(a + " " + b for a, b in zip(ws, ws[1:]))
    dfreq = Counter(bg for counts in per_doc.values() for bg in counts)
    common = {bg for bg, n in dfreq.items() if n >= common_df}
    return {
        doc_id: (
            sum(counts.values()),
            len(counts),
            sum(n for bg, n in counts.items() if bg in common),
            sum(1 for bg in counts if bg in common),
        )
        for doc_id, counts in per_doc.items()
    }


def test_bigram_novelty_arrow_equals_exploded_twin(spark):
    """r06: the Arrow-counted (bigram, cnt) novelty pass must equal a
    pure-Python reference, including <2-word and null-text drop-outs."""
    from document_parser_spark.operators import text as text_ops
    from document_parser_spark.sources.session import load_table

    d = load_table(spark, "/root/testdata/sf0.01", "documents").select(
        "doc_id", "text"
    )
    edges = spark.createDataFrame(
        [(1, ""), (2, None), (3, "one"), (4, "a b a b a"), (5, " x  y\tx y ")],
        "doc_id long, text string",
    )
    for df, common_df, has_common in ((d, 3, True), (edges, 2, False)):
        got = {
            r["doc_id"]: (r["n_bigrams"], r["n_distinct"], r["n_common"], r["n_common_distinct"])
            for r in text_ops.bigram_novelty(df, common_df=common_df).collect()
        }
        want = _bigram_novelty_reference(
            [(r["doc_id"], r["text"]) for r in df.collect()], common_df
        )
        assert got == want
        assert any(v[2] for v in want.values()) == has_common


def test_minhash_verify_array_equals_explode_twin(spark):
    """The shingle-Jaccard verify behind minhash_near_dup_pairs must keep
    exactly the sf0.01 minhash candidates whose pure-Python 5-word
    shingle-set Jaccard is ≥ 50%, with the same n_inter/n_union."""
    from document_parser_spark.sources.session import load_table

    d = load_table(spark, "/root/testdata/sf0.01", "documents").select(
        "doc_id", "text"
    )
    cand = dedup.minhash_candidate_pairs(dedup.minhash_signatures(d, shingle_k=5))
    shingles = {r["doc_id"]: _ngrams(r["text"], 5) for r in d.collect()}
    want = []
    for r in cand.collect():
        a, b = shingles[r["doc_a"]], shingles[r["doc_b"]]
        inter, union = len(a & b), len(a | b)
        if union and 100 * inter >= 50 * union:
            want.append((r["doc_a"], r["doc_b"], inter, union))
    got = sorted(
        tuple(r)
        for r in dedup.minhash_near_dup_pairs(
            d, shingle_k=5, threshold_pct=50
        ).collect()
    )
    assert got == sorted(want) and len(got) > 0


def test_hot_word_only_pairs_below_threshold_excluded(docs):
    """Docs 3 and 4 share only 'the' (J well under 50%) — must not pair,
    and exact dup (1,5) must pair with J=1."""
    pairs = {
        (r["doc_a"], r["doc_b"]): (r["n_inter"], r["n_union"])
        for r in dedup.ngram_jaccard_pairs(docs, threshold_pct=50).collect()
    }
    assert (3, 4) not in pairs
    assert pairs[(1, 5)][0] == pairs[(1, 5)][1]  # identical word sets


def test_minhash_near_dup_verified(spark):
    base = "one two three four five six seven eight nine ten"
    rows = [
        (10, base),
        (11, base),                                  # exact dup → J=1
        (12, base + " eleven"),                      # near dup (8/9 shingles k=3)
        (13, "totally different content with no overlap at all whatsoever"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r["doc_a"], r["doc_b"]): (r["n_inter"], r["n_union"])
        for r in dedup.minhash_near_dup_pairs(df, shingle_k=3, threshold_pct=50).collect()
    }
    assert (10, 11) in out and out[(10, 11)][0] == out[(10, 11)][1]
    assert (10, 12) in out  # 8 shared shingles of 9 → J = 8/10 ≥ 0.5
    assert all(13 not in pair for pair in out)
    # every emitted pair satisfies the integer threshold by construction
    assert all(100 * i >= 50 * u for i, u in out.values())


def test_minhash_signature_shape(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "a b c d e f g")], "doc_id long, text string"
    )
    sigs = dedup.minhash_signatures(df, shingle_k=3).collect()
    by_doc = {}
    for r in sigs:
        by_doc.setdefault(r["doc_id"], {})[r["band"]] = r["sig"]
    assert set(by_doc[1]) == {0, 1, 2, 3}  # 8 hashes / r=2 → 4 bands
    assert by_doc[1] == by_doc[2]  # identical text → identical band sigs


def test_duplicate_clusters_chain(spark):
    """A 4-node chain needs multiple propagation rounds to reach the global
    min label; two disjoint components must keep separate labels."""
    pairs = spark.createDataFrame(
        [(3, 4), (2, 3), (1, 2), (10, 11)], "doc_a long, doc_b long"
    )
    got = {r["doc_id"]: r["cluster_id"] for r in dedup.duplicate_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_simhash_arrow_equals_column_twin(spark):
    """The zero-shuffle Arrow fingerprint must equal the ``simhash_docs``
    DuckDB oracle (explode + per-bit aggregate), including dropping docs
    with no words (empty / whitespace-only text) exactly like the
    oracle's unnest does."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, ""),
        (4, "   \t\n  "),
        (5, "unicode wörds détente naïve unicode wörds"),
        (6, "one"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    arr = {r["doc_id"]: r["simhash"] for r in dedup.simhash_arrow(df).collect()}
    assert arr == dict(run_oracle_sql("simhash_docs", rows))
    assert set(arr) == {1, 2, 5, 6}  # wordless docs dropped


def test_duplicate_clusters_star_equals_propagation(spark):
    """The large/small-star labeling must equal the pure-Python union-find
    reference on a multi-component graph with shared-node merges (1-2-3
    joins 3-7, star center 20, plus an isolated pair)."""
    edges = [(1, 2), (2, 3), (7, 3), (20, 21), (20, 22), (20, 23), (40, 41)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    star = {r["doc_id"]: r["cluster_id"] for r in dedup.duplicate_clusters(pairs).collect()}
    assert star == _union_find_labels(edges)
    assert star[7] == 1 and star[23] == 20 and star[41] == 40


def test_duplicate_clusters_deep_chain_beyond_diameter_bound(spark):
    """A 64-node chain (diameter 63) would need 63 per-hop propagation
    rounds, but the alternating star rounds converge in O(log n): the whole
    chain is labelled with the global min."""
    chain = [(i, i + 1) for i in range(1, 64)]
    pairs = spark.createDataFrame(chain, "doc_a long, doc_b long")
    got = {r["doc_id"]: r["cluster_id"] for r in dedup.duplicate_clusters(pairs).collect()}
    assert got == {i: 1 for i in range(1, 65)}


def test_duplicate_clusters_random_graph_vs_reference(spark):
    """Seeded random graph: star labeling must equal a pure-Python
    union-find ground truth."""
    import random

    rng = random.Random(42)
    nodes = list(range(100))
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(60)]
    edges = [(a, b) for a, b in edges if a != b]

    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    star = {r["doc_id"]: r["cluster_id"] for r in dedup.duplicate_clusters(pairs).collect()}
    assert star == _union_find_labels(edges)


def test_pack_shards_budget_property(spark):
    """Greedy packing: a shard only exceeds the budget by its LAST document
    (each doc goes to the shard where its first token lands), and shard ids
    are contiguous from 0 within each partition class."""
    from document_parser_spark.operators.curation import pack_shards

    rows = [(i, "en", "w " * (50 + i)) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = pack_shards(df, budget_tokens=300).collect()
    shards = {}
    for r in sorted(out, key=lambda r: r["doc_id"]):
        shards.setdefault(r["shard_id"], []).append(r["n_tokens"])
    assert sorted(shards) == list(range(len(shards)))
    for toks in shards.values():
        assert sum(toks) - toks[-1] < 300  # without its last doc, under budget


def test_stratified_sample_deterministic(spark):
    from document_parser_spark.operators.curation import stratified_sample

    df = spark.createDataFrame(
        [(i, "en" if i % 2 else "de") for i in range(200)], "doc_id long, lang string"
    )
    a = {r["doc_id"] for r in stratified_sample(df, {"en": 50}, default_pct=10).collect()}
    b = {r["doc_id"] for r in stratified_sample(df, {"en": 50}, default_pct=10).collect()}
    assert a == b and 0 < len(a) < 200
    c = {r["doc_id"] for r in stratified_sample(df, {"en": 50}, default_pct=10, salt="other").collect()}
    assert c != a  # different salt, different (still deterministic) sample


def test_pack_shards_two_level_equals_single_window(spark):
    """The bucketed two-level cumsum must reproduce the naive one-window
    formulation exactly (small bucket width forces many buckets)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from document_parser_spark.operators.curation import pack_shards
    from document_parser_spark.operators.text import words

    rows = [(i, "en" if i % 3 else "fr", "tok " * (11 + (i * 7) % 90)) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")

    got = {
        (r["lang"], r["doc_id"]): (r["n_tokens"], r["shard_id"])
        for r in pack_shards(df, budget_tokens=500, bucket_width=16).collect()
    }
    w = (
        Window.partitionBy("lang").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    naive = (
        df.withColumn("n_tokens", F.size(words(F.col("text"))).cast("long"))
        .withColumn(
            "shard_id",
            F.floor(
                F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("long")) / 500
            ).cast("long"),
        )
    )
    want = {
        (r["lang"], r["doc_id"]): (r["n_tokens"], r["shard_id"]) for r in naive.collect()
    }
    assert got == want


def test_word_shingles_arrow_equals_column_twin(spark):
    """The linear Arrow shingle path must equal a pure-Python split on the
    Java ``\\s`` class byte-for-byte (incl. tabs/CRLF/unicode-ish whitespace
    edge docs)."""
    from document_parser_spark.operators.text import word_shingles

    rows = [
        (1, "one two three four five"),
        (2, "short"),
        (3, ""),
        (4, "  padded   with\tmixed\nwhitespace runs  "),
        (5, "a b c d"),  # NBSP is NOT a separator for Java/RE2 \s
        (6, "x " * 3000),     # wide doc: linear path must stay fast
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["s"] for r in df.select("doc_id", word_shingles(F.col("text"), 3).alias("s")).collect()}
    want = {}
    for doc_id, text in rows:
        ws = _java_words(text)
        want[doc_id] = [" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)]
    assert got == want
    assert got[5] == ["a\u00a0b c d"]
    assert len(got[6]) == 2998


#: Separators only Python's unicode ``\s`` knows (NBSP, \x1c-\x1f, NEL,
#: U+2028, U+3000) next to the ASCII ones Java's ``\s`` splits on (CRLF,
#: lone \x0b / \f, leading/trailing tabs), plus empty and null text.
WS_ROWS = [
    (1, "the\u00a0and of\u00a0 the a\u00a0b"),
    (2, "w\x1cx\x1dy\x1ez\x1fq the q r"),
    (3, "nel\x85word line\u2028sep ideo\u3000space the"),
    (4, "crlf\r\nline\r\nthe\r\nline\r\n"),
    (5, "vt\x0bonly ff\fonly vt\x0bonly"),
    (6, "\t\tlead and trail\t\t"),
    (7, "  The the  cat the cat  "),
    (8, ""),
    (9, None),
    (10, "one"),
]


def _clf_weight(feature):
    h = int(hashlib.md5(feature.encode("utf-8")).hexdigest()[:8], 16) % (1 << 18)
    return (h * 2654435761 + 97) % 21 - 10


def _simhash_reference(ws):
    c = Counter(ws)
    hs = {w: int(hashlib.md5(w.encode("utf-8")).hexdigest()[:15], 16) for w in c}
    return sum(
        1 << i
        for i in range(dedup.SIMHASH_BITS)
        if 2 * sum(n for w, n in c.items() if hs[w] >> i & 1) > len(ws)
    )


def _ws_pass(spark, name):
    """(got, want): one Arrow text pass over WS_ROWS, keyed by doc_id, and
    the same output derived from the ``_java_words`` reference."""
    from document_parser_spark.operators import text as T
    from document_parser_spark.operators.curation import chunk_documents

    df = spark.createDataFrame(WS_ROWS, "doc_id long, text string")
    t = F.col("text")
    ref = {d: _java_words(text) for d, text in WS_ROWS}
    bigrams = {d: [a + " " + b for a, b in zip(ws, ws[1:])] for d, ws in ref.items()}
    if name == "spark_words":
        got = {r[0]: r[1] or [] for r in df.select("doc_id", T.words(t)).collect()}
        return got, ref
    if name.startswith("shingles_"):
        k = int(name[-1])
        got = dict(df.select("doc_id", T.word_shingles(t, k)).collect())
        want = {d: [" ".join(ws[i : i + k]) for i in range(len(ws) - k + 1)] for d, ws in ref.items()}
        return got, want
    if name == "bigram_counts":
        rows = df.select("doc_id", T._bigram_counts_arrow(t)).collect()
        return {d: dict(bcs) for d, bcs in rows}, {d: dict(Counter(b)) for d, b in bigrams.items()}
    if name == "repetition_stats":
        got = {r[0]: tuple(r[1:]) for r in T.repetition_stats(df).collect()}
        want = {
            d: (
                len(ws),
                len(set(ws)),
                max(Counter(ws).values(), default=0),
                len(bigrams[d]),
                max(Counter(bigrams[d]).values(), default=0),
            )
            for d, ws in ref.items()
        }
        return got, want
    if name == "chunks":
        got = {}
        for r in chunk_documents(df, max_words=2, stride=1).collect():
            got.setdefault(r["doc_id"], {})[r["chunk_id"]] = r["chunk_text"]
        want = {d: dict(enumerate(" ".join(ws[s : s + 2]) for s in range(len(ws)))) for d, ws in ref.items() if ws}
        return got, want
    if name == "language_words":
        got = dict(df.select("doc_id", T.language_words_arrow(t)["n_words"]).collect())
        return got, {d: len(_java_words(text and text.lower())) for d, text in WS_ROWS}
    if name == "clf":
        got = {r["doc_id"]: (r["clf_score"], r["n_feats"]) for r in T.hash_classifier_score(df).collect()}
        want = {
            d: (sum(map(_clf_weight, ws + bigrams[d])), len(ws + bigrams[d]))
            for d, ws in ref.items()
        }
        return got, want
    assert name == "simhash"
    got = dict(dedup.simhash_arrow(df).collect())
    return got, {d: _simhash_reference(ws) for d, ws in ref.items() if ws}


@pytest.mark.parametrize(
    "name",
    [
        "spark_words",
        "shingles_1",
        "shingles_2",
        "shingles_3",
        "bigram_counts",
        "repetition_stats",
        "chunks",
        "language_words",
        "clf",
        "simhash",
    ],
)
def test_text_passes_split_on_java_whitespace(spark, name):
    """Every Arrow text pass tokenizes like Spark's ``words()``: on the
    ASCII Java ``\\s`` class only, empty words dropped, null text wordless
    — checked against the pure-Python ``_java_words`` reference on
    adversarial whitespace (``spark_words`` pins the reference itself)."""
    got, want = _ws_pass(spark, name)
    assert got == want


def test_decontamination_overlap_semantics(spark):
    """Docs sharing a 3-gram with the benchmark are flagged with exact
    distinct-shingle counts; benchmark members and clean docs are absent."""
    from document_parser_spark.operators.curation import decontamination_overlap

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], "doc_id long, text string"
    )
    train = spark.createDataFrame(
        [
            (1, "a1 b1 the quick brown fox c1"),   # shares 2 shingles
            (2, "totally unrelated words here now"),
            (3, "the quick brown"),                 # shares exactly 1
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: (r["n_shingles"], r["n_overlap"])
        for r in decontamination_overlap(train, bench, shingle_k=3).collect()
    }
    # doc 1: shingles of 7 words = 5 distinct; overlaps 'the quick brown' and
    # 'quick brown fox'.  doc 3: 1 shingle, 1 overlap.  doc 2: clean, absent.
    assert rows == {1: (5, 2), 3: (1, 1)}


def test_minhash_incremental_equals_filtered_full(spark):
    """Incremental shard-vs-corpus pairs = the full-corpus pair set filtered
    to >=1 new-side doc; old x old near-dups (20,21) are NOT regenerated."""
    base = "one two three four five six seven eight nine ten"
    corpus = spark.createDataFrame(
        [(20, base), (21, base), (22, "nothing in common with anything else at all")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(30, base + " eleven"), (31, "fresh content unlike every other document here")],
        "doc_id long, text string",
    )
    inc = {
        (r["doc_a"], r["doc_b"]): (r["n_inter"], r["n_union"])
        for r in dedup.minhash_incremental_pairs(
            new, corpus, shingle_k=3, threshold_pct=50
        ).collect()
    }
    full = {
        (r["doc_a"], r["doc_b"]): (r["n_inter"], r["n_union"])
        for r in dedup.minhash_near_dup_pairs(
            corpus.union(new), shingle_k=3, threshold_pct=50
        ).collect()
    }
    new_ids = {30, 31}
    expected = {p: v for p, v in full.items() if p[0] in new_ids or p[1] in new_ids}
    assert inc == expected
    assert (20, 21) in full and (20, 21) not in inc  # old x old stays untouched
    assert any(30 in p for p in inc)  # the new near-dup IS found


def test_duplicate_clusters_empty_and_self_pair_edges(spark):
    """An empty pair frame converges immediately to empty output; a pure
    self-pair labels itself."""
    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    assert dedup.duplicate_clusters(empty).collect() == []
    one = spark.createDataFrame([(7, 7)], "doc_a long, doc_b long")
    got = [(r["doc_id"], r["cluster_id"]) for r in dedup.duplicate_clusters(one).collect()]
    assert got == [(7, 7)]


def test_repeated_ngram_spans_semantics(spark):
    """A 3-word window shared verbatim by two docs is flagged at the right
    1-based positions in BOTH docs; unique windows are silent."""
    from document_parser_spark.operators.curation import repeated_ngram_spans

    df = spark.createDataFrame(
        [
            (1, "viral passage here plus unique tail one"),
            (2, "prefix words then viral passage here ending"),
            (3, "completely different text with nothing shared"),
        ],
        "doc_id long, text string",
    )
    rows = sorted(
        (r["doc_id"], r["pos"])
        for r in repeated_ngram_spans(df, window_k=3, min_docs=2).collect()
    )
    # 'viral passage here' is window 1 of doc 1 and window 4 of doc 2
    # (row order is the caller's job since r06 — sorted() here)
    assert rows == [(1, 1), (2, 4)]


def test_repeated_passage_intervals_merge(spark):
    """Consecutive repeated windows merge into ONE maximal interval per run;
    two disjoint shared passages in the same doc stay two islands."""
    from document_parser_spark.operators.curation import repeated_passage_intervals

    df = spark.createDataFrame(
        [
            (1, "a b c d e X p q r s t"),
            (2, "a b c d e Y p q r s t"),
            (3, "nothing shared with the others at all here"),
        ],
        "doc_id long, text string",
    )
    rows = [
        (r["doc_id"], r["start_pos"], r["end_pos"], r["n_windows"], r["span_words"])
        for r in repeated_passage_intervals(df, window_k=3, min_docs=2).collect()
    ]
    # 'a b c d e' → windows at pos 1-3; 'p q r s t' → windows at pos 7-9;
    # the single-word mutation at pos 6 (X/Y) splits the islands.
    assert rows == [
        (1, 1, 3, 3, 5),
        (1, 7, 9, 3, 5),
        (2, 1, 3, 3, 5),
        (2, 7, 9, 3, 5),
    ]


def test_canonical_keep_election(spark):
    """Largest n_chars wins; ties break to the smallest doc_id; membership
    accounting is exact."""
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (5, 5), (6, 5)],
        "doc_id long, cluster_id long",
    )
    docs = spark.createDataFrame(
        [(1, 10), (2, 50), (3, 50), (5, 7), (6, 7), (9, 999)],
        "doc_id long, n_chars long",
    )
    rows = [
        (r["cluster_id"], r["keep_doc"], r["keep_chars"], r["n_members"], r["n_dropped"])
        for r in dedup.canonical_keep(clusters, docs).collect()
    ]
    assert rows == [(1, 2, 50, 3, 2), (5, 5, 7, 2, 1)]


def test_bigram_novelty_counts(spark):
    """Common = bigram in >= common_df distinct docs; counts are exact
    integers; docs with <2 words drop out."""
    from document_parser_spark.operators.text import bigram_novelty

    df = spark.createDataFrame(
        [
            (1, "the cat sat"),          # bigrams: 'the cat', 'cat sat'
            (2, "the cat ran"),          # 'the cat', 'cat ran'
            (3, "the cat ate"),          # 'the cat', 'cat ate'
            (4, "totally novel words"),  # no common bigrams
            (5, "single"),               # no bigrams -> dropped
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: (r["n_bigrams"], r["n_distinct"], r["n_common"], r["n_common_distinct"])
        for r in bigram_novelty(df, common_df=3).collect()
    }
    # 'the cat' appears in docs 1,2,3 (df=3 >= 3) -> the only common bigram
    assert rows == {
        1: (2, 2, 1, 1),
        2: (2, 2, 1, 1),
        3: (2, 2, 1, 1),
        4: (2, 2, 0, 0),
    }


def test_chunk_documents_overlap_and_twin(spark):
    """Chunk geometry (overlap, tail truncation, empty-doc drop) is exact,
    and the Arrow pass equals a pure-Python reference across stride
    configs."""
    from document_parser_spark.operators.curation import chunk_documents

    rows = [
        (1, " ".join(f"w{i}" for i in range(150))),
        (2, ""),          # zero words -> no chunks
        (3, "a b c"),     # shorter than one window -> one chunk
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_id"], r["chunk_id"]): (r["first_word"], r["n_words"], r["chunk_text"])
        for r in chunk_documents(df, max_words=64, stride=48).collect()
    }
    # doc 1: starts at 0,48,96,144; windows truncate at word 150
    assert {k: v[:2] for k, v in got.items()} == {
        (1, 0): (0, 64),
        (1, 1): (48, 64),
        (1, 2): (96, 54),
        (1, 3): (144, 6),
        (3, 0): (0, 3),
    }
    assert got[(1, 3)][2] == "w144 w145 w146 w147 w148 w149"
    assert got[(3, 0)][2] == "a b c"
    for mw, st in [(64, 48), (10, 10), (5, 2)]:
        a = sorted(
            tuple(r) for r in chunk_documents(df, max_words=mw, stride=st).collect()
        )
        b = sorted(
            (doc_id, i, s, len(ws[s : s + mw]), " ".join(ws[s : s + mw]))
            for doc_id, ws in ((d, _java_words(t)) for d, t in rows)
            for i, s in enumerate(range(0, len(ws), st))
        )
        assert a == b, (mw, st)


def test_hash_classifier_paths_agree(spark):
    """Arrow map pass == broadcast weight-table join (join path drops
    zero-feature docs by construction), and the score is the hand-computed
    md5-bucket arithmetic."""
    import hashlib

    from document_parser_spark.operators import text as T

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, ""),                        # no words: map score 0, join drops
            (3, "one"),                     # single unigram feature
            (4, "  spaced   out   words  "),
            (5, "naïve café résumé naïve café"),  # UTF-8 md5 agreement
        ],
        "doc_id long, text string",
    )
    arrow = {
        r["doc_id"]: (r["clf_score"], r["n_feats"], r["clf_ok"])
        for r in T.hash_classifier_score(df).collect()
    }
    joined = {
        r["doc_id"]: (r["clf_score"], r["n_feats"], r["clf_ok"])
        for r in T.hash_classifier_score(
            df, weights=T.synthetic_weight_table(spark)
        ).collect()
    }
    assert joined == {k: v for k, v in arrow.items() if k != 2}
    assert arrow[2] == (0, 0, True)
    h = int(hashlib.md5(b"one").hexdigest()[:8], 16) % T.CLF_N_BUCKETS
    assert arrow[3] == ((h * 2654435761 + 97) % 21 - 10, 1, arrow[3][0] >= 0)


def test_containment_pairs_detects_embedded_doc(spark):
    """A short doc embedded verbatim in a longer page: 100% containment one
    way, below-threshold the other; unrelated docs never pair; docs shorter
    than the window are excluded from both sides."""
    from document_parser_spark.operators.dedup import containment_pairs

    inner = " ".join(f"w{i}" for i in range(12))  # 12 words -> 9 windows at k=4
    outer = "pre1 pre2 " + inner + " post1 post2 post3 post4 post5 post6 post7 post8"
    other = " ".join(f"x{i}" for i in range(20))
    tiny = "a b"  # < window_k words: no windows
    df = spark.createDataFrame(
        [(1, inner), (2, outer), (3, other), (4, tiny)],
        "doc_id long, text string",
    )
    rows = {
        (r["inner_id"], r["outer_id"]): (
            r["shared_windows"],
            r["inner_windows"],
            r["containment_pct"],
        )
        for r in containment_pairs(df, window_k=4, min_pct=80).collect()
    }
    # doc 1 has 9 distinct 4-word windows, all present in doc 2
    assert rows == {(1, 2): (9, 9, 100)}


def test_containment_pairs_threshold_floor(spark):
    """Floor-percent semantics: 7 of 8 windows shared = 87% (floor of 87.5),
    kept at min_pct=80, dropped at min_pct=88."""
    from document_parser_spark.operators.dedup import containment_pairs

    inner = " ".join(f"w{i}" for i in range(11))      # 8 windows at k=4
    # outer carries windows w0..w9 (7 of inner's 8) but not the last one
    outer = " ".join(f"w{i}" for i in range(10)) + " z1 z2 z3 z4"
    df = spark.createDataFrame([(1, inner), (2, outer)], "doc_id long, text string")
    kept = containment_pairs(df, window_k=4, min_pct=80).collect()
    pair = [(r["inner_id"], r["outer_id"], r["containment_pct"]) for r in kept]
    assert (1, 2, 87) in pair
    strict = containment_pairs(df, window_k=4, min_pct=88).collect()
    assert all((r["inner_id"], r["outer_id"]) != (1, 2) for r in strict)


def test_tfidf_topk_ranks_rare_terms_first(spark):
    """score = tf * ((N*scale) div df): a rare term outranks a ubiquitous
    one at equal tf; ties break by term ascending; k truncates per doc."""
    from document_parser_spark.operators.text import tfidf_topk

    df = spark.createDataFrame(
        [
            (1, "common rare common"),
            (2, "common other"),
            (3, "common other"),
        ],
        "doc_id long, text string",
    )
    rows = [
        (r["doc_id"], r["word"], r["tf"], r["df"], r["score"], r["rank"])
        for r in tfidf_topk(df, k=2, scale=100).collect()
    ]
    # N=3. doc 1: rare tf=1 df=1 score=300; common tf=2 df=3 score=2*100=200
    assert rows[:2] == [(1, "rare", 1, 1, 300, 1), (1, "common", 2, 3, 200, 2)]
    # docs 2/3: common (100) vs other df=2 score=150 -> other first
    assert (2, "other", 1, 2, 150, 1) in rows and (2, "common", 1, 3, 100, 2) in rows


def test_tfidf_topk_drops_wordless_docs(spark):
    from document_parser_spark.operators.text import tfidf_topk

    df = spark.createDataFrame(
        [(1, "alpha beta"), (2, "   "), (3, "")], "doc_id long, text string"
    )
    got = tfidf_topk(df, k=3).collect()
    assert {r["doc_id"] for r in got} == {1}
