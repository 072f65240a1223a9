"""Similarity-path consistency: the fast native top-k (float math) must agree
with the integer-exact brute-force top-k on neighbor sets, and the LSH path must be
a subset-recall approximation of the exact path."""

import itertools
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from document_parser_spark.operators import similarity
from document_parser_spark.sources.session import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF, "embeddings").cache()


def _topk_map(rows):
    out = {}
    for r in rows:
        out.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"], r["cos_sim"]))
    return {q: sorted(v) for q, v in out.items()}


def test_fast_path_matches_exact_twin(spark, emb):
    q = emb.filter(F.col("vec_id") < 5)
    fast = _topk_map(similarity.brute_force_topk(emb, q, k=10).collect())
    exact = _topk_map(similarity.brute_force_topk_exact(emb, q, k=10).collect())
    assert set(fast) == set(exact)
    for qid in fast:
        assert [v for _, v, _ in fast[qid]] == [v for _, v, _ in exact[qid]], qid
        for (_, _, a), (_, _, b) in zip(fast[qid], exact[qid]):
            assert a == pytest.approx(b, rel=1e-6)


def test_lsh_results_subset_of_exact_candidates(spark, emb):
    """Every LSH neighbor must be a genuinely-scored vector (cos equal to the
    exact pairwise value) — LSH trades recall, never correctness of what it
    does return."""
    q = emb.filter(F.col("vec_id") < 3)
    lsh = similarity.lsh_bucketed_topk(emb, q, k=5).collect()
    assert len(lsh) > 0
    exact_all = {
        (r["query_id"], r["vec_id"]): r["cos_sim"]
        for r in similarity.brute_force_topk(emb, q, k=500).collect()
    }
    for r in lsh:
        key = (r["query_id"], r["vec_id"])
        assert key in exact_all
        assert r["cos_sim"] == pytest.approx(exact_all[key], rel=1e-6)


@pytest.mark.parametrize(
    "words, bits, n_vecs",
    [
        (similarity.BANDS, similarity.ROWS_PER_BAND, None),
        (similarity.SKETCH_PLANES // similarity.SKETCH_WORD_BITS, similarity.SKETCH_WORD_BITS, 50),
    ],
    ids=["bands", "sketch"],
)
def test_numpy_buckets_equal_column_buckets(spark, emb, words, bits, n_vecs):
    """The Arrow/numpy packed sign words — LSH band buckets and sketch words
    come from one kernel — must equal a pure-Python projection: bit j of
    word w is set iff Σᵢ floor(vᵢ·1e8)·plane_signs(w·bits+j)ᵢ > 0.  The
    512-plane sketch case checks the first 50 vectors to stay fast."""
    df = emb if n_vecs is None else emb.filter(F.col("vec_id") < n_vecs)
    dim = similarity.probe_dim(df)
    signs = [similarity.plane_signs(p, dim) for p in range(words * bits)]
    want = {}
    for row in df.collect():
        iv = [math.floor(float(x) * similarity.SCALE) for x in row["embedding"]]
        for w in range(words):
            want[(row["vec_id"], w)] = sum(
                1 << j
                for j in range(bits)
                if sum(x * s for x, s in zip(iv, signs[w * bits + j])) > 0
            )
    fast = {
        (r["id"], r["band"]): r["bucket"]
        for r in similarity.lsh_band_buckets(
            df, dim, bands=words, rows_per_band=bits
        ).collect()
    }
    assert fast == want and len(fast) == df.count() * words


def test_probe_dim_rejects_empty_frame(spark, emb):
    """An empty frame (an empty incremental shard, an empty corpus) has no
    dimension to probe: a ValueError naming the column, not a TypeError
    from int(None)."""
    with pytest.raises(ValueError, match="'embedding'.*empty"):
        similarity.probe_dim(emb.limit(0))
    with pytest.raises(ValueError, match="'embedding'.*empty"):
        similarity.ann_topk(emb.limit(0), emb.limit(1), k=5)


def test_near_dup_pairs_verified(spark, emb):
    out = similarity.cosine_near_dup_pairs(emb, threshold=0.3).collect()
    assert all(r["cos_sim"] >= 0.3 and r["id_a"] < r["id_b"] for r in out)
    assert len(out) == len({(r["id_a"], r["id_b"]) for r in out})


def test_near_dup_sketch_blocking_invariant_and_beats_lsh(spark, emb):
    """The block-pair grouping is a plan detail: the pair set must not
    depend on the block count, and the sketch candidate cutoff must find at
    least as many true pairs as banded-LSH candidates (pairs sharing a
    ``lsh_band_buckets`` bucket) do (measured at sf0.01: 14/14 exact pairs
    vs LSH's 11/14 — VERDICT r04 item 4)."""
    pairs = lambda rows: {(r["id_a"], r["id_b"]) for r in rows}
    sk1 = pairs(similarity.cosine_near_dup_pairs(emb, threshold=0.3, blocks=1).collect())
    sk8 = pairs(similarity.cosine_near_dup_pairs(emb, threshold=0.3, blocks=8).collect())
    sk3 = pairs(similarity.cosine_near_dup_pairs(emb, threshold=0.3, blocks=3).collect())
    assert sk1 == sk8 == sk3
    # max_hamming=512 admits EVERY pair → exact ground truth for this corpus
    truth = pairs(
        similarity.cosine_near_dup_pairs(
            emb, threshold=0.3, blocks=4, max_hamming=512
        ).collect()
    )
    buckets = {}
    for r in similarity.lsh_band_buckets(emb, similarity.probe_dim(emb)).collect():
        buckets.setdefault((r["band"], r["bucket"]), []).append(r["id"])
    lsh_cand = {
        (a, b)
        for ids in buckets.values()
        for a, b in itertools.combinations(sorted(ids), 2)
    }
    lsh = truth & lsh_cand
    # both generators under-approximate the truth; at the same verify
    # threshold the sketch cutoff must catch at least as many true pairs in
    # aggregate as the ~40%-fraction band join it replaced
    assert sk8 <= truth and len(lsh) > 0
    assert len(sk8) >= len(lsh)


def test_near_dup_arrow_impl_equals_join_twin(spark, emb):
    """The cogrouped-Arrow pair pass must return EXACTLY the pairs of a
    numpy all-pairs reference — sketch hamming ≤ the derived cutoff and
    int64 floor-scaled cosine ≥ threshold — ids AND the double cos_sim
    values, bit-for-bit."""
    threshold = 0.3
    rows = sorted((r["vec_id"], r["embedding"]) for r in emb.collect())
    ids = np.array([i for i, _ in rows], dtype=np.int64)
    iv = np.floor(
        np.array([v for _, v in rows], dtype=np.float64) * similarity.SCALE
    ).astype(np.int64)
    planes = similarity.SKETCH_PLANES
    signs = np.array(
        [similarity.plane_signs(p, iv.shape[1]) for p in range(planes)],
        dtype=np.int64,
    ).T
    bits = (iv @ signs) > 0
    norms = np.sqrt((iv * iv).sum(axis=1).astype(np.float64))
    cos = (iv @ iv.T).astype(np.float64) / np.outer(norms, norms)
    max_h = similarity.sketch_near_dup_max_hamming(threshold, planes)
    want = []
    for i in range(len(ids)):
        hamming = (bits[i] != bits[i + 1 :]).sum(axis=1)
        for off in np.nonzero((hamming <= max_h) & (cos[i, i + 1 :] >= threshold))[0]:
            j = i + 1 + off
            want.append((int(ids[i]), int(ids[j]), float(cos[i, j])))
    got = sorted(
        (r["id_a"], r["id_b"], r["cos_sim"])
        for r in similarity.cosine_near_dup_pairs(emb, threshold=threshold).collect()
    )
    assert got == sorted(want) and len(got) > 0


def test_ivf_topk_candidates_from_probed_lists(spark, emb):
    """IVF results must rank correctly within the probed lists and approach
    the exact top-k from below (recall ≤ 1, deterministic)."""
    q = emb.filter(F.col("vec_id") < 5)
    ivf = similarity.ivf_topk(emb, q, k=10, nlist=16, nprobe=4).collect()
    exact = similarity.brute_force_topk_exact(emb, q, k=10).collect()
    assert {r["query_id"] for r in ivf} == {r["query_id"] for r in exact}
    per_q = {}
    for r in ivf:
        per_q.setdefault(r["query_id"], []).append(r)
    for rows in per_q.values():
        ranks = [r["rank"] for r in sorted(rows, key=lambda r: r["rank"])]
        assert ranks == list(range(1, len(rows) + 1))
        sims = [r["cos_sim"] for r in sorted(rows, key=lambda r: r["rank"])]
        assert sims == sorted(sims, reverse=True)
    # probing every list (nprobe == nlist) must reproduce exact top-k
    full = similarity.ivf_topk(emb, q, k=10, nlist=16, nprobe=16).collect()
    assert {(r["query_id"], r["vec_id"]) for r in full} == {
        (r["query_id"], r["vec_id"]) for r in exact
    }


def test_sketch_topk_recall_and_full_rerank_exactness(spark, emb):
    """Hamming-sketch rerank: (a) at a 100% rerank fraction it IS the exact
    top-k; (b) at the default 10% it keeps high recall (the 512-bit sketch
    separates cos≈0.35 neighbors from the isotropic bulk)."""
    q = emb.filter(F.col("vec_id") < 5)
    exact = {(r["query_id"], r["vec_id"])
             for r in similarity.brute_force_topk_exact(emb, q, k=10).collect()}
    full = {(r["query_id"], r["vec_id"])
            for r in similarity.sketch_topk(emb, q, k=10, rerank_frac_pct=100).collect()}
    assert full == exact
    ten = {(r["query_id"], r["vec_id"])
           for r in similarity.sketch_topk(emb, q, k=10).collect()}
    assert len(ten & exact) / len(exact) >= 0.85


def test_kmeans_centroids_deterministic_and_refine(spark, emb):
    """The integer-exact Lloyd refinement is reproducible run-to-run and
    keeps exactly nlist centroids (empty lists keep their previous value)."""
    import numpy as np

    c1, m1 = similarity.ivf_centroids_kmeans(emb, nlist=8, iters=2)
    c2, m2 = similarity.ivf_centroids_kmeans(emb, nlist=8, iters=2)
    assert np.array_equal(c1, c2) and np.array_equal(m1, m2)
    assert m1.shape[0] == 8 and list(c1) == sorted(c1)


def _clustered_corpus(spark, n=1000, dim=32, n_clusters=10, noise=0.15, seed=7):
    """Deterministic synthetic CLUSTERED embeddings (the sf corpus is
    isotropic by construction, so partition-probing paths need their own
    fixture): unit-norm cluster centers, points = normalize(center + noise)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    pts = centers[np.arange(n) % n_clusters] + noise * rng.standard_normal((n, dim))
    pts /= np.linalg.norm(pts, axis=1, keepdims=True)
    rows = [(int(i), [float(x) for x in pts[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_ivf_sketch_composition_on_clustered_corpus(spark):
    """VERDICT r03 item 8: on a corpus that actually clusters, the
    IVF→sketch→exact composition holds recall ≥0.9 while exactly scoring a
    fraction BELOW either parent's budget (IVF exact-scores every probed
    member ≈ nprobe/nlist; flat sketch exact-scores RERANK_FRAC_PCT of the
    whole corpus and hamming-scans 100% of it)."""
    emb = _clustered_corpus(spark).cache()
    n = emb.count()
    q = emb.filter(F.col("vec_id") < 5)
    truth = {}
    for r in similarity.brute_force_topk_exact(emb, q, k=10).collect():
        truth.setdefault(r["query_id"], set()).add(r["vec_id"])
    hybrid = similarity.ivf_sketch_topk(emb, q, k=10).collect()
    got = {}
    for r in hybrid:
        got.setdefault(r["query_id"], set()).add(r["vec_id"])
    hits = sum(len(truth[qid] & got.get(qid, set())) for qid in truth)
    total = sum(len(v) for v in truth.values())
    recall = hits / total
    # cost dials (deterministic by construction, mirrored from the operator)
    nlist = similarity.ivf_nlist(n)
    nprobe = similarity.ivf_nprobe(nlist)
    expected_probed = (n * nprobe) // nlist
    m = max(40, (expected_probed * similarity.RERANK_FRAC_PCT + 99) // 100)
    scored_frac = m / n
    ivf_scored_frac = expected_probed / n          # parent 1 exact budget
    sketch_scored_frac = similarity.RERANK_FRAC_PCT / 100  # parent 2
    assert recall >= 0.9, f"hybrid recall {recall:.3f} on clustered corpus"
    assert scored_frac <= 0.05, scored_frac
    assert scored_frac < ivf_scored_frac
    assert scored_frac < sketch_scored_frac
    # sketch-scan volume: hybrid hamming-ranks only the probed fraction
    assert nprobe / nlist < 1.0


def test_ann_topk_facade_routes_and_validates(spark, emb):
    """ann_topk default == sketch_topk output; unknown methods fail loudly."""
    q = emb.filter(F.col("vec_id") < 3)
    via_facade = {(r["query_id"], r["vec_id"], r["rank"])
                  for r in similarity.ann_topk(emb, q, k=5).collect()}
    direct = {(r["query_id"], r["vec_id"], r["rank"])
              for r in similarity.sketch_topk(emb, q, k=5).collect()}
    assert via_facade == direct
    with pytest.raises(ValueError, match="unknown ANN method"):
        similarity.ann_topk(emb, q, method="hnsw")
