"""Tests for text-analysis / dedup / similarity operators with in-line
pandas oracles on planted fixtures."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from homonim_spark.operators import dedup, similarity, textops


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        ("d0", "the quick brown fox jumps over the lazy dog"),
        ("d1", "the quick brown fox jumps over the lazy dog"),          # exact dup of d0
        ("d2", "The  quick Brown fox jumps over the lazy dog "),        # normalized dup of d0
        ("d3", "the quick brown fox jumps over the sleepy dog"),        # near-dup
        ("d4", "completely different content about spark engines"),
        ("d5", ""),
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"])).cache()


def test_token_count_and_profile(spark, docs):
    out = textops.text_profile(docs).toPandas().set_index("doc_id")
    assert out.loc["d0", "n_tokens"] == 9
    assert out.loc["d5", "n_tokens"] == 0
    assert out.loc["d0", "lang_pred"] == "en"
    assert out.loc["d4", "stopword_ratio"] == pytest.approx(0.0)
    assert 0 <= out.loc["d0", "quality"] <= 1
    # normalized dup shares the fingerprint
    assert out.loc["d0", "fingerprint"] == out.loc["d2", "fingerprint"]
    assert out.loc["d0", "fingerprint"] != out.loc["d3", "fingerprint"]


def test_exact_dedup(spark, docs):
    kept = dedup.dedup_exact(docs).toPandas()
    assert len(kept) == 4  # d0 survives, d1/d2 dropped


def test_jaccard_pairs_inverted_index(spark, docs):
    out = dedup.jaccard_pairs(docs, n=3, threshold=0.5).toPandas()
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in out.itertuples(index=False)}
    # exact dups: jaccard 1.0
    assert pairs[("d0", "d1")] == pytest.approx(1.0)
    assert pairs[("d0", "d2")] == pytest.approx(1.0)
    # near-dup d3 vs d0: 7 shingles each, 5 shared ('sleepy' breaks 2)
    assert ("d0", "d3") in pairs
    got = pairs[("d0", "d3")]
    assert got == pytest.approx(5 / 9, abs=1e-6)
    assert ("d0", "d4") not in pairs


def test_minhash_lsh_finds_near_dups(spark, docs):
    out = dedup.minhash_near_duplicates(docs, threshold=0.3).toPandas()
    pairs = {(r.doc_a, r.doc_b) for r in out.itertuples(index=False)}
    assert ("d0", "d1") in pairs and ("d0", "d2") in pairs and ("d0", "d3") in pairs
    assert all("d4" not in p for p in pairs)


def test_simhash_near_duplicates(spark, docs):
    out = dedup.simhash_near_duplicates(docs, max_hamming=3).toPandas()
    pairs = {(r.doc_a, r.doc_b) for r in out.itertuples(index=False)}
    # exact dups have identical simhash (hamming 0)
    assert ("d0", "d1") in pairs and ("d0", "d2") in pairs
    assert all("d4" not in p[0] + p[1] for p in pairs)


def test_simhash_md5_hash_fn_same_exact_dups(spark, docs):
    """The cross-engine md5 token hash (first 16 md5 hex chars, big-endian
    int64) must preserve the semantics the xxhash64 default pins: exact
    dups at hamming 0, unrelated docs absent.  Near-dup pair sets may
    differ between hash functions (different random projections)."""
    out = dedup.simhash_near_duplicates(docs, max_hamming=3,
                                        hash_fn="md5").toPandas()
    pairs = {(r.doc_a, r.doc_b): r.hamming
             for r in out.itertuples(index=False)}
    assert pairs[("d0", "d1")] == 0 and pairs[("d0", "d2")] == 0
    assert all("d4" not in a + b for a, b in pairs)


@pytest.mark.parametrize("max_hamming", [0, 3, 4])
def test_simhash_chunks_cover_max_hamming(spark, max_hamming):
    """Pigeonhole banding needs more chunks than ``max_hamming``: with a
    fixed 4 chunks, this md5 pair at Hamming 4 (one differing bit per
    16-bit chunk) shared no chunk and was never a candidate."""
    a = ("tile river field kernel kernel landsat calibration offset shadow "
         "ortho drone reflectance")
    docs = spark.createDataFrame(
        [("a", a), ("b", a.replace("drone", "river"))], "doc_id string, text string")
    out = dedup.simhash_near_duplicates(docs, max_hamming=max_hamming,
                                        hash_fn="md5").toPandas()
    got = [tuple(r) for r in out[["doc_a", "doc_b", "hamming"]].values.tolist()]
    assert got == ([("a", "b", 4)] if max_hamming >= 4 else [])


def test_md5_hash64_matches_reference_bits(spark):
    """Pin the md5→int64 construction (hex chars 1-16, big-endian, two's
    complement) against Python's hashlib so the DuckDB oracle's nibble
    arithmetic and the Spark expression can never drift apart silently."""
    import hashlib
    toks = ["hello", "", "Zebra9", "a b"]
    df = spark.createDataFrame([(t,) for t in toks], "t string")
    got = {r.t: r.h for r in df.select(
        "t", dedup._md5_hash64(F.col("t")).alias("h")).collect()}
    for t in toks:
        v = int(hashlib.md5(t.encode()).hexdigest()[:16], 16)
        if v >= 1 << 63:
            v -= 1 << 64
        assert got[t] == v, t


def test_vocabulary_and_length_histogram(spark, docs):
    vocab = textops.vocabulary_stats(docs, top_k=5).toPandas()
    top = vocab.iloc[0]
    assert top["word"] == "the"      # appears in d0..d3 (df=4, tf=8)
    assert top["df"] == 4 and top["tf"] == 8
    hist = textops.length_histogram(docs, bucket=10).toPandas()
    assert hist["n_docs"].sum() == 6
    assert hist[hist.bucket == 0]["n_docs"].iloc[0] >= 1  # the empty doc


def test_ivf_topk_recalls_near_duplicate(spark):
    rng = np.random.default_rng(11)
    base = rng.standard_normal((40, 16)).astype(np.float32)
    base[1] = base[0] + 0.01 * rng.standard_normal(16).astype(np.float32)
    rows = [(i, [float(x) for x in base[i]]) for i in range(40)]
    vecs = spark.createDataFrame(pd.DataFrame(rows, columns=["vec_id", "embedding"])).cache()
    C = similarity.train_ivf_centroids(vecs, n_centroids=4, iters=3)
    assert C.shape == (4, 16)
    out = similarity.ivf_topk(vecs, vecs.filter(F.col("vec_id") == 0), C,
                              k=1, nprobe=2).toPandas()
    assert list(out["neighbor_id"]) == [1]  # the planted near-dup is found


def test_ivf_topk_realistic_nlist_plan_stays_bounded(spark):
    """n_centroids=256 (the round-2 plan-literal CASE chain exploded here):
    the GEMM-argmax assignment must keep the plan free of per-centroid
    branches and still recall the planted near-dup."""
    rng = np.random.default_rng(13)
    base = rng.standard_normal((300, 16)).astype(np.float32)
    base[1] = base[0] + 0.01 * rng.standard_normal(16).astype(np.float32)
    rows = [(i, [float(x) for x in base[i]]) for i in range(300)]
    vecs = spark.createDataFrame(pd.DataFrame(rows, columns=["vec_id", "embedding"])).cache()
    C = similarity.train_ivf_centroids(vecs, n_centroids=256, iters=2)
    out_df = similarity.ivf_topk(vecs, vecs.filter(F.col("vec_id") == 0), C,
                                 k=1, nprobe=8)
    plan = out_df._jdf.queryExecution().optimizedPlan().toString()
    assert "CASE WHEN" not in plan  # no per-centroid branch chain
    out = out_df.toPandas()
    assert list(out["neighbor_id"]) == [1]


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(7)
    base = rng.standard_normal((6, 16)).astype(np.float32)
    base[1] = base[0] + 0.01 * rng.standard_normal(16).astype(np.float32)  # near-dup of 0
    rows = [(i, [float(x) for x in base[i]]) for i in range(6)]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["vec_id", "embedding"])).cache()


def test_cosine_topk_matches_numpy(spark, vectors):
    pdf = vectors.toPandas().sort_values("vec_id")
    mat = np.array(pdf["embedding"].tolist())
    sims = (mat @ mat.T) / (np.linalg.norm(mat, axis=1)[:, None] * np.linalg.norm(mat, axis=1)[None, :])
    out = similarity.cosine_topk(vectors, vectors.filter(F.col("vec_id") == 0), k=3).toPandas()
    want_order = np.argsort(-sims[0] + np.where(np.arange(6) == 0, 1e9, 0))[:3]
    assert list(out.sort_values("rank")["neighbor_id"]) == [int(i) for i in want_order]
    for r in out.itertuples(index=False):
        assert r.cosine == pytest.approx(sims[0, r.neighbor_id], abs=1e-4)


def test_lsh_topk_recalls_near_duplicate(spark, vectors):
    out = similarity.lsh_topk(vectors, vectors.filter(F.col("vec_id") == 0),
                              dim=16, k=1, n_planes=6).toPandas()
    # the planted near-duplicate (vec 1, cosine ~1) must be found
    assert list(out["neighbor_id"]) == [1]


def test_lsh_topk_high_dim_plan_stays_bounded(spark):
    """dim=1024 / 16 planes (the round-3 plan-literal hazard scale): the
    sign-GEMM bucketing must keep the plan free of per-plane literal
    arrays / aggregate chains and still recall the planted near-dup."""
    rng = np.random.default_rng(31)
    base = rng.standard_normal((60, 1024)).astype(np.float32)
    base[1] = base[0] + 0.01 * rng.standard_normal(1024).astype(np.float32)
    rows = [(i, [float(x) for x in base[i]]) for i in range(60)]
    vecs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"])).cache()
    out_df = similarity.lsh_topk(vecs, vecs.filter(F.col("vec_id") == 0),
                                 dim=1024, k=1, n_planes=16)
    plan = out_df._jdf.queryExecution().optimizedPlan().toString()
    # the literal-plane form folded 16 x 1024 float literals into the plan
    # (hundreds of KB); the GEMM form's plan is O(1) in dim x planes
    assert len(plan) < 50_000, f"plan blew up: {len(plan)} chars"
    out = out_df.toPandas()
    assert list(out["neighbor_id"]) == [1]
    nd = similarity.embedding_near_duplicates(
        vecs, threshold=0.95, exact=False, dim=1024, n_planes=16).toPandas()
    assert (0, 1) in set(map(tuple, nd[["vec_a", "vec_b"]].values.tolist()))


def test_embedding_near_duplicates_exact_vs_bucketed(spark, vectors):
    exact = similarity.embedding_near_duplicates(vectors, threshold=0.95, exact=True).toPandas()
    assert set(map(tuple, exact[["vec_a", "vec_b"]].values.tolist())) == {(0, 1)}
    bucketed = similarity.embedding_near_duplicates(
        vectors, threshold=0.95, exact=False, dim=16, n_planes=4).toPandas()
    assert set(map(tuple, bucketed[["vec_a", "vec_b"]].values.tolist())) == {(0, 1)}


def test_embedding_near_duplicates_large_corpus_verify_path(spark, monkeypatch):
    """The join-attach verification (corpus matrix over the broadcast
    budget) returns exactly what the broadcast-matrix verification returns,
    and only pairs the exact self-join also finds."""
    rng = np.random.default_rng(5)
    base = rng.standard_normal((200, 16)).astype(np.float32)
    rows = [(i, [float(x) for x in base[i]]) for i in range(200)]
    vecs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"])).repartition(4).cache()

    def run(**kw):
        out = similarity.embedding_near_duplicates(vecs, threshold=0.5, **kw).toPandas()
        return sorted(map(tuple, out[["vec_a", "vec_b", "cosine"]].values.tolist()))

    broadcast = run(exact=False, dim=16, n_planes=4)
    exact = run(exact=True)
    monkeypatch.setattr(similarity, "VERIFY_BROADCAST_BYTES", 1)
    joined = run(exact=False, dim=16, n_planes=4)
    assert joined and joined == broadcast
    assert set(joined) <= set(exact)


def test_cosine_topk_np_matches_hof_path(spark):
    # larger multi-partition corpus: exercises the per-partition partial
    # top-k merge; planted exact duplicates exercise the neighbor_id
    # tie-break at equal (rounded) cosine
    rng = np.random.default_rng(23)
    base = rng.standard_normal((200, 16)).astype(np.float32)
    base[50] = base[0]          # exact dup of 0 -> cosine tie with itself
    base[51] = base[0]          # second exact dup -> tie among neighbors
    rows = [(i, [float(x) for x in base[i]]) for i in range(200)]
    vecs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"])).repartition(8).cache()
    queries = vecs.filter(F.col("vec_id") < 5)
    hof = (similarity.cosine_topk(vecs, queries, k=4)
           .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True))
    blas = (similarity.cosine_topk_np(vecs, queries, k=4)
            .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True))
    assert list(hof["neighbor_id"]) == list(blas["neighbor_id"])
    assert list(hof["query_id"]) == list(blas["query_id"])
    assert np.allclose(hof["cosine"], blas["cosine"], atol=1e-6)


def test_matrix_reads_sliced_batches_and_rejects_null_or_ragged_rows():
    """``similarity._matrix`` reads the rows of a sliced batch (offset ≠ 0)
    and names the column when a row is null or the rows differ in length."""
    import pyarrow as pa
    vecs = pa.array([[1, 2], [3, 4], [5, 6], [7, 8]], pa.list_(pa.float32()))
    batch = pa.record_batch([pa.array([0, 1, 2, 3]), vecs], names=["vec_id", "embedding"])
    sliced = batch.slice(1, 2)
    assert sliced.column(1).offset == 1
    got = similarity._matrix(sliced, "embedding")
    assert got.dtype == np.float64
    np.testing.assert_array_equal(got, [[3, 4], [5, 6]])
    for bad in ([[1.0, 2.0], None], [[1.0, 2.0], [3.0]]):
        b = pa.record_batch([pa.array(bad, pa.list_(pa.float64()))], names=["emb_bad"])
        with pytest.raises(ValueError, match="emb_bad"):
            similarity._matrix(b, "emb_bad")


def test_duplicate_heavy_corpus_no_bucket_blowup(spark):
    """1k exact-duplicate docs: collapse-before-LSH keeps candidate volume
    at 1 representative per distinct text (VERDICT r01 scale hazard #3).
    Output still enumerates every member pair at jaccard 1.0 / hamming 0."""
    import time
    rows = [(f"dup{i:04d}", "same exact text repeated many times over") for i in range(1000)]
    rows += [(f"uniq{i}", f"unique document number {i} with its own words {i * 7}") for i in range(20)]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))

    t0 = time.perf_counter()
    out = dedup.minhash_near_duplicates(docs, threshold=0.8)
    # plan hygiene: no cartesian product / broadcast nested loop anywhere
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    n = out.count()
    dt = time.perf_counter() - t0
    assert n == 1000 * 999 // 2  # all member pairs of the dup cluster
    assert dt < 120, f"duplicate cluster took {dt:.1f}s — bucket blowup?"

    sim = dedup.simhash_near_duplicates(docs, max_hamming=3)
    assert sim.filter("hamming = 0").count() == 1000 * 999 // 2


def test_minhash_collapse_expand_matches_direct_semantics(spark, docs):
    """Collapsed pipeline output == per-pair exact jaccard >= threshold."""
    out = dedup.minhash_near_duplicates(docs, threshold=0.3).toPandas()
    direct = dedup.jaccard_pairs(docs, n=3, threshold=0.3).toPandas()
    key = lambda df: sorted(map(tuple, df[["doc_a", "doc_b", "jaccard"]].values))
    assert key(out) == key(direct)


def test_train_ivf_centroids_no_global_sort(spark):
    """IVF sampling is a hash filter + small top-k, not a corpus-wide sort."""
    rng = np.random.default_rng(0)
    pdf = pd.DataFrame({
        "vec_id": range(512),
        "embedding": [rng.normal(size=8).tolist() for _ in range(512)],
    })
    vecs = spark.createDataFrame(pdf)
    C1 = similarity.train_ivf_centroids(vecs, n_centroids=4, iters=3, sample=128)
    C2 = similarity.train_ivf_centroids(vecs.repartition(7), n_centroids=4,
                                        iters=3, sample=128)
    assert np.allclose(C1, C2)  # deterministic across partitioning


def test_duplicate_clusters_transitive_and_collapse(spark):
    """Connected components over near-dup pairs: transitivity (a~b, b~c ⇒
    one cluster even without the a-c pair), a 12-hop chain (pointer
    jumping must converge well under the iteration cap)."""
    import pandas as pd

    from homonim_spark.operators.dedup import duplicate_clusters

    chain = [(f"c{i:02d}", f"c{i + 1:02d}") for i in range(12)]  # c00..c12
    pairs = pd.DataFrame(chain + [("a", "b"), ("b", "z"), ("p", "q")],
                         columns=["doc_a", "doc_b"])
    out = duplicate_clusters(spark.createDataFrame(pairs)).toPandas() \
        .set_index("doc_id")["cluster_id"]
    assert out["a"] == out["b"] == out["z"] == "a"      # transitive via b
    assert out["p"] == out["q"] == "p"
    for i in range(13):
        assert out[f"c{i:02d}"] == "c00"                # 12-hop chain


def test_content_chunks_position_invariant_passage(spark):
    """THE content-defined-chunking property: a long shared passage
    produces identical chunk fingerprints in every document containing
    it, regardless of where it appears — fixed-stride shingles break
    under shifts, CDC does not."""
    passage = ("the quick brown fox jumps over the lazy dog while "
               "seventeen astronomers catalogued variable stars in "
               "the southern sky and the tide tables were reprinted "
               "for every harbour on the eastern seaboard of the continent")
    d0 = "intro words here. " + passage + " closing remark."
    d1 = ("a completely different and much longer preamble about nothing "
          "in particular that shifts every offset " + passage +
          " with another ending entirely.")
    d2 = "no shared content at all, just some unrelated filler text."
    docs = spark.createDataFrame(
        [(0, d0), (1, d1), (2, d2)], "doc_id long, text string")
    ch = dedup.content_chunks(docs).toPandas()
    fps = {i: set(ch[ch.doc_id == i]["chunk_fp"]) for i in range(3)}
    shared01 = fps[0] & fps[1]
    assert len(shared01) >= 2        # interior passage chunks align
    assert not (fps[0] & fps[2]) and not (fps[1] & fps[2])

    pairs = dedup.passage_overlap_pairs(docs).toPandas()
    assert [(r.doc_a, r.doc_b) for r in pairs.itertuples(index=False)] \
        == [(0, 1)]


def test_content_chunks_cover_text_and_short_docs(spark):
    """Chunks partition the normalized text exactly (lengths sum to the
    text length, indices contiguous); sub-window docs yield one chunk."""
    docs = spark.createDataFrame(
        [(0, "  Many   Spaces   normalise  Here  before chunking begins "
             "and the rolling hash sees one canonical form of the text"),
         (1, "tiny doc"), (2, None), (3, "   ")],
        "doc_id long, text string")
    ch = dedup.content_chunks(docs).toPandas()
    assert set(ch.doc_id) == {0, 1}          # NULL and whitespace skipped
    g0 = ch[ch.doc_id == 0].sort_values("chunk_idx")
    norm0 = " ".join("  Many   Spaces   normalise  Here  before chunking "
                     "begins and the rolling hash sees one canonical form "
                     "of the text".lower().split())
    assert g0["chunk_len"].sum() == len(norm0)
    assert list(g0["chunk_idx"]) == list(range(len(g0)))
    g1 = ch[ch.doc_id == 1]
    assert len(g1) == 1 and g1.iloc[0]["chunk_len"] == len("tiny doc")


def test_content_chunks_slice_seam_on_long_doc(spark):
    """A document spanning multiple 65536-window hash slices must chunk
    identically to a direct single-pass computation (seam regression for
    the bounded-memory gather).  The fingerprint reference is an
    INDEPENDENT per-chunk Horner fold in plain python — pinning the
    vectorized prefix-sum identity used by the engine."""
    rng = np.random.default_rng(3)
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]
    t = " ".join(rng.choice(words, size=14000))        # ~80k chars
    docs = spark.createDataFrame([(0, t)], "doc_id long, text string")
    got = (dedup.content_chunks(docs).toPandas()
           .sort_values("chunk_idx")["chunk_fp"].tolist())

    # direct reference: one unsliced pass of the same arithmetic
    norm = " ".join(t.lower().strip().split())
    codes = np.frombuffer(norm.encode("utf-32-le"), dtype="<u4").astype(np.int64)
    ppow = np.asarray(dedup._cdc_ppow(), dtype=np.int64)
    idx = np.arange(len(norm) - 16 + 1)[:, None] + np.arange(16)[None, :]
    hv = ((codes[idx] * ppow[None, :]) % 2147483647).sum(axis=1) % 2147483647
    cuts = np.nonzero(hv % 64 == 0)[0] + 16
    bounds = sorted({0, len(norm), *cuts.tolist()})

    def horner(s, q, M):
        acc = 0
        for ch in s:
            acc = (acc * q + ord(ch)) % M
        return acc

    (q1, m1), (q2, m2) = dedup._CDC_FP
    want = [horner(norm[a:b], q1, m1) * 2**31 + horner(norm[a:b], q2, m2)
            for a, b in zip(bounds, bounds[1:]) if b > a]
    assert len(got) > 100 and got == want


def test_content_chunks_normalization_matches_engine_regex(spark):
    """ADVICE #5: CDC normalization follows normalize_text's regex
    semantics (java \\s = [ \\t\\n\\x0b\\f\\r]), NOT python str.split —
    exotic unicode whitespace (\\u2028, \\x1c) is an ordinary character
    and must survive into the chunk stream."""
    t = "alpha beta\x1cgamma  delta\tepsilon"
    docs = spark.createDataFrame([(0, t)], "doc_id long, text string")
    ch = dedup.content_chunks(docs).toPandas()
    # java-\s collapse: "  " -> " ", "\t" -> " ";   and \x1c remain
    norm = "alpha beta\x1cgamma delta epsilon"
    assert ch["chunk_len"].sum() == len(norm)
