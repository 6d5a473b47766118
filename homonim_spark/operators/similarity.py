"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: exact brute-force top-k — the correctness baseline.
  Queries are broadcast (small side); the corpus side streams. Dot products
  are JVM-side ``F.zip_with`` + ``F.aggregate`` (no Python).
- ``lsh_topk`` / ``ivf_topk``: the scale paths — each query probes a few
  buckets (SRP signatures at Hamming ≤ 1, or the nearest IVF lists) and
  :func:`_rerank` scores only the corpus rows in them exactly.
- ``embedding_near_duplicates``: all pairs with cosine ≥ threshold via the
  same SRP bucketing (near-dup semantics for embedding-based dedup).

Deterministic: projection hyperplanes are seeded; ties in top-k rank break
by vec_id.

The batch-matrix stages (:func:`cosine_topk_np`, :func:`srp_buckets`,
:func:`ivf_topk`, :func:`_verify_candidates`) run through ``mapInArrow``:
each Arrow batch's embedding column is read as one float64 matrix
(:func:`_matrix`) and the outputs are built from Arrow arrays.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from homonim_spark.partitioning import rebalance


def _matrix(data, col: str) -> np.ndarray:
    """The ``list<float|double>`` column ``col`` of an Arrow record batch
    or table as an ``(n, dim)`` float64 matrix.  ``flatten`` honours a
    sliced batch's offset; a null row or rows of different lengths raise
    ``ValueError`` naming the column."""
    arr = data.column(col)
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if arr.null_count:
        raise ValueError(f"{col}: {arr.null_count} null embedding row(s)")
    lens = pc.list_value_length(arr).to_numpy()
    if len(lens) and lens.min() != lens.max():
        raise ValueError(f"{col}: rows of {lens.min()} to {lens.max()} elements, "
                         "not one dimension")
    flat = arr.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
    return flat.reshape(len(lens), int(lens[0]) if len(lens) else 0)


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))


def cosine_similarity(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """Keep each query's ``k`` best (query_id, neighbor_id, cosine) rows,
    ranked by cosine descending with ties broken by neighbor_id."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Exact top-k: broadcast the (small) query set against the corpus.

    Output: (query_id, neighbor_id, cosine, rank), self-matches excluded,
    rank ties broken by neighbor_id.
    """
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_vec")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id",
            cosine_similarity(F.col("q_vec"), F.col("c_vec")).alias("cosine"),
        )
    )
    return _top_k(scored, k).withColumn("cosine", F.round("cosine", 6))


def cosine_topk_np(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    round_dp: int = 6,
) -> DataFrame:
    """Exact top-k, BLAS scale path. Same output contract as ``cosine_topk``.

    The query set (small by contract) is collected and closure-broadcast as
    one numpy matrix; each Arrow batch of the corpus computes a single
    (batch × dim) @ (dim × n_q) GEMM instead of per-row higher-order
    functions — ~10-100× less per-element overhead, and the corpus is
    traversed once with NO shuffle of scored rows: each partition emits only
    its per-query top-k candidates (map-side combine for top-k), so the
    final exchange carries n_partitions × n_q × k rows regardless of corpus
    size. Ranking uses the *rounded* cosine with neighbor_id tie-break —
    the round-then-rank contract the DuckDB oracle implements.  Note this
    differs from ``cosine_topk``, which ranks on the unrounded cosine and
    rounds only the displayed value: two neighbors colliding at ``round_dp``
    may swap relative rank between the two paths.
    """
    qt = queries.select("vec_id", "embedding").toArrow()
    if not qt.num_rows:
        return corpus.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, cosine double, rank int")
    q_ids = np.asarray(qt.column("vec_id"), np.int64)
    Q = _matrix(qt, "embedding")
    q_norm = np.linalg.norm(Q, axis=1, keepdims=True)
    if np.any(q_norm == 0):
        raise ValueError("cosine_topk_np: zero-norm query vector(s) "
                         f"{q_ids[(q_norm == 0).ravel()].tolist()}")
    Qn = Q / q_norm
    n_q = len(q_ids)

    def part(batches):
        # running per-query candidate pools, merged batch-by-batch
        pool_ids = [np.empty(0, dtype=np.int64) for _ in range(n_q)]
        pool_scores = [np.empty(0, dtype=np.float64) for _ in range(n_q)]
        for b in batches:
            if not b.num_rows:
                continue
            ids = np.asarray(b.column("vec_id"), np.int64)
            C = _matrix(b, "embedding")
            c_norm = np.linalg.norm(C, axis=1, keepdims=True)
            # zero-norm corpus rows: cosine undefined → score 0, never NaN
            Cn = C / np.where(c_norm == 0.0, 1.0, c_norm)
            S = np.round(Cn @ Qn.T, round_dp)  # (batch, n_q)
            for j in range(n_q):
                s = S[:, j]
                keep = ids != q_ids[j]  # self-match exclusion
                cand_s = np.concatenate([pool_scores[j], s[keep]])
                cand_i = np.concatenate([pool_ids[j], ids[keep]])
                # total order (-score, id): global top-k == top-k of the
                # union of per-partition top-k under the same order
                order = np.lexsort((cand_i, -cand_s))[:k]
                pool_scores[j], pool_ids[j] = cand_s[order], cand_i[order]
        yield pa.RecordBatch.from_arrays(
            [pa.array(np.repeat(q_ids, [len(p) for p in pool_ids])),
             pa.array(np.concatenate(pool_ids)), pa.array(np.concatenate(pool_scores))],
            names=["query_id", "neighbor_id", "cosine"])

    # no scan rebalance here (unlike the LSH chain): the corpus pass is a
    # single light GEMM with map-side top-k and nothing heavy hangs off
    # the scan partitioning, so for a one-row-group (i.e. small) input the
    # round-robin exchange costs more than the single-task GEMM it
    # parallelizes (A/B at sf1.0: 0.48 s vs 0.64 s); large corpora arrive
    # multi-partition from the scan itself
    scored = corpus.select("vec_id", "embedding").mapInArrow(
        part, schema="query_id long, neighbor_id long, cosine double")
    return _top_k(scored, k)


def _rerank(c: DataFrame, q: DataFrame, key: str, k: int) -> DataFrame:
    """Exact top-k within probed buckets: broadcast the probe rows ``q``
    (query_id, q_vec, ``key``) onto the corpus rows ``c`` (neighbor_id,
    c_vec, ``key``), drop self-matches, score each pair with the cosine,
    keep one row per (query, neighbor) reached through several probes,
    then rank and round to 6 dp."""
    scored = (
        c.join(F.broadcast(q), key)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id",
                cosine_similarity(F.col("q_vec"), F.col("c_vec")).alias("cosine"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.first("cosine").alias("cosine"))
    )
    return _top_k(scored, k).withColumn("cosine", F.round("cosine", 6))


def _hamming1(bucket: Column, n_planes: int) -> Column:
    """``bucket`` followed by its ``n_planes`` one-bit flips: the SRP
    multi-probe set at Hamming distance ≤ 1 (all values distinct)."""
    return F.array(bucket, *[bucket.bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)])


def srp_buckets(df: DataFrame, vec_col: str, planes: np.ndarray,
                out_col: str = "bucket") -> DataFrame:
    """Append an SRP bucket column via one sign-GEMM per Arrow batch.

    The plane matrix travels in the UDF closure (broadcast once per
    executor), NOT as plan literals: the Catalyst plan is O(1) size at any
    (dim, n_planes) — at production dims (1024-4096 × 16+ planes) the
    literal-expression form is the same plan-explosion class as the fixed
    IVF CASE chain.  One (batch × dim) @ (dim × n_planes) BLAS product +
    a bit-pack replaces n_planes per-row ``aggregate`` passes."""
    P = np.ascontiguousarray(np.asarray(planes, dtype=np.float64).T)
    weights = (np.int64(1) << np.arange(P.shape[1], dtype=np.int64))
    schema = T.StructType([*df.schema.fields, T.StructField(out_col, T.LongType())])

    def bucketize(batches):
        for b in batches:
            if b.num_rows:
                X = _matrix(b, vec_col)
                yield b.append_column(out_col, pa.array(((X @ P) > 0).astype(np.int64) @ weights))

    return df.mapInArrow(bucketize, schema)


#: seed of the SRP hyperplanes; the gate's ann_lsh_topk oracle replays them
PLANE_SEED = 42


def make_planes(dim: int, n_planes: int = 8) -> np.ndarray:
    return np.random.default_rng(PLANE_SEED).standard_normal((n_planes, dim))


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
) -> DataFrame:
    """Approximate top-k: SRP bucket join + exact rerank within candidates.

    Multi-probe: each query also probes the ``n_planes`` buckets at Hamming
    distance 1 (one bit flipped), trading candidate volume for recall.
    At 100 TB the bucket join replaces the O(n·q) crossJoin with
    O(n·q·(n_planes + 1) / 2^n_planes) candidate volume.
    """
    planes = make_planes(dim, n_planes)
    c = srp_buckets(
        rebalance(corpus.select(F.col("vec_id").alias("neighbor_id"),
                                F.col("embedding").alias("c_vec"))),
        "c_vec", planes, "bucket")
    q = srp_buckets(
        queries.select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("q_vec")),
        "q_vec", planes, "q_bucket")
    q = q.withColumn("bucket", F.explode(_hamming1(F.col("q_bucket"), n_planes)))
    return _rerank(c, q, "bucket", k)


def train_ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    iters: int = 5,
    sample: int = 4096,
) -> np.ndarray:
    """IVF coarse quantizer: k-means on a deterministic sample.

    The sample is tiny (metadata-scale) so Lloyd iterations run as driver
    numpy — the expensive part (corpus assignment) stays distributed in
    :func:`ivf_topk`. Deterministic: seeded init, fixed iteration count,
    ties to the lower centroid id.

    Scale note: sampling is a deterministic *hash filter* (keep rows whose
    xxhash64 ≡ 0 mod ⌈n/4·sample⌉), NOT a global sort of the corpus — only
    the ~4·sample surviving rows are ordered (TakeOrdered top-k) to pin a
    reproducible sample independent of partitioning. At 100 TB this is one
    filtered scan; no corpus-wide shuffle or per-partition giant heaps.
    """
    h = F.crc32(F.col("embedding").cast("string"))
    n = corpus.count()
    keep_mod = max(1, n // (sample * 4))
    t = (corpus.select("embedding", h.alias("_h"))
         .filter(F.pmod(F.xxhash64(F.col("embedding").cast("string")),
                        F.lit(keep_mod)) == 0)
         .orderBy("_h").limit(sample).drop("_h").toArrow())
    if t.num_rows < min(sample, n):
        # duplicate-heavy / tiny corpora can underfill the hash filter —
        # fall back to the direct top-k pull (small by construction here)
        t = (corpus.select("embedding", h.alias("_h"))
             .orderBy("_h").limit(sample).drop("_h").toArrow())
    X = _matrix(t, "embedding")
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(42)
    C = X[rng.choice(len(X), size=min(n_centroids, len(X)), replace=False)]
    for _ in range(iters):
        sims = X @ C.T
        assign = np.argmax(sims, axis=1)
        for k in range(len(C)):
            m = assign == k
            if m.any():
                v = X[m].mean(axis=0)
                C[k] = v / max(np.linalg.norm(v), 1e-12)
    return C


def normalize_centroids(centroids: np.ndarray) -> np.ndarray:
    """The exact float64 unit-normalization ivf_topk applies to its
    centroid matrix — public so oracle builders embed literally the same
    values the executors receive (single source, no formula drift)."""
    C = np.asarray(centroids, dtype=np.float64)
    return C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """IVF approximate top-k: corpus rows are bucketed by nearest centroid
    (inverted file); each query probes its ``nprobe`` nearest lists and
    reranks exactly within them.

    At 100 TB the inverted file is the partition layout: candidate volume
    is corpus/n_centroids·nprobe per query instead of the full corpus.
    Assignment is an Arrow-batched GEMM argmax over a closure-broadcast
    centroid matrix — one (batch × dim) @ (dim × nlist) product per batch.
    (The round-2 plan-literal CASE chain exploded the Catalyst plan at
    realistic nlist ≥ 1024; the matrix form is O(1) plan size at any nlist.)
    """
    C = normalize_centroids(centroids)
    id_t = corpus.schema["vec_id"].dataType
    vec_t = corpus.schema["embedding"].dataType

    def _sims(b):
        X = _matrix(b, "embedding")
        n = np.linalg.norm(X, axis=1, keepdims=True)
        return (X / np.where(n == 0.0, 1.0, n)) @ C.T  # (batch, nlist)

    def assign_corpus(batches):
        for b in batches:
            if b.num_rows:
                lid = np.argmax(_sims(b), axis=1)  # ties → lower id, like the CASE chain
                yield pa.RecordBatch.from_arrays(
                    [b.column("vec_id"), b.column("embedding"), pa.array(lid.astype(np.int32))],
                    names=["neighbor_id", "c_vec", "list_id"])

    def probe_queries(batches):
        for b in batches:
            if b.num_rows:
                S = _sims(b)
                # per row: descending sim, ties → higher list id (the order
                # the reverse(array_sort(struct(s,i))) form produced)
                rank = np.broadcast_to(-np.arange(len(C)), S.shape)
                lid = np.lexsort((rank, -S), axis=1)[:, :nprobe]
                p = b.take(pa.array(np.repeat(np.arange(b.num_rows), lid.shape[1])))
                yield pa.RecordBatch.from_arrays(
                    [p.column("vec_id"), p.column("embedding"),
                     pa.array(lid.ravel().astype(np.int32))],
                    names=["query_id", "q_vec", "list_id"])

    def schema(id_name, vec_name):
        return T.StructType([T.StructField(id_name, id_t), T.StructField(vec_name, vec_t),
                             T.StructField("list_id", T.IntegerType())])

    c = rebalance(corpus.select("vec_id", "embedding")).mapInArrow(
        assign_corpus, schema("neighbor_id", "c_vec"))
    q = queries.select("vec_id", "embedding").mapInArrow(
        probe_queries, schema("query_id", "q_vec"))
    return _rerank(c, q, "list_id", k)


#: corpus sizes up to this many raw matrix bytes use the broadcast-matrix
#: candidate verification (one worker-cached numpy lookup, ids-only Arrow
#: traffic); larger corpora fall back to join-attach + vectorized cosine
VERIFY_BROADCAST_BYTES = 64 << 20


def embedding_near_duplicates(
    corpus: DataFrame,
    threshold: float = 0.95,
    dim: int | None = None,
    n_planes: int = 8,
    exact: bool = False,
) -> DataFrame:
    """All pairs (a < b) with cosine ≥ threshold.

    ``exact=True``: full self-join (small scale / oracle checking).
    ``exact=False``: SRP-bucketed self-join with Hamming-1 multi-probe —
    one side also probes every bucket at one bit flipped, so a near-dup pair
    is missed only when its signatures differ in ≥2 bits (probability
    ~(n·θ/π)² for cosine angle θ); candidates verified exactly.
    """
    c = corpus.select(F.col("vec_id").alias("vid"), F.col("embedding").alias("vec"))
    if exact:
        cr = rebalance(c)
        a, b = cr.alias("a"), c.alias("b")
        pairs = a.join(b, F.col("a.vid") < F.col("b.vid"))
    else:
        if dim is None:
            raise ValueError("dim required for bucketed mode")
        planes = make_planes(dim, n_planes)
        # Decide with small rows, move big rows once (guide §8): the
        # candidate join and pair-dedup shuffle ONLY (vid, bucket) /
        # (vid, vid) rows; the embedding payloads are re-attached
        # afterwards by vid.  The previous form carried both full vectors
        # through the bucket join and the dropDuplicates exchange —
        # ~2.6 GB shuffled at 20k×64-dim (2.5M candidate pairs) versus
        # ~40 MB of ids for the identical candidate set.
        sig = srp_buckets(rebalance(c), "vec", planes, "bucket") \
            .select("vid", "bucket")
        probes = sig.withColumn("bucket", F.explode(_hamming1(F.col("bucket"), n_planes)))
        # No pair-dedup needed: a pair (x, y) with bucket distance ≤ 1 is
        # emitted by EXACTLY one of x's 11 probe rows (the probe buckets
        # {b_x} ∪ {b_x ^ bit} are pairwise distinct and y's signature is a
        # single value), so the join output is already duplicate-free — the
        # former dropDuplicates was a full exchange of every candidate pair
        # for nothing.
        cand = (
            probes.alias("pa")
            .join(sig.alias("pb"),
                  (F.col("pa.bucket") == F.col("pb.bucket"))
                  & (F.col("pa.vid") < F.col("pb.vid")))
            .select(F.col("pa.vid").alias("_va"), F.col("pb.vid").alias("_vb"))
        )
        return _verify_candidates(c, cand, threshold, dim)
    return (
        pairs.select(
            F.col("a.vid").alias("vec_a"), F.col("b.vid").alias("vec_b"),
            cosine_similarity(F.col("a.vec"), F.col("b.vec")).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", F.round("cosine", 6).alias("cosine"))
    )


def _verify_candidates(c: DataFrame, cand: DataFrame, threshold: float,
                       dim: int) -> DataFrame:
    """Exact cosine verification of candidate id pairs, vectorized.

    The per-pair higher-order-function cosine (zip_with + three aggregate
    passes, interpreted) cost ~3.8 s of the 2.5M-candidate bench run; a
    numpy einsum verifies the same pairs in milliseconds of CPU.  Two
    shapes by corpus size (guide §8 "broadcast the plan" / attach rules):

    - corpus matrix ≤ ``VERIFY_BROADCAST_BYTES``: broadcast (ids, matrix)
      once per worker; only (vid, vid) id pairs cross Arrow, vectors never
      shuffle at all.
    - larger corpora: equi-join the two vector columns onto the id pairs
      (broadcast or shuffled join per planner/AQE) and compute the cosine
      batch-wise — still vectorized, no per-row lambda evaluation.

    Output contract identical to the HOF tail: unrounded-threshold filter,
    then ROUND(cosine, 6); cosine = dot / (|a|·|b|) in float64 (summation
    order differs from the sequential HOF aggregate by ≤1 ulp-scale
    rearrangement, invisible at 6 dp — verified pairwise over the bench
    corpus and pinned by tests against the exact path).
    """
    def kept(batch, A, B, na, nb):
        """The (_va, _vb) pairs of ``batch`` whose cosine reaches
        ``threshold``, with that cosine; ``A``/``B`` hold their vectors and
        ``na``/``nb`` the vector norms."""
        with np.errstate(invalid="ignore", divide="ignore"):
            cos = np.einsum("ij,ij->i", A, B) / (na * nb)
        keep = pa.array(cos >= threshold)  # NaN (zero-norm) compares False
        return pa.RecordBatch.from_arrays(
            [batch.column("_va").filter(keep), batch.column("_vb").filter(keep),
             pa.array(cos).filter(keep)], names=["vec_a", "vec_b", "cosine"])

    # ONE job decides the path AND fetches the matrix: collect up to
    # cap+1 rows (cap = rows that fit the broadcast budget at the declared
    # dim).  If the limit did not truncate, the collected table IS the
    # whole corpus; a 100 TB corpus stops the scan after cap+1 rows
    # instead of paying a full count.
    cap = max(1, VERIFY_BROADCAST_BYTES // (8 * dim))
    t = c.limit(cap + 1).toArrow()
    if 0 < t.num_rows <= cap:
        ids = np.asarray(t.column("vid"), np.int64)
        order = np.argsort(ids)
        ids_sorted, V_sorted = ids[order], _matrix(t, "vec")[order]
        norms = np.linalg.norm(V_sorted, axis=1)
        bc = c.sparkSession.sparkContext.broadcast((ids_sorted, V_sorted, norms))

        def verify(batches):
            ids_s, Vs, ns = bc.value
            for batch in batches:
                if batch.num_rows:
                    ia = np.searchsorted(ids_s, np.asarray(batch.column("_va"), np.int64))
                    ib = np.searchsorted(ids_s, np.asarray(batch.column("_vb"), np.int64))
                    yield kept(batch, Vs[ia], Vs[ib], ns[ia], ns[ib])

        pairs = cand
    else:
        def verify(batches):
            for batch in batches:
                if batch.num_rows:
                    A, B = _matrix(batch, "_vva"), _matrix(batch, "_vvb")
                    yield kept(batch, A, B, np.linalg.norm(A, axis=1), np.linalg.norm(B, axis=1))

        pairs = (
            cand
            .join(c.select(F.col("vid").alias("_va"), F.col("vec").alias("_vva")), "_va")
            .join(c.select(F.col("vid").alias("_vb"), F.col("vec").alias("_vvb")), "_vb")
        )
    kept_pairs = pairs.mapInArrow(verify, "vec_a long, vec_b long, cosine double")
    # ROUND outside the UDF: Spark's half-up semantics, matching the HOF
    # tail (np.round is half-even)
    return kept_pairs.select("vec_a", "vec_b", F.round("cosine", 6).alias("cosine"))
