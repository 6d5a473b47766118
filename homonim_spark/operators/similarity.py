"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: exact brute-force top-k — the correctness baseline.
  Queries are broadcast (small side); the corpus side streams. Dot products
  are JVM-side ``F.zip_with`` + ``F.aggregate`` (no Python).
- ``lsh_topk``: the scale path — sign-random-projection (SRP) bucketing with
  multi-probe; candidates only within matching buckets, then exact rerank.
- ``embedding_near_duplicates``: all pairs with cosine ≥ threshold via the
  same bucketing (near-dup semantics for embedding-based dedup).

Deterministic: projection hyperplanes are seeded; ties in top-k rank break
by vec_id.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from homonim_spark.partitioning import rebalance


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


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k: broadcast the (small) query set against the corpus.

    Output: (query_id, neighbor_id, cosine, rank), self-matches excluded,
    rank ties broken by neighbor_id.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id",
            cosine_similarity(F.col("q_vec"), F.col("c_vec")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank")
    )


def cosine_topk_np(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
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
    q_rows = queries.select(id_col, vec_col).collect()
    if not q_rows:
        return corpus.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, cosine double, rank int")
    q_ids = np.asarray([r[0] for r in q_rows], dtype=np.int64)
    Q = np.asarray([list(r[1]) for r in q_rows], dtype=np.float64)
    q_norm = np.linalg.norm(Q, axis=1, keepdims=True)
    if np.any(q_norm == 0):
        raise ValueError("cosine_topk_np: zero-norm query vector(s) "
                         f"{q_ids[(q_norm == 0).ravel()].tolist()}")
    Qn = Q / q_norm
    n_q = len(q_ids)

    def part(batches):
        import pandas as pd

        # running per-query candidate pools, merged batch-by-batch
        pool_ids = [np.empty(0, dtype=np.int64) for _ in range(n_q)]
        pool_scores = [np.empty(0, dtype=np.float64) for _ in range(n_q)]
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            C = np.asarray(list(pdf[vec_col]), dtype=np.float64)
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
        out = {
            "query_id": np.repeat(q_ids, [len(p) for p in pool_ids]),
            "neighbor_id": np.concatenate(pool_ids) if n_q else np.empty(0, np.int64),
            "cosine": np.concatenate(pool_scores) if n_q else np.empty(0, np.float64),
        }
        yield pd.DataFrame(out)

    # no scan rebalance here (unlike the LSH chain): the corpus pass is a
    # single light GEMM with map-side top-k and nothing heavy hangs off
    # the scan partitioning, so for a one-row-group (i.e. small) input the
    # round-robin exchange costs more than the single-task GEMM it
    # parallelizes (A/B at sf1.0: 0.48 s vs 0.64 s); large corpora arrive
    # multi-partition from the scan itself
    scored = corpus.select(id_col, vec_col).mapInPandas(
        part, schema="query_id long, neighbor_id long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def srp_buckets(df: DataFrame, vec_col: str, planes: np.ndarray,
                out_col: str = "bucket") -> DataFrame:
    """Append an SRP bucket column via one sign-GEMM per Arrow batch.

    The plane matrix travels in the UDF closure (broadcast once per
    executor), NOT as plan literals: the Catalyst plan is O(1) size at any
    (dim, n_planes) — at production dims (1024-4096 × 16+ planes) the
    literal-expression form is the same plan-explosion class as the fixed
    IVF CASE chain.  One (batch × dim) @ (dim × n_planes) BLAS product +
    a bit-pack replaces n_planes per-row ``aggregate`` passes."""
    import pandas as pd

    P = np.ascontiguousarray(np.asarray(planes, dtype=np.float64).T)
    weights = (np.int64(1) << np.arange(P.shape[1], dtype=np.int64))
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in df.schema.fields) + f", {out_col} long"

    def bucketize(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            pdf = pdf.copy()
            pdf[out_col] = ((X @ P) > 0).astype(np.int64) @ weights
            yield pdf

    return df.mapInPandas(bucketize, schema=schema)


def make_planes(dim: int, n_planes: int = 8, seed: int = 42) -> np.ndarray:
    return np.random.default_rng(seed).standard_normal((n_planes, dim))


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    probe_bits: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: SRP bucket join + exact rerank within candidates.

    Multi-probe: each query also probes all buckets at Hamming distance
    ≤ ``probe_bits`` (flip one bit), trading candidate volume for recall.
    At 100 TB the bucket join replaces the O(n·q) crossJoin with
    O(n·q / 2^{n_planes−probe cost}) candidate volume.
    """
    planes = make_planes(dim, n_planes, seed)
    c = srp_buckets(
        rebalance(corpus.select(F.col(id_col).alias("neighbor_id"),
                                F.col(vec_col).alias("c_vec"))),
        "c_vec", planes, "bucket")
    q = srp_buckets(
        queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("q_vec")),
        "q_vec", planes, "q_bucket")
    probes = [F.col("q_bucket")]
    if probe_bits >= 1:
        probes += [F.col("q_bucket").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)]
    q = q.withColumn("bucket", F.explode(F.array(*probes)))
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id",
            cosine_similarity(F.col("q_vec"), F.col("c_vec")).alias("cosine"),
        )
        .groupBy("query_id", "neighbor_id")
        .agg(F.first("cosine").alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank")
    )


def train_ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    iters: int = 5,
    vec_col: str = "embedding",
    sample: int = 4096,
    seed: int = 42,
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
    h = F.crc32(F.col(vec_col).cast("string"))
    n = corpus.count()
    keep_mod = max(1, n // (sample * 4))
    pdf = (corpus.select(vec_col, h.alias("_h"))
           .filter(F.pmod(F.xxhash64(F.col(vec_col).cast("string")),
                          F.lit(keep_mod)) == 0)
           .orderBy("_h").limit(sample).drop("_h").toPandas())
    if len(pdf) < min(sample, n):
        # duplicate-heavy / tiny corpora can underfill the hash filter —
        # fall back to the direct top-k pull (small by construction here)
        pdf = (corpus.select(vec_col, h.alias("_h"))
               .orderBy("_h").limit(sample).drop("_h").toPandas())
    X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
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
    id_col: str = "vec_id",
    vec_col: str = "embedding",
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
    import pandas as pd

    C = normalize_centroids(centroids)

    id_t = corpus.schema[id_col].dataType.simpleString()
    vec_t = corpus.schema[vec_col].dataType.simpleString()

    def _normed(pdf):
        X = np.asarray(list(pdf[vec_col]), dtype=np.float64)
        n = np.linalg.norm(X, axis=1, keepdims=True)
        return X / np.where(n == 0.0, 1.0, n)

    def assign_corpus(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            lid = np.argmax(_normed(pdf) @ C.T, axis=1)  # ties → lower id,
            yield pd.DataFrame({                         # like the CASE chain
                "neighbor_id": pdf[id_col].to_numpy(),
                "c_vec": pdf[vec_col],
                "list_id": lid.astype(np.int32),
            })

    def probe_queries(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            S = _normed(pdf) @ C.T  # (n_q, nlist)
            rows = {"query_id": [], "q_vec": [], "list_id": []}
            for r in range(len(pdf)):
                # descending sim, ties → higher list id (the order the
                # reverse(array_sort(struct(s,i))) form produced)
                order = np.lexsort((-np.arange(len(C)), -S[r]))[:nprobe]
                for lid in order:
                    rows["query_id"].append(pdf[id_col].iloc[r])
                    rows["q_vec"].append(pdf[vec_col].iloc[r])
                    rows["list_id"].append(int(lid))
            yield pd.DataFrame(rows)

    c = rebalance(corpus.select(id_col, vec_col)).mapInPandas(
        assign_corpus, schema=f"neighbor_id {id_t}, c_vec {vec_t}, list_id int")
    q = queries.select(id_col, vec_col).mapInPandas(
        probe_queries, schema=f"query_id {id_t}, q_vec {vec_t}, list_id int")
    scored = (
        c.join(F.broadcast(q), "list_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id",
                cosine_similarity(F.col("q_vec"), F.col("c_vec")).alias("cosine"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.first("cosine").alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank")
    )


#: corpus sizes up to this many raw matrix bytes use the broadcast-matrix
#: candidate verification (one worker-cached numpy lookup, ids-only Arrow
#: traffic); larger corpora fall back to join-attach + vectorized cosine
VERIFY_BROADCAST_BYTES = 64 << 20


def embedding_near_duplicates(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    n_planes: int = 8,
    exact: bool = False,
    seed: int = 42,
    verify_broadcast_bytes: int = VERIFY_BROADCAST_BYTES,
) -> DataFrame:
    """All pairs (a < b) with cosine ≥ threshold.

    ``exact=True``: full self-join (small scale / oracle checking).
    ``exact=False``: SRP-bucketed self-join with Hamming-1 multi-probe —
    one side also probes every bucket at one bit flipped, so a near-dup pair
    is missed only when its signatures differ in ≥2 bits (probability
    ~(n·θ/π)² for cosine angle θ); candidates verified exactly.
    """
    c = corpus.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"))
    if exact:
        cr = rebalance(c)
        a, b = cr.alias("a"), c.alias("b")
        pairs = a.join(b, F.col("a.vid") < F.col("b.vid"))
    else:
        if dim is None:
            raise ValueError("dim required for bucketed mode")
        planes = make_planes(dim, n_planes, seed)
        # Decide with small rows, move big rows once (guide §8): the
        # candidate join and pair-dedup shuffle ONLY (vid, bucket) /
        # (vid, vid) rows; the embedding payloads are re-attached
        # afterwards by vid.  The previous form carried both full vectors
        # through the bucket join and the dropDuplicates exchange —
        # ~2.6 GB shuffled at 20k×64-dim (2.5M candidate pairs) versus
        # ~40 MB of ids for the identical candidate set.
        sig = srp_buckets(rebalance(c), "vec", planes, "bucket") \
            .select("vid", "bucket")
        probes = sig.withColumn(
            "bucket",
            F.explode(F.array(
                F.col("bucket"),
                *[F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)],
            )),
        )
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
        return _verify_candidates(c, cand, threshold, verify_broadcast_bytes,
                                  dim)
    return (
        pairs.select(
            F.col("a.vid").alias("vec_a"), F.col("b.vid").alias("vec_b"),
            cosine_similarity(F.col("a.vec"), F.col("b.vec")).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", F.round("cosine", 6).alias("cosine"))
    )


def _verify_candidates(c: DataFrame, cand: DataFrame, threshold: float,
                       verify_broadcast_bytes: int, dim: int) -> DataFrame:
    """Exact cosine verification of candidate id pairs, vectorized.

    The per-pair higher-order-function cosine (zip_with + three aggregate
    passes, interpreted) cost ~3.8 s of the 2.5M-candidate bench run; a
    numpy einsum verifies the same pairs in milliseconds of CPU.  Two
    shapes by corpus size (guide §8 "broadcast the plan" / attach rules):

    - corpus matrix ≤ ``verify_broadcast_bytes``: broadcast (ids, matrix)
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
    spark = c.sparkSession
    # ONE job decides the path AND fetches the matrix: collect up to
    # cap+1 rows (cap = rows that fit the broadcast budget at the declared
    # dim).  If the limit did not truncate, the collected frame IS the
    # whole corpus; a 100 TB corpus stops the scan after cap+1 rows
    # instead of paying a full count.
    cap = max(1, verify_broadcast_bytes // (8 * dim))
    pdf = c.limit(cap + 1).toPandas()
    if 0 < len(pdf) <= cap:
        ids = pdf["vid"].to_numpy(dtype=np.int64)
        V = np.asarray(list(pdf["vec"]), dtype=np.float64)
        order = np.argsort(ids)
        ids_sorted, V_sorted = ids[order], V[order]
        norms = np.linalg.norm(V_sorted, axis=1)
        bc = spark.sparkContext.broadcast((ids_sorted, V_sorted, norms))

        def verify(batches):
            ids_s, Vs, ns = bc.value
            for pdf_b in batches:
                if pdf_b.empty:
                    continue
                a = pdf_b["_va"].to_numpy(dtype=np.int64)
                b = pdf_b["_vb"].to_numpy(dtype=np.int64)
                ia = np.searchsorted(ids_s, a)
                ib = np.searchsorted(ids_s, b)
                with np.errstate(invalid="ignore", divide="ignore"):
                    cos = np.einsum("ij,ij->i", Vs[ia], Vs[ib]) \
                        / (ns[ia] * ns[ib])
                keep = cos >= threshold  # NaN (zero-norm) compares False
                yield pd.DataFrame({"vec_a": a[keep], "vec_b": b[keep],
                                    "cosine": cos[keep]})

        # ROUND outside the UDF: Spark's half-up semantics, matching the
        # HOF tail (np.round is half-even)
        return cand.mapInPandas(
            verify, schema="vec_a long, vec_b long, cosine double") \
            .select("vec_a", "vec_b", F.round("cosine", 6).alias("cosine"))

    @F.pandas_udf("double")
    def pair_cosine(a: pd.Series, b: pd.Series) -> pd.Series:
        A = np.asarray(list(a), dtype=np.float64)
        B = np.asarray(list(b), dtype=np.float64)
        with np.errstate(invalid="ignore", divide="ignore"):
            cos = np.einsum("ij,ij->i", A, B) \
                / (np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1))
        return pd.Series(cos)

    attached = (
        cand
        .join(c.select(F.col("vid").alias("_va"), F.col("vec").alias("_vva")), "_va")
        .join(c.select(F.col("vid").alias("_vb"), F.col("vec").alias("_vvb")), "_vb")
        .select(F.col("_va").alias("vec_a"), F.col("_vb").alias("vec_b"),
                pair_cosine(F.col("_vva"), F.col("_vvb")).alias("cosine"))
    )
    return (attached.filter(F.col("cosine") >= threshold)
            .select("vec_a", "vec_b", F.round("cosine", 6).alias("cosine")))
