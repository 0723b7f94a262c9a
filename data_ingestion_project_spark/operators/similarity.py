"""Similarity search over embedding columns.

Two tiers, same API:

- ``cosine_topk``        — exact brute force. Broadcast the query
  vector(s); one codegen'd map stage over the corpus + a top-k. No
  shuffle for a single query; for a query *batch* it is a broadcast
  nested-loop with per-partition top-k then a global merge — the exact
  baseline every ANN variant is measured against.
- ``lsh_ann_topk``       — approximate. Random-hyperplane LSH (fixed
  seed) buckets the corpus once; a query probes only its bucket (and
  optionally multi-probe neighbors). Candidate generation is an
  equi-join on the signature → scales to 100 TB corpora where brute
  force would scan everything per query.

Storage: embeddings stay ``array<float>`` (half the I/O of double);
math is promoted to double JVM-side (functions.vectors).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_ingestion_project_spark.functions.vectors import (
    cosine_similarity,
    random_projection_signature,
    to_double_array,
    vec_dot,
    vec_norm,
)


def cosine_topk(
    corpus: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_ids: tuple[int, ...] = (),
) -> DataFrame:
    """Exact top-k by cosine similarity against one query vector.

    Columns: (id_col, sim). Deterministic order: (sim desc, id asc).
    """
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    scored = corpus.select(
        F.col(id_col),
        cosine_similarity(F.col(vec_col), q).alias("sim"),
    )
    if exclude_ids:
        scored = scored.filter(~F.col(id_col).isin(*exclude_ids))
    return scored.orderBy(F.col("sim").desc(), F.col(id_col).asc()).limit(k)


def cosine_batch_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "query_id",
    q_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact top-k neighbors for a BATCH of query vectors — the
    retrieval-join shape (RAG / evaluation probes): a small query set
    against the full corpus, one answer list per query.

    Plan: broadcast the query frame (a query batch is KBs–MBs; the
    corpus is the 100 TB side), one codegen'd scan scoring
    |corpus| x |queries| rows, then ``row_number() <= k`` per query.
    Spark's WindowGroupLimit pushes the rank filter below the exchange
    (partial mode), so the shuffle moves at most k rows per query per
    input partition — never the scored cross product. Self-matches
    (same id on both sides) are excluded.

    Columns: (q_id_col, rank, id_col, sim); deterministic within each
    query by (sim desc, id asc).
    """
    from pyspark.sql import Window

    scored = (
        corpus.join(F.broadcast(queries), F.col(id_col) != F.col(q_id_col))
        .select(
            F.col(q_id_col),
            F.col(id_col),
            cosine_similarity(F.col(vec_col), F.col(q_vec_col)).alias("sim"),
        )
    )
    w = Window.partitionBy(q_id_col).orderBy(F.col("sim").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(q_id_col, "rank", id_col, "sim")
    )


def cosine_self_topk_pairs(
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k most-similar (a, b) pairs across the whole corpus.

    Brute-force O(n²/2) — the correctness baseline. At scale, replace
    candidate generation with ``lsh_ann_topk`` buckets or a block-matrix
    multiply; this exact variant is retained for oracle checks and for
    small corpora (≤ ~100k rows) where n² in one broadcast join is
    cheaper than any index build.
    """
    # Fast path (r12): when the corpus fits the documented ≤100k
    # broadcast bound (the FAISS-bruteforce posture used by the PQ/IVF
    # trainers below), the n²/2 scoring runs as a BLOCKED GEMM —
    # corpus batches stream through Arrow against the broadcast
    # normalized matrix, each batch one numpy matmul, per-row top-k
    # selected exactly (ties broken by id, so no tie explosion), then
    # one global TakeOrdered.  The per-pair JVM HOF fold below scores
    # ~64 interpreted ops per pair; the GEMM does the same arithmetic
    # at BLAS rate — measured 18.9 s → ~1 s on the 2k-vector bench
    # corpus.  Beyond the broadcast bound the HOF join remains (and at
    # that scale the real answer is the LSH/IVF candidate paths).
    if corpus.count() <= _GEMM_SELF_CAP:
        return cosine_self_topk_pairs_gemm(
            corpus, k=k, id_col=id_col, vec_col=vec_col
        )
    # Normalize each vector ONCE (linear work), so every pair costs a
    # single dot product instead of dot + two norms (3x fewer HOF
    # evaluations over the quadratic pair set). The norm is materialized
    # into its own column first so the per-element division references a
    # scalar, not a re-evaluated aggregate.
    normed = (
        corpus.select(F.col(id_col), to_double_array(vec_col).alias("v"))
        .withColumn("n", vec_norm("v"))
        .select(F.col(id_col), F.transform("v", lambda x: x / F.col("n")).alias("u"))
    )
    a = normed.select(F.col(id_col).alias("id_a"), F.col("u").alias("ua"))
    b = normed.select(F.col(id_col).alias("id_b"), F.col("u").alias("ub"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    scored = pairs.select("id_a", "id_b", vec_dot("ua", "ub").alias("sim"))
    return scored.orderBy(F.col("sim").desc(), F.col("id_a").asc(), F.col("id_b").asc()).limit(k)


_GEMM_SELF_CAP = 100_000  # same documented driver bound as the PQ/IVF trainers


def cosine_self_topk_pairs_gemm(
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact global top-k similar pairs via blocked matrix multiply.

    The normalized corpus matrix (≤ _GEMM_SELF_CAP × dim — caller-
    checked, the documented driver-sample bound of this module) is
    broadcast; ``mapInPandas`` streams corpus batches through Arrow
    and scores each batch against the full matrix in ONE float64
    GEMM.  Per batch row (= candidate id_a) only partners with larger
    id are eligible, and the k best by (sim desc, id_b asc) are
    emitted — sufficient for the global (sim desc, id_a, id_b) top-k,
    since for fixed id_a no lower-ranked partner can enter it; ties
    therefore never force a wider emit.  A final TakeOrdered merges
    the ≤ k·n candidates.  Cosine = dot/(‖a‖·‖b‖) in float64 — the
    same IEEE arithmetic as the oracle up to summation association
    (BLAS pairwise vs sequential), which the round-4 output quantum
    absorbs except on measure-zero boundaries."""
    import numpy as np
    import pandas as pd

    spark = corpus.sparkSession
    pdf = corpus.select(id_col, vec_col).toPandas()
    ids_all = pdf[id_col].to_numpy(dtype=np.int64)
    order = np.argsort(ids_all)
    ids_all = ids_all[order]
    mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])[order]
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0.0] = 1.0
    unit = mat / norms[:, None]
    bc = spark.sparkContext.broadcast((ids_all, unit))

    def score(batches):
        b_ids, b_unit = bc.value
        for p in batches:
            if len(p) == 0:
                continue
            a_ids = p[id_col].to_numpy(dtype=np.int64)
            a = np.array([np.asarray(v, dtype=np.float64) for v in p[vec_col]])
            an = np.linalg.norm(a, axis=1)
            an[an == 0.0] = 1.0
            sims = (a / an[:, None]) @ b_unit.T
            out_a, out_b, out_s = [], [], []
            for i in range(len(a_ids)):
                valid = b_ids > a_ids[i]
                if not valid.any():
                    continue
                cand_idx = np.flatnonzero(valid)
                s = sims[i, cand_idx]
                cand_ids = b_ids[cand_idx]
                # exact per-row top-k by (sim desc, id_b asc): b_ids is
                # sorted ascending, so a stable sort on -sim preserves
                # the id_b tie-break for free
                sel = np.argsort(-s, kind="stable")[:k]
                out_a.extend([a_ids[i]] * len(sel))
                out_b.extend(cand_ids[sel].tolist())
                out_s.extend(s[sel].tolist())
            yield pd.DataFrame({"id_a": out_a, "id_b": out_b, "sim": out_s})

    # r12: fan the GEMM batches out to the session cores — a single-
    # file corpus scan otherwise runs every block in ONE task
    # (measured 2.1 s single-task stage at sf0.1).  r13: conditional
    # (operators/fanout) — a well-split input skips the Exchange
    from data_ingestion_project_spark.operators.fanout import fanout_to_cores

    cand = fanout_to_cores(corpus.select(id_col, vec_col)).mapInPandas(
        score, schema="id_a long, id_b long, sim double"
    )
    return cand.orderBy(
        F.col("sim").desc(), F.col("id_a").asc(), F.col("id_b").asc()
    ).limit(k)


def make_planes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def lsh_bucket(corpus: DataFrame, planes: list[list[float]], vec_col: str = "embedding") -> DataFrame:
    """Attach the deterministic LSH signature column ``bucket``."""
    return corpus.withColumn("bucket", random_projection_signature(vec_col, planes))


def ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    n_iter: int = 2,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_max: int = 100_000,
) -> list[list[float]]:
    """Spherical k-means coarse quantizer for an IVF index.

    Deterministic throughout: the training sample is the ``train_max``
    corpus vectors with the smallest ``xxhash64(id, seed)`` (a seeded
    uniform sample that does not depend on partitioning, unlike
    ``df.sample``), collected to the driver in ONE job; Lloyd
    iterations then run in numpy (argmax → mean → re-normalize), the
    standard quantizer-training posture (e.g. FAISS trains IVF
    centroids on an in-memory sample) — at 100 TB the quantizer trains
    on the bounded sample while assignment, the linear pass, is the
    distributed Arrow-vectorized map in ``ivf_assign``. Driver memory:
    train_max × dim doubles (the default 100k × d64 ≈ 50 MB).
    Initial centroids are the first ``n_centroids`` sample vectors in
    hash order.
    """
    train = (
        corpus.select(F.col(id_col).alias("__id"), to_double_array(vec_col).alias("v"))
        .withColumn("__h", F.xxhash64("__id", F.lit(seed)))
        .orderBy("__h")
        .limit(max(train_max, n_centroids))
        .select("v")
    )
    mat = np.asarray([r["v"] for r in train.collect()], dtype=float)
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    unit = mat / np.clip(norms, 1e-12, None)
    cents = unit[:n_centroids].copy()

    for _ in range(n_iter):
        assign = np.argmax(unit @ cents.T, axis=1)
        for list_id in range(len(cents)):
            members = unit[assign == list_id]
            if len(members):
                vec = members.sum(axis=0)
                norm = float(np.linalg.norm(vec))
                if norm > 1e-12:  # degenerate lists keep their old centroid
                    cents[list_id] = vec / norm
    return cents.tolist()


def ivf_assign(
    corpus: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    list_col: str = "list_id",
) -> DataFrame:
    """Attach the IVF inverted-list id: argmax cosine against the
    broadcast centroid matrix, as an Arrow-batched pandas UDF (one numpy
    matmul per batch — the vectorized fast path; a per-row HOF argmax
    would run interpreted). Ties break toward the lowest list id
    (argmax convention), keeping assignment deterministic. NULL
    embeddings are dropped up front — np.stack on a batch containing
    None dies with a shape error that never names the real cause."""
    from pyspark.sql.functions import pandas_udf

    cmat = np.asarray(centroids, dtype=float)  # (C, dim), unit rows

    @pandas_udf("int")
    def _assign(vs: pd.Series) -> pd.Series:
        mat = np.stack(vs.map(lambda v: np.asarray(v, dtype=float)).to_numpy())
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        unit = mat / np.clip(norms, 1e-12, None)
        return pd.Series(np.argmax(unit @ cmat.T, axis=1).astype("int32"))

    return corpus.filter(F.col(vec_col).isNotNull()).withColumn(
        list_col, _assign(F.col(vec_col))
    )


def ivf_assign_topn(
    corpus: DataFrame,
    centroids: list[list[float]],
    n_assign: int = 2,
    vec_col: str = "embedding",
    list_col: str = "list_id",
) -> DataFrame:
    """Multi-membership variant of ``ivf_assign``: each vector joins its
    ``n_assign`` nearest inverted lists (one output ROW per membership —
    the frame grows ×n_assign). SemDeDup's top-2 assignment uses this to
    catch near-dup pairs that straddle a cluster boundary (the paper's
    recall caveat); multi-probe indexing can use it to build overlapping
    lists. Ties break toward the lowest list id (stable argsort on
    negated similarity), keeping the membership set deterministic."""
    from pyspark.sql.functions import pandas_udf

    cmat = np.asarray(centroids, dtype=float)
    n = min(int(n_assign), len(cmat))

    @pandas_udf("array<int>")
    def _assign_topn(vs: pd.Series) -> pd.Series:
        mat = np.stack(vs.map(lambda v: np.asarray(v, dtype=float)).to_numpy())
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        unit = mat / np.clip(norms, 1e-12, None)
        idx = np.argsort(-(unit @ cmat.T), axis=1, kind="stable")[:, :n]
        return pd.Series(list(idx.astype("int32")))

    return (
        corpus.filter(F.col(vec_col).isNotNull())
        .withColumn("__lists", _assign_topn(F.col(vec_col)))
        .withColumn(list_col, F.explode("__lists"))
        .drop("__lists")
    )


def ivf_ann_topk(
    corpus: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    n_iter: int = 2,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Approximate top-k via an IVF index: spherical-kmeans centroids
    partition the corpus into inverted lists; a query exactly rescores
    only the ``n_probe`` lists whose centroids are nearest to it —
    scanning ~n_probe/n_centroids of the corpus.

    ``n_probe`` is the recall/cost dial (n_probe == n_centroids is
    exact). At scale the assigned corpus is written once partitioned by
    ``list_id``, so probing prunes to matching partitions exactly like
    the LSH variant's bucket pruning; the linear assignment pass is a
    single Arrow-vectorized map with the centroid matrix broadcast.
    Pass ``centroids`` (from ``ivf_centroids``) to query a prebuilt
    index — training per query would re-pay the index build that
    production amortizes over the corpus lifetime."""
    if centroids is None:
        centroids = ivf_centroids(
            corpus, n_centroids=n_centroids, n_iter=n_iter, seed=seed,
            id_col=id_col, vec_col=vec_col,
        )
    cents = centroids
    q = np.asarray(query_vec, dtype=float)
    q = q / max(float(np.linalg.norm(q)), 1e-12)
    sims = np.asarray(cents, dtype=float) @ q
    probes = [int(i) for i in np.argsort(-sims, kind="stable")[:n_probe]]

    assigned = ivf_assign(corpus, cents, vec_col=vec_col)
    candidates = assigned.filter(F.col("list_id").isin(probes))
    qcol = F.array(*[F.lit(float(v)) for v in query_vec])
    scored = candidates.select(
        F.col(id_col), cosine_similarity(F.col(vec_col), qcol).alias("sim")
    )
    return scored.orderBy(F.col("sim").desc(), F.col(id_col).asc()).limit(k)


def write_ivf_index(
    corpus: DataFrame,
    centroids: list[list[float]],
    path: str,
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF inverted lists on disk: the assigned corpus
    written ``partitionBy(list_id)``. This is the 100 TB shape — each
    inverted list is a partition directory, so a probe reads exactly
    n_probe/n_centroids of the data via partition pruning (pinned by
    test_ivf_index_probe_prunes_partitions), and the linear assignment
    pass is paid once at index-build time, not per query."""
    ivf_assign(corpus, centroids, vec_col=vec_col).write.partitionBy("list_id").mode(
        "overwrite"
    ).parquet(path)


def append_to_ivf_index(
    new_vectors: DataFrame,
    centroids: list[list[float]],
    path: str,
    vec_col: str = "embedding",
) -> None:
    """Incrementally grow an on-disk IVF index: assign ONLY the new
    vectors against the FROZEN coarse quantizer and append them into
    their list partitions — the ANN counterpart of incremental
    cross-batch dedup (new data joins a maintained asset; the corpus
    is never re-scanned). Probes see appended vectors immediately: a
    list is a partition directory and pruning is directory-level,
    indifferent to file count within it.

    The quantizer stays fixed (standard IVF / FAISS posture):
    appending never moves existing vectors, so recall degrades only as
    the DATA distribution drifts from the trained centroids — retrain
    + full rebuild offline when a drift monitor (e.g. rising mean
    distance-to-centroid, cf. embedding_cluster_stats) crosses its
    threshold. Dynamic-file-append visibility has the usual plain-
    parquet caveat: wrap path in the txn table for snapshot isolation
    against concurrent readers; small appended files amortize via
    layout.compact_parquet."""
    ivf_assign(new_vectors, centroids, vec_col=vec_col).write.partitionBy(
        "list_id"
    ).mode("append").parquet(path)


def ivf_probe_topk(
    spark,
    index_path: str,
    query_vec: list[float],
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query a prebuilt on-disk IVF index (``write_ivf_index``): pick
    the ``n_probe`` nearest centroids driver-side, scan ONLY their list
    partitions (the ``list_id`` filter is a partition filter — pruned
    at planning time, non-probed lists are never read), exact-rescore
    the candidates."""
    q = np.asarray(query_vec, dtype=float)
    q = q / max(float(np.linalg.norm(q)), 1e-12)
    sims = np.asarray(centroids, dtype=float) @ q
    probes = [int(i) for i in np.argsort(-sims, kind="stable")[:n_probe]]

    candidates = spark.read.parquet(index_path).filter(F.col("list_id").isin(probes))
    qcol = F.array(*[F.lit(float(v)) for v in query_vec])
    scored = candidates.select(
        F.col(id_col), cosine_similarity(F.col(vec_col), qcol).alias("sim")
    )
    return scored.orderBy(F.col("sim").desc(), F.col(id_col).asc()).limit(k)


def lsh_ann_topk(
    corpus: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_hamming: int = 1,
) -> DataFrame:
    """Approximate top-k: score only buckets within ``probe_hamming``
    signature bits of the query's LSH bucket (multi-probe LSH).

    The probe radius is THE recall/cost dial: radius r scans
    sum_{i<=r} C(n_planes, i) of the 2^n_planes buckets. For corpora
    with tight neighbors (sim >= 0.8) radius 1 suffices; weakly
    clustered data (top-sim ~0.3, e.g. near-uniform synthetic vectors)
    needs a larger radius because each plane agrees with a true
    neighbor with probability only ~1 - acos(sim)/pi ~ 0.6. Bucketing
    is a pure projection — at scale the bucketed corpus is written
    once, partitioned by ``bucket``, so each probe set prunes to
    matching partitions.
    """
    from itertools import combinations

    q = np.asarray(query_vec, dtype=float)
    planes = make_planes(len(query_vec), n_planes, seed)
    sig_bits = ["1" if float(np.dot(q, np.asarray(p))) >= 0 else "0" for p in planes]
    probes = {"".join(sig_bits)}
    for r in range(1, probe_hamming + 1):
        for idxs in combinations(range(n_planes), r):
            flipped = sig_bits.copy()
            for i in idxs:
                flipped[i] = "0" if flipped[i] == "1" else "1"
            probes.add("".join(flipped))

    bucketed = lsh_bucket(corpus, planes, vec_col).filter(F.col("bucket").isin(*sorted(probes)))
    qcol = F.array(*[F.lit(float(v)) for v in query_vec])
    scored = bucketed.select(F.col(id_col), cosine_similarity(F.col(vec_col), qcol).alias("sim"))
    return scored.orderBy(F.col("sim").desc(), F.col(id_col).asc()).limit(k)


# ------------------------------------------------- product quantization


def pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    ksub: int = 16,
    n_iter: int = 3,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_max: int = 100_000,
) -> list[list[list[float]]]:
    """Product-quantization codebooks (Jégou, Douze & Schmid, TPAMI
    2011): split each L2-normalized vector into ``m`` contiguous
    subvectors and train an independent ``ksub``-centroid k-means per
    subspace. A dim-64 float corpus compresses to ``m`` byte codes per
    vector — 32× smaller, which is what makes billion-vector rescoring
    I/O-feasible at 100 TB.

    Training mirrors ``ivf_centroids``: a deterministic
    partitioning-independent sample (smallest ``xxhash64(id, seed)``)
    collected once to the driver, Lloyd iterations in numpy. Returns
    ``m`` codebooks of shape (ksub, dim/m)."""
    train = (
        corpus.select(F.col(id_col).alias("__id"), to_double_array(vec_col).alias("v"))
        .withColumn("__h", F.xxhash64("__id", F.lit(seed)))
        .orderBy("__h")
        .limit(max(train_max, ksub))
        .select("v")
    )
    mat = np.asarray([r["v"] for r in train.collect()], dtype=float)
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    unit = mat / np.clip(norms, 1e-12, None)
    dim = unit.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    books: list[list[list[float]]] = []
    for s in range(m):
        sub = unit[:, s * dsub : (s + 1) * dsub]
        cents = sub[:ksub].copy()
        for _ in range(n_iter):
            # L2 assignment; stable argmin keeps ties deterministic
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            for c in range(ksub):
                members = sub[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        books.append(cents.tolist())
    return books


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    code_col: str = "pq_code",
) -> DataFrame:
    """Attach the ``m``-byte PQ code: per subspace, argmin L2 to the
    broadcast codebook — one numpy distance matrix per Arrow batch per
    subspace (never per-row Python). Vectors are L2-normalized before
    encoding so L2-in-subspace is consistent with cosine scoring.
    NULL embeddings are dropped up front (same posture as
    ivf_assign)."""
    from pyspark.sql.functions import pandas_udf

    books = np.asarray(codebooks, dtype=float)  # (m, ksub, dsub)
    m, _, dsub = books.shape

    @pandas_udf("array<int>")
    def _encode(vs: pd.Series) -> pd.Series:
        mat = np.stack(vs.map(lambda v: np.asarray(v, dtype=float)).to_numpy())
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        unit = mat / np.clip(norms, 1e-12, None)
        codes = np.empty((len(unit), m), dtype="int32")
        for s in range(m):
            sub = unit[:, s * dsub : (s + 1) * dsub]
            # ||x - c||^2 = ||x||^2 - 2 x.c + ||c||^2 → argmin over c
            d2 = (
                -2.0 * (sub @ books[s].T)
                + (books[s] ** 2).sum(axis=1)[None, :]
            )
            codes[:, s] = np.argmin(d2, axis=1)
        return pd.Series(list(codes))

    return corpus.filter(F.col(vec_col).isNotNull()).withColumn(
        code_col, _encode(F.col(vec_col))
    )


def pq_ann_topk(
    corpus: DataFrame,
    query_vec: list[float],
    k: int = 10,
    m: int = 8,
    ksub: int = 16,
    n_iter: int = 3,
    seed: int = 42,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Approximate top-k via PQ asymmetric distance computation (ADC):
    per subspace, precompute the query's dot product against every
    codeword (an m×ksub lookup table, broadcast); each corpus vector's
    approximate cosine is the sum of ``m`` table lookups on its byte
    code — no float vector is read at scan time. The ``rerank`` widest
    ADC candidates are then rescored exactly (standard two-stage PQ
    search). ``rerank >= k`` is the recall dial; the exact rescore
    touches only ``rerank`` full vectors.

    At 100 TB the codes column (m bytes/vector) is the only thing the
    first stage scans — 32× less I/O than the float vectors, and the
    LUT-sum is a vectorized numpy gather per Arrow batch."""
    if codebooks is None:
        codebooks = pq_codebooks(
            corpus, m=m, ksub=ksub, n_iter=n_iter, seed=seed,
            id_col=id_col, vec_col=vec_col,
        )
    books = np.asarray(codebooks, dtype=float)  # (m, ksub, dsub)
    m_, _, dsub = books.shape
    q = np.asarray(query_vec, dtype=float)
    q = q / max(float(np.linalg.norm(q)), 1e-12)
    # ADC lookup table: contribution of codeword c in subspace s to q.v
    lut = np.stack(
        [books[s] @ q[s * dsub : (s + 1) * dsub] for s in range(m_)]
    )  # (m, ksub)

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _adc(codes: pd.Series) -> pd.Series:
        arr = np.stack(codes.map(lambda c: np.asarray(c, dtype=int)).to_numpy())
        return pd.Series(lut[np.arange(m_)[None, :], arr].sum(axis=1))

    encoded = pq_encode(corpus, codebooks, vec_col=vec_col)
    approx = encoded.select(
        F.col(id_col), F.col(vec_col), _adc(F.col("pq_code")).alias("adc_sim")
    )
    cand = approx.orderBy(F.col("adc_sim").desc(), F.col(id_col).asc()).limit(rerank)
    qcol = F.array(*[F.lit(float(v)) for v in query_vec])
    rescored = cand.select(
        F.col(id_col), cosine_similarity(F.col(vec_col), qcol).alias("sim")
    )
    return rescored.orderBy(F.col("sim").desc(), F.col(id_col).asc()).limit(k)
