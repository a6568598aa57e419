"""Similarity search over embedding columns (``array<float>``).

Two tiers, mirroring production ANN practice:

- ``cosine_topk_bruteforce``: exact top-k per query — broadcast the (small)
  query set against the full corpus, per-row dot products via built-in
  higher-order functions (``zip_with``/``aggregate`` — JVM codegen, no Python
  boundary), then ``row_number() <= k``.  At 100 TB corpus scale this is one
  broadcast-join scan: embarrassingly parallel, no shuffle of the corpus.

- ``cosine_topk_ivf``: IVF-style partitioned ANN — a coarse quantizer assigns
  each vector to a cluster (here: the fixture's ``label`` column, or any
  user-provided bucket column); search only scans the query's probe cluster.
  Same plan shape as FAISS-IVF: candidate pruning before exact scoring.
  Recall < 1.0 by design; deterministic, so still oracle-checkable.

Float math portability: elements are cast float->double (exact) and folded
left-to-right by ``aggregate`` — matching the sequential fold the SQL oracle
uses — then rounded to 8 dp before ranking, so cross-engine ulp noise cannot
flip an ordering that the round doesn't already collapse (ties then break on
vec_id).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..modules import TABLE, _simple_module, config_kwargs
from ..operations import Operation


def _to_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot_product(a: Column, b: Column) -> Column:
    """Sequential left fold — same order as the oracle's list_reduce."""
    return F.aggregate(
        F.zip_with(_to_double(a), _to_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(_to_double(a), F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom > 0, dot_product(a, b) / denom).otherwise(F.lit(0.0))


def _cosine_with_norms(q_vec: Column, c_vec: Column,
                       qn: Column, cn: Column) -> Column:
    """``cosine_similarity`` with the per-side norms precomputed as
    columns (r12, guide §1.2): written inline, the two norm folds run
    FOUR times per candidate pair (the when-condition and the denominator
    each embed both, and the lambda-bearing expression tree has no
    subexpression elimination) — precomputed per side they run once per
    ROW, O(N+Q) instead of O(N·Q).  Identical IEEE expression order →
    bit-identical cosine."""
    denom = qn * cn
    return F.when(denom > 0, dot_product(q_vec, c_vec) / denom) \
        .otherwise(F.lit(0.0))


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors for each query vector (excluding self-matches).

    Output: (query_id, neighbor_id, cosine_sim, rank).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    ).withColumn("_qn", l2_norm(F.col("q_vec")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    ).withColumn("_cn", l2_norm(F.col("c_vec")))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine_sim",
            F.round(_cosine_with_norms(F.col("q_vec"), F.col("c_vec"),
                                       F.col("_qn"), F.col("_cn")), 8),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def topk_recall(
    exact: DataFrame,
    approx: DataFrame,
) -> DataFrame:
    """Recall@k of an approximate top-k result against the exact ground
    truth — the eval harness that gates every ANN index rollout (FAISS /
    ScaNN benchmark methodology, distributed):

        recall(q) = |approx_topk(q) ∩ exact_topk(q)| / |exact_topk(q)|

    Both inputs are (query_id, neighbor_id, ...) frames as produced by the
    ``cosine_topk_*`` family.  Three hash aggregates keyed on query_id +
    one (query, neighbor) equi-join — every shuffle is on the query key,
    output is one row per query, so the harness costs a rounding error
    next to the searches it evaluates.  The denominator is the EXACT
    list's size, so truncated ground truth (< k candidates) scores
    correctly.  Returns (query_id, n_exact, n_approx, n_hit, recall)."""
    ex = exact.select("query_id", "neighbor_id")
    ap = approx.select("query_id", "neighbor_id")
    e = ex.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    a = ap.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_approx"))
    h = (ex.join(ap, ["query_id", "neighbor_id"])
         .groupBy("query_id")
         .agg(F.count(F.lit(1)).cast("bigint").alias("n_hit")))
    return (e.join(a, "query_id", "left")
            .join(h, "query_id", "left")
            .select(
                "query_id", "n_exact",
                F.coalesce("n_approx", F.lit(0)).cast("bigint")
                .alias("n_approx"),
                F.coalesce("n_hit", F.lit(0)).cast("bigint").alias("n_hit"),
                F.round(F.coalesce("n_hit", F.lit(0)).cast("double")
                        / F.col("n_exact"), 6).alias("recall")))


def truncated_dim_recall(
    emb: DataFrame,
    dims: int,
    k: int = 5,
    query_filter: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Dimension-ablation recall — the Matryoshka-representation eval
    (Kusupati et al. 2022): how much exact top-k quality survives when
    search uses only the FIRST ``dims`` components of each embedding?
    The production question behind MRL truncation and two-stage retrieval
    (search on a short prefix, rerank on full vectors): if prefix recall
    is high, the index stores ``dims/D`` of the bytes and the ANN probe
    moves ``dims/D`` of the vector traffic.

    Plan: two brute-force exact top-k passes (full-dim ground truth vs
    ``F.slice``-truncated vectors — the slice is map-side, no copy of the
    full table) composed with :func:`topk_recall`; every shuffle keys on
    the query id.  Scale: the eval is meant for a SAMPLED query set (the
    default keeps 1/50) against a corpus scan — the same cost class as
    :func:`cosine_topk_bruteforce`, the gate-keeping eval, not the
    serving path.  Returns (query_id, n_exact, n_approx, n_hit, recall)
    with the full-dim ranking as the denominator.  ``query_filter``
    defaults to a 1-in-50 sample keyed on ``id_col`` (derived, so a
    custom id column never leaves the default filter pointing at a
    nonexistent ``vec_id``)."""
    if query_filter is None:
        query_filter = f"{id_col} % 50 = 0"
    queries = emb.filter(query_filter)
    exact = cosine_topk_bruteforce(emb, queries, k=k,
                                   id_col=id_col, vec_col=vec_col)
    t_corpus = emb.select(F.col(id_col),
                          F.slice(F.col(vec_col), 1, dims).alias(vec_col))
    t_queries = queries.select(
        F.col(id_col), F.slice(F.col(vec_col), 1, dims).alias(vec_col))
    approx = cosine_topk_bruteforce(t_corpus, t_queries, k=k,
                                    id_col=id_col, vec_col=vec_col)
    return topk_recall(exact, approx)


def knn_classify(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """k-NN classification over an embedding column: exact cosine top-k
    (the oracle-verified :func:`cosine_topk_bruteforce` plan — broadcast
    queries, no corpus shuffle) + per-query MAJORITY VOTE with
    deterministic tie-breaks (more votes → higher best similarity →
    smaller label).  The label lookup is a broadcast-eligible join on the
    neighbor id; the vote is two tiny hash aggregates keyed on the query.
    Swap the brute-force stage for any ``cosine_topk_*`` index at scale —
    the vote is index-agnostic.  Returns (query_id, actual, predicted,
    correct, n_votes)."""
    nbrs = cosine_topk_bruteforce(corpus, queries, k=k,
                                  id_col=id_col, vec_col=vec_col)
    lab = corpus.select(F.col(id_col).alias("neighbor_id"),
                        F.col(label_col).alias("_nl"))
    qlab = queries.select(F.col(id_col).alias("query_id"),
                          F.col(label_col).alias("actual"))
    votes = (nbrs.join(lab, "neighbor_id")
             .groupBy("query_id", "_nl")
             .agg(F.count(F.lit(1)).cast("bigint").alias("_nv"),
                  F.max("cosine_sim").alias("_best")))
    best = votes.groupBy("query_id").agg(
        F.min(F.struct((-F.col("_nv")).alias("nn"),
                       (-F.col("_best")).alias("nb"),
                       F.col("_nl").alias("l"),
                       F.col("_nv").alias("v"))).alias("_b"))
    return (best.join(F.broadcast(qlab), "query_id")
            .select("query_id", "actual",
                    F.col("_b.l").alias("predicted"),
                    (F.col("_b.l") == F.col("actual")).alias("correct"),
                    F.col("_b.v").alias("n_votes")))


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_col: str = "label",
) -> DataFrame:
    """IVF-style ANN: only score candidates in the query's coarse bucket.

    The bucket join replaces the cross join — at N corpus vectors and B
    buckets the scan shrinks ~B× (with recall loss for cross-bucket
    neighbors, as in any IVF with nprobe=1).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.col(bucket_col).alias("_bucket"),
    ).withColumn("_qn", l2_norm(F.col("q_vec")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        F.col(bucket_col).alias("_bucket"),
    ).withColumn("_cn", l2_norm(F.col("c_vec")))
    scored = (
        c.join(F.broadcast(q), on="_bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine_sim",
            F.round(_cosine_with_norms(F.col("q_vec"), F.col("c_vec"),
                                       F.col("_qn"), F.col("_cn")), 8),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def rp_plane_weights(n_planes: int = 8, dim: int = 64) -> list[list[float]]:
    """Deterministic random-hyperplane family: component (p, d) is a uniform
    [-1, 1] value derived from md5("rp{p}_{d}") — no RNG state, so Spark,
    the SQL oracle, retries, and any partitioning all see the same planes.
    Same digest-derived-family trick as the MinHash affine functions."""
    import hashlib

    def u(p: int, d: int) -> float:
        h = int(hashlib.md5(f"rp{p}_{d}".encode()).hexdigest()[:8], 16)
        return (h % 2000001 - 1000000) / 1e6

    return [[u(p, d) for d in range(dim)] for p in range(n_planes)]


def with_rp_bucket(
    df: DataFrame,
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int = 64,
    out_col: str = "rp_bucket",
) -> DataFrame:
    """Sign-bit LSH signature (SimHash for cosine): bucket = Σ_p [v·h_p > 0]·2^p.

    Map-only, whole-stage-codegen (literal plane weights unrolled into
    ``zip_with``/``aggregate`` expressions — no Python, no shuffle, no
    broadcast).  Vectors on the same side of all ``n_planes`` hyperplanes
    share a bucket; P[same bucket] = (1 - θ/π)^n_planes, so bucketing
    candidates preserves high-cosine pairs with high probability.  The dot
    is rounded to 8 dp before the sign test so cross-engine ulp noise
    can't flip a bit the round doesn't collapse."""
    planes = rp_plane_weights(n_planes, dim)
    v = _to_double(F.col(vec_col))
    bucket = F.lit(0).cast("bigint")
    for p, ws in enumerate(planes):
        wlit = F.array(*[F.lit(w) for w in ws])
        dot = F.round(
            F.aggregate(
                F.zip_with(v, wlit, lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            8,
        )
        bucket = bucket + F.when(dot > 0, F.lit(2 ** p)).otherwise(F.lit(0))
    return df.withColumn(out_col, bucket)


def cosine_topk_rplsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Random-hyperplane LSH ANN: candidates = corpus vectors in the query's
    sign-bit bucket, then exact cosine rerank, top-k.

    Unlike IVF this needs no pretrained quantizer or bucket column — the
    hash family is data-independent, so ingest can bucket vectors the
    moment they arrive.  At 100 TB: signature is a map-only pass; the
    candidate join shuffles on the ~2^n_planes bucket key (or broadcasts
    the query side, as here); exact scoring touches only candidates.
    Recall < 1 by design (as with any single-probe LSH); deterministic
    planes make it oracle-checkable.
    """
    c = with_rp_bucket(
        corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("c_vec")),
        "c_vec", n_planes, dim).withColumn("_cn", l2_norm(F.col("c_vec")))
    q = with_rp_bucket(
        queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("q_vec")),
        "q_vec", n_planes, dim).withColumn("_qn", l2_norm(F.col("q_vec")))
    scored = (
        c.join(F.broadcast(q), on="rp_bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine_sim",
            F.round(_cosine_with_norms(F.col("q_vec"), F.col("c_vec"),
                                       F.col("_qn"), F.col("_cn")), 8),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def knn_join_pandas(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_broadcast_queries: int = 100_000,
) -> DataFrame:
    """Vectorized (numpy) alternative for wide embeddings: mapInPandas over
    corpus partitions with the query matrix broadcast — one BLAS matmul per
    Arrow batch instead of per-element expression eval.  Same output contract
    as the bruteforce op; preferable when dims >= a few hundred.

    The broadcast path collects the query set on the driver, so it is gated
    by ``max_broadcast_queries`` (~100k × 64 dims ≈ 50 MB — comfortably
    broadcastable; an unbounded collect is a driver OOM at scale).  Above
    the gate the computation stays fully distributed: an exact partitioned
    cartesian scoring (no driver collect, bounded memory per task).  Exact
    knn with huge Q × huge N is inherently O(N·Q) — when that cost itself is
    the problem, use ``cosine_topk_ivf`` (bucket pruning) instead."""
    import numpy as np
    import pandas as pd

    n_q = queries.select(id_col).count()  # aggregate only — no row transfer
    if n_q > max_broadcast_queries:
        return _cosine_topk_distributed(corpus, queries, k, id_col, vec_col)

    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[id_col] for r in q_rows])
    q_mat = np.array([r[vec_col] for r in q_rows], dtype="float64")
    q_norm = np.linalg.norm(q_mat, axis=1)
    spark = corpus.sparkSession
    bc = spark.sparkContext.broadcast((q_ids, q_mat, q_norm))

    def score(batches):
        ids, mat, norms = bc.value
        for pdf in batches:
            c_mat = np.array(pdf[vec_col].tolist(), dtype="float64")
            c_norm = np.linalg.norm(c_mat, axis=1)
            sims = (c_mat @ mat.T) / np.outer(np.where(c_norm == 0, 1, c_norm),
                                              np.where(norms == 0, 1, norms))
            n_c, n_q = sims.shape
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(ids, n_c),
                    "neighbor_id": np.tile(pdf[id_col].to_numpy(), n_q),
                    "cosine_sim": np.round(sims.T.ravel(), 8),
                }
            )

    scored = corpus.select(id_col, vec_col).mapInPandas(
        score, schema="query_id long, neighbor_id long, cosine_sim double"
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def _cosine_topk_distributed(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Exact top-k without any driver-side query collect: a partitioned
    cartesian join (every corpus partition × every query partition — Spark's
    CartesianProduct keeps per-task memory at one partition pair) scored with
    the same codegen cosine expression as the bruteforce op.  Output contract
    identical to ``cosine_topk_bruteforce``."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    ).withColumn("_qn", l2_norm(F.col("q_vec")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    ).withColumn("_cn", l2_norm(F.col("c_vec")))
    scored = (
        c.crossJoin(q)  # no broadcast hint: planner picks CartesianProduct
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine_sim",
            F.round(_cosine_with_norms(F.col("q_vec"), F.col("c_vec"),
                                       F.col("_qn"), F.col("_cn")), 8),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def cosine_topk_ivf_pandas(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_col: str = "label",
) -> DataFrame:
    """IVF pruning + BLAS scoring: the scale composition of the two ANN
    paths.  Corpus and queries co-group by coarse bucket
    (``applyInPandas``), and each bucket scores with ONE numpy matmul —
    bucket pruning bounds the candidate set, Arrow batching amortizes the
    Python boundary, and no vector ever reaches the driver.

    Result contract is IDENTICAL to ``cosine_topk_ivf`` (round-8 sims,
    ties broken on neighbor id), so the same SQL oracle verifies both the
    expression path and this vectorized path."""
    import numpy as np
    import pandas as pd

    c = corpus.select(
        F.col(bucket_col).alias("_b"), F.lit("c").alias("_side"),
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    q = queries.select(
        F.col(bucket_col).alias("_b"), F.lit("q").alias("_side"),
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    both = c.unionByName(q)

    def score_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        qs = pdf[pdf["_side"] == "q"]
        cs = pdf[pdf["_side"] == "c"]
        if qs.empty or cs.empty:
            return pd.DataFrame(
                {"query_id": [], "neighbor_id": [], "cosine_sim": [], "rank": []}
            ).astype({"query_id": "int64", "neighbor_id": "int64",
                      "cosine_sim": "float64", "rank": "int64"})
        q_mat = np.array(qs["_v"].tolist(), dtype="float64")
        c_mat = np.array(cs["_v"].tolist(), dtype="float64")
        qn = np.linalg.norm(q_mat, axis=1)
        cn = np.linalg.norm(c_mat, axis=1)
        sims = (c_mat @ q_mat.T) / np.outer(np.where(cn == 0, 1, cn),
                                            np.where(qn == 0, 1, qn))
        sims = np.round(sims, 8)
        out = []
        c_ids = cs["_id"].to_numpy()
        for j, qid in enumerate(qs["_id"].to_numpy()):
            col = sims[:, j]
            mask = c_ids != qid
            ids, vals = c_ids[mask], col[mask]
            order = np.lexsort((ids, -vals))[:k]
            for r, idx in enumerate(order, start=1):
                out.append((qid, ids[idx], vals[idx], r))
        return pd.DataFrame(out, columns=["query_id", "neighbor_id",
                                          "cosine_sim", "rank"])

    return both.groupBy("_b").applyInPandas(
        score_bucket,
        schema="query_id long, neighbor_id long, cosine_sim double, rank long")


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_col: str | None = "label",
    broadcast_rows: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine >= threshold.

    With ``bucket_col`` the self-join runs within coarse buckets only (the
    IVF-style scale path — same pruning as ``cosine_topk_ivf``); without it,
    a full O(N²/2) cross join (small corpora / verification only).  Output:
    (id_a, id_b, cosine_sim), id_a < id_b.

    ``broadcast_rows``: when the caller knows the input's row count and it
    is small (<= 500k), the build side of the bucketed self-join is
    broadcast and the probe side repartitioned to full parallelism.  The
    bucketed join keys on FEW distinct values (k clusters), so a shuffle
    join would funnel the quadratic per-pair cosine work onto k tasks;
    broadcasting removes the key-count cap on parallelism.  At scale the
    caller omits it (or the count exceeds the gate) and the plain
    within-bucket shuffle join — whose parallelism then comes from genuinely
    many buckets — is used unchanged.
    """
    sel = [F.col(id_col), F.col(vec_col)] + (
        [F.col(bucket_col).alias("_bucket")] if bucket_col else []
    )
    # precompute each vector's norm ONCE before the self-join: the norm fold
    # is the same interpreted higher-order aggregate as the dot product, so
    # computing it per PAIR would triple the dominant per-pair CPU (norms are
    # O(N) precomputed vs O(pairs) inline; identical IEEE result either way)
    base = df.select(*sel).withColumn("_norm", l2_norm(F.col(vec_col)))
    a = base.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a"),
        F.col("_norm").alias("n_a"),
        *([F.col("_bucket")] if bucket_col else []),
    )
    b = base.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b"),
        F.col("_norm").alias("n_b"),
        *([F.col("_bucket")] if bucket_col else []),
    )
    small = (broadcast_rows is not None and broadcast_rows <= 500_000
             and bucket_col is not None)
    if small:
        par = df.sparkSession.sparkContext.defaultParallelism
        a = a.repartition(par)
        b = F.broadcast(b)
    joined = (a.join(b, on="_bucket") if bucket_col else a.crossJoin(b)).filter(
        F.col("id_a") < F.col("id_b")
    )
    denom = F.col("n_a") * F.col("n_b")
    cos = F.round(
        F.when(denom > 0, dot_product(F.col("v_a"), F.col("v_b")) / denom)
        .otherwise(F.lit(0.0)),
        8,
    )
    return (
        joined.withColumn("cosine_sim", cos)
        .filter(F.col("cosine_sim") >= F.lit(threshold))
        .select("id_a", "id_b", "cosine_sim")
    )


def normalize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    dims: int | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """L2-normalize embeddings to unit vectors (optionally truncating to the
    first ``dims`` components first — Matryoshka-style dimension reduction,
    which requires renormalization to keep cosine math valid).

    Map-only: the norm is a sequential left fold (same order as the SQL
    twin's list_reduce, so results are bit-identical) and the scale is a
    per-element transform — no shuffle, runs at scan throughput at any
    scale.  Zero vectors pass through unchanged (no NaN poisoning)."""
    out_col = out_col or f"{vec_col}_unit"
    v = F.col(vec_col)
    if dims is not None:
        v = F.slice(v, 1, dims)
    vd = _to_double(v)
    norm = F.sqrt(F.aggregate(vd, F.lit(0.0), lambda a, x: a + x * x))
    unit = F.when(norm > 0, F.transform(vd, lambda x: x / norm)).otherwise(vd)
    return df.withColumn(out_col, unit)


def quantize_embeddings_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    out_col: str | None = None,
    levels: int = 256,
) -> DataFrame:
    """Per-dimension min/max scalar quantization to ``levels`` buckets
    (int8-style vector compression: 4x smaller than float32, the standard
    storage/serving trade for ANN indexes).

    Two jobs at any scale: (1) one posexplode -> per-dimension min/max
    aggregate — the only shuffle, keyed on the dimension index, d rows out;
    (2) the d-row bounds collect to the driver (d doubles, like the k·d
    kmeans centroid literal) and quantization is a map-only two-arg
    transform against the literal bounds arrays.  A constant dimension
    (max == min) quantizes to 0.  ``q = min(levels-1,
    floor((x - mn_d) / (mx_d - mn_d) * levels))`` — pure double arithmetic,
    exactly reproducible in SQL."""
    out_col = out_col or f"{vec_col}_q"
    exploded = df.select(F.posexplode(F.col(vec_col)).alias("pos", "val"))
    bounds = (
        exploded.groupBy("pos")
        .agg(F.min(F.col("val").cast("double")).alias("mn"),
             F.max(F.col("val").cast("double")).alias("mx"))
        .orderBy("pos")
        .collect()
    )
    mins = F.array(*[F.lit(r.mn) for r in bounds])
    spans = F.array(*[
        F.lit(r.mx - r.mn) if r.mx > r.mn else F.lit(None).cast("double")
        for r in bounds])
    q = F.transform(
        F.col(vec_col),
        lambda x, i: F.when(
            F.element_at(spans, i + 1).isNotNull(),
            F.least(
                F.lit(levels - 1),
                F.floor((x.cast("double") - F.element_at(mins, i + 1))
                        / F.element_at(spans, i + 1) * F.lit(levels))),
        ).otherwise(F.lit(0)).cast("int"),
    )
    return df.withColumn(out_col, q)


def pq_seed_codebook(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    k: int = 16,
) -> list:
    """Deterministic PQ codebook: the ``k`` lowest-id vectors, sliced into
    ``m`` subvectors each, become the per-subspace codewords — shape
    [m][k][dim/m].  A deterministic seeding rather than iterative k-means,
    so a SQL twin can derive the identical codebook from the data itself;
    swap in trained centroids (``kmeans_embeddings``) for production
    recall.  Driver state is k·dim doubles — same budget as the kmeans
    literal-centroid pattern."""
    rows = (df.select(id_col, vec_col).orderBy(id_col).limit(k).collect())
    if len(rows) < k:
        raise ValueError(f"pq_seed_codebook: need >= {k} vectors, have {len(rows)}")
    dim = len(rows[0][1])
    if dim % m:
        raise ValueError(f"pq: dim {dim} not divisible by m={m}")
    dsub = dim // m
    return [[[float(r[1][s * dsub + t]) for t in range(dsub)]
             for r in rows] for s in range(m)]


def pq_encode(
    df: DataFrame,
    codebook: list,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    exact: bool = True,
) -> DataFrame:
    """Product quantization encode: each vector is split into ``m``
    subvectors, each assigned to its nearest codeword (exact L2², ties to
    the lowest code) — ``m`` small codes replace ``dim`` floats (here
    64 floats -> 4 bytes, 64x), the storage layer under IVF-PQ ANN serving.

    MAP-ONLY plan: the codebook is a plan literal (like the kmeans
    centroid assignment), so encoding runs at scan throughput with zero
    shuffles at any corpus size.  Distances accumulate as FIXED-POINT
    int64 nano units (truncate((a-b)^2 * 1e9) summed as BIGINT) —
    order-independent, overflow-free for unit-scale embeddings, and
    bit-identical across engines, so code assignment (argmin + tiebreak)
    is exactly reproducible in SQL, at primitive-long fold cost instead
    of interpreted decimal arithmetic.

    Returns (id, codes array<bigint>, recon_err_e9 bigint) where
    recon_err_e9 is the summed quantization L2² across subspaces in nano
    units (divide by 1e9 for the float value).

    The codebook embeds as ONE literal array-of-arrays per subspace and
    the k codewords are scanned by a runtime ``transform`` — m aggregate
    expressions in the plan, not m*k (the expanded form cost ~15s of
    Catalyst analysis for m=4, k=16).

    The m argmin structs are STAGED once as a ``_best`` column (r12,
    guide §1.2): ``codes`` and ``recon_err_e9`` both read them, and this
    Project runs OUTSIDE whole-stage codegen (lambda higher-order
    functions), where each output column would otherwise re-evaluate the
    full k-codeword argmin — 2x the dominant per-row work.  CollapseProject
    keeps the alias staged (non-cheap, multiply referenced); the fold
    order of the error sum is the same left-to-right chain, so results
    are bit-identical."""
    m = len(codebook)
    staged = df.select(
        F.col(id_col),
        F.array(*[_pq_best(F.col(vec_col), codebook, s, exact)
                  for s in range(m)]).alias("_best"))
    best = [F.col("_best").getItem(s) for s in range(m)]
    codes = F.array(*[b.getField("j").cast("bigint") for b in best])
    err = best[0].getField("d")
    for b in best[1:]:
        err = err + b.getField("d")
    return staged.select(
        F.col(id_col),
        codes.alias("codes"),
        (err.cast("bigint") if exact
         else F.round(err * 1e9).cast("bigint")).alias("recon_err_e9"))


def _pq_dist(sub: Column, cw: Column, exact: bool = True) -> Column:
    """L2² between two double arrays.  ``exact`` (the oracle path) sums
    truncated fixed-point nano units as BIGINT — each term is
    ``CAST((a-b)^2 * 1e9 AS BIGINT)``: the double product and scale are
    IEEE-deterministic and truncation has no rounding-tie mode to
    disagree on, so DuckDB reproduces every sum exactly, and the fold is
    primitive-long work (the earlier DECIMAL(38,12) fold was interpreted
    and ~5x slower).  ``exact=False`` is a double fold — cheaper still,
    deterministic on one engine, not cross-engine hash-stable."""
    if not exact:
        return F.aggregate(
            F.zip_with(sub, cw, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0), lambda acc, x: acc + x)
    terms = F.zip_with(
        sub, cw,
        lambda a, b: ((a - b) * (a - b) * F.lit(1e9)).cast("bigint"))
    return F.aggregate(terms, F.lit(0).cast("bigint"),
                       lambda acc, x: acc + x)


def _pq_codebook_lit(codebook: list, s: int) -> Column:
    """Subspace ``s``'s k codewords as one literal array<array<double>>."""
    return F.array(*[F.array(*[F.lit(x) for x in codebook[s][j]])
                     for j in range(len(codebook[s]))])


def _pq_best(v: Column, codebook: list, s: int, exact: bool = True) -> Column:
    """struct(d, j) of the nearest codeword in subspace s (ties -> lowest
    code, via struct-ordered array_min)."""
    dsub = len(codebook[0][0])
    sub = F.slice(_to_double(v), s * dsub + 1, dsub)
    return F.array_min(F.transform(
        _pq_codebook_lit(codebook, s),
        lambda cw, j: F.struct(_pq_dist(sub, cw, exact).alias("d"),
                               j.alias("j"))))


def pq_train_codebook(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    k: int = 16,
    n_iter: int = 1,
) -> list:
    """Train the PQ codebook: per-subspace Lloyd iterations from the
    deterministic seed codebook.  ALL m subspaces train in one pass per
    iteration — assignment is the same map-only literal-codebook argmin
    as ``pq_encode`` (fixed-point distances, so it is bit-deterministic),
    and the update is ONE (subspace, code, dim) hash aggregate with
    decimal-exact means (round(sum,6)/count — the portable mean rule
    ``kmeans_lloyd`` uses).  Driver transfer per iteration is m·k·dsub
    doubles, never data-sized; empty codes keep their previous codeword.
    The result plugs straight into ``pq_encode``/``pq_topk_adc``."""
    codebook = pq_seed_codebook(df, id_col, vec_col, m, k)
    dsub = len(codebook[0][0])
    for _ in range(n_iter):
        best = [_pq_best(F.col(vec_col), codebook, s) for s in range(m)]
        assigned = df.select(
            F.col(vec_col).alias("_v"),
            *[b.getField("j").alias(f"_c{s}") for s, b in enumerate(best)])
        long = assigned.select(
            F.explode(F.array(*[
                F.struct(
                    F.lit(s).alias("s"), F.col(f"_c{s}").alias("code"),
                    F.slice(_to_double(F.col("_v")), s * dsub + 1, dsub)
                    .alias("sub"))
                for s in range(m)])).alias("_e")
        ).select("_e.s", "_e.code", F.posexplode("_e.sub").alias("t", "v"))
        rows = (
            long.groupBy("s", "code", "t")
            .agg((F.round(F.sum(F.col("v").cast("decimal(38,10)")), 6)
                  .cast("double") / F.count(F.lit(1))).alias("c"))
            .collect())
        new = [[list(codebook[s][j]) for j in range(k)] for s in range(m)]
        for r in rows:
            new[r.s][r.code][r.t] = float(r.c)
        codebook = new
    return codebook


def pq_topk_adc(
    df: DataFrame,
    queries: DataFrame,
    codebook: list,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    exact: bool = True,
    bucket_col: str | None = None,
) -> DataFrame:
    """Asymmetric distance computation (ADC) top-k over PQ codes — the
    serving-side half of IVF-PQ: corpus vectors are m small codes; each
    query precomputes an m x k distance table against the codebook, and a
    candidate's distance is m table lookups + adds, never a d-dim float op.

    Plan shape: corpus codes explode to (id, subspace, code) long form —
    ONE row per code, 4/vec here; the query distance tables (|Q| x m x k
    rows, tiny) broadcast onto them, and one (query, neighbor) hash
    aggregate sums the m looked-up entries.  Corpus floats are read once
    at encode time; the retrieval join moves only codes.  Distances stay
    fixed-point-exact (int64 nano units) end-to-end, so ranking ties
    break identically in SQL.

    ``bucket_col`` adds IVF coarse pruning (nprobe=1): candidates are
    scored only inside the query's bucket — the full FAISS IVF-PQ layout,
    where the candidate list shrinks ~B x before any distance work.

    Long-form corpus codes are built by exploding a LITERAL subspace
    sequence first and assigning the code per exploded row via a
    single-branch CASE (r12): the earlier ``posexplode(codes)`` form made
    InferFiltersFromGenerate copy the entire m-subspace encode expression
    into a Filter below the Generate — the full argmin ran TWICE per
    vector, before the spread exchange.  The sequence literal's inferred
    filter constant-folds away, each exploded row evaluates exactly its
    own subspace's argmin (same total work as one encode), and
    ``coalesce(code, -1)`` (never fires — argmin of a non-empty literal
    codebook) makes the join key non-nullable so no ``isnotnull`` filter
    is inferred that would re-evaluate it.  ``bucket_col`` rides the same
    select instead of a second corpus scan + join."""
    m = len(codebook)
    dsub = len(codebook[0][0])

    bkt = ([F.col(bucket_col).alias("_bkt")] if bucket_col is not None
           else [])
    long = df.select(
        F.col(id_col).alias("neighbor_id"), *bkt,
        F.col(vec_col).alias("_v"),
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("_s"))
    code = None
    for s in range(m):
        j = _pq_best(F.col("_v"), codebook, s, exact).getField("j")
        code = (F.when(F.col("_s") == s, j) if code is None
                else code.when(F.col("_s") == s, j))
    codes_long = long.select(
        "neighbor_id", *(["_bkt"] if bucket_col is not None else []),
        "_s", F.coalesce(code.cast("bigint"), F.lit(-1)).alias("_code"))
    join_keys = ["_s", "_code"]
    if bucket_col is not None:
        join_keys.append("_bkt")

    def dtab_entries(v: Column, s: int) -> Column:
        sub = F.slice(_to_double(v), s * dsub + 1, dsub)
        return F.transform(
            _pq_codebook_lit(codebook, s),
            lambda cw, j: F.struct(
                F.lit(s).alias("_s"), j.cast("bigint").alias("_code"),
                _pq_dist(sub, cw, exact).alias("_d")))

    dtab = queries.select(
        F.col(id_col).alias("query_id"),
        *([F.col(bucket_col).alias("_bkt")] if bucket_col is not None else []),
        F.explode(F.flatten(F.array(*[
            dtab_entries(F.col(vec_col), s) for s in range(m)]))).alias("_e")
    ).select("query_id", "_e._s", "_e._code", "_e._d",
             *(["_bkt"] if bucket_col is not None else []))
    adc = (
        codes_long.join(F.broadcast(dtab), join_keys)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("_d").alias("_adc")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("_adc").asc(), F.col("neighbor_id").asc())
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id",
                (F.col("_adc").cast("bigint") if exact
                 else F.round(F.col("_adc") * 1e9).cast("bigint"))
                .alias("adc_dist_e9"),
                F.col("rank").cast("bigint").alias("rank")))


def _embedding_pq_encode_process(self, im, ctx):
    df = im["table"].data
    id_col = self.config.get("id_column", "vec_id")
    vec_col = self.config.get("vector_column", "embedding")
    codebook = self.config.get("codebook") or pq_seed_codebook(
        df, id_col, vec_col,
        **config_kwargs(self, "m", "k"))
    return {"table": pq_encode(df, codebook, vec_col, id_col)}


EmbeddingPQEncode = _simple_module(
    "embedding.pq_encode", {"table": TABLE}, {"table": TABLE},
    _embedding_pq_encode_process,
    doc="Product-quantization encode against a seed or supplied codebook.",
)


def embedding_centroids(
    df: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group centroid components in long form (group, pos, centroid).

    posexplode -> groupBy(group, pos) is THE scalable shape for vector
    aggregation: one shuffle keyed on (group, dim) with map-side partial
    sums, no driver-side vectors, works for any dimensionality.  (The
    array-of-avgs alternative ``F.array(*[avg(col[i]) ...])`` hard-codes the
    dim into the plan and builds d aggregate expressions — fine at d=64,
    pathological at d=4096.)  Long form also sidesteps float-array equality
    in the oracle compare.  Decimal-exact sums (see queries.dsum rationale).
    """
    exploded = df.select(
        F.col(group_col).alias("group_key"),
        F.posexplode(F.col(vec_col)).alias("pos", "val"),
    )
    n = F.count(F.lit(1))
    # float -> string -> decimal: Spark's float->decimal cast expands the
    # exact binary double (0.1f -> 0.1000000015) while DuckDB/Postgres use
    # the float's shortest decimal representation (0.1).  Casting through
    # string makes Spark use the shortest repr too, so decimal sums agree
    # bit-for-bit with the SQL oracle.
    dec = F.col("val").cast("string").cast("decimal(38,10)")
    return (
        exploded.groupBy("group_key", "pos")
        .agg((F.round(F.sum(dec), 4).cast("double") / n).alias("centroid"))
    )


def pca_top_component(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iterations: int = 3,
) -> DataFrame:
    """Top principal component of an embedding column by power iteration
    over the EXACT sample covariance matrix — PCA round 1, the whitening/
    compression primitive every embedding pipeline eventually needs.

    Scale design: the covariance is accumulated in long form — posexplode
    to (id, dim, centered value), one self-join on the row id (d² terms
    per row, collapsed by map-side partial aggregation so only d² cells
    per partition ever shuffle), per-cell products rounded to 9 dp and
    summed as DECIMAL(38,12) (partition-order-invariant); the d² cell
    table is tiny and every matvec round is one join + one decimal-exact
    aggregate (the PageRank recipe), so the whole computation is
    ``iterations`` + 2 shuffles and nothing touches the driver.  Floats
    enter decimals through their shortest string repr (see
    embedding_centroids).  Returns (pos, loading) with the final vector
    L2-normalized (no sign convention applied — the iteration is fully
    deterministic)."""
    x = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.col(vec_col)).alias("pos", "_vf"))
    x = x.select(
        "_id", F.col("pos").cast("bigint").alias("pos"),
        F.col("_vf").cast("double").alias("_v"),
        F.col("_vf").cast("string").cast("decimal(38,10)").alias("_vd"))
    # NOTE: the sum/count division is left UNROUNDED — both engines divide
    # identical operands (exact decimal sum cast to double, same count), so
    # the quotient is bit-identical; a ROUND(x, 9) here would *create*
    # divergence at half-ulp ties (Spark rounds via exact BigDecimal
    # expansion, DuckDB via multiply-round-divide).
    mu = (x.groupBy("pos")
          .agg((F.sum("_vd").cast("double")
                / F.count(F.lit(1))).alias("_mu")))
    from ..io import cut_lineage

    # materialize the centered long form once — BOTH self-join sides read
    # it (without the cut, the explode + mean aggregate runs twice)
    cgrid = cut_lineage(x.join(mu, "pos").select(
        "_id", "pos", (F.col("_v") - F.col("_mu")).alias("_c")))
    nv = df.agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
    a = cgrid.select("_id", F.col("pos").alias("i"), F.col("_c").alias("_ci"))
    b = cgrid.select("_id", F.col("pos").alias("j"), F.col("_c").alias("_cj"))
    # the covariance matrix is SYMMETRIC: accumulate only the upper
    # triangle i <= j (halves the dominant d²-per-row pair stream) and
    # mirror the strict cells afterward — cell (j,i) is the identical
    # decimal sum, so the matvec sees the same full matrix bit-for-bit
    upper = (a.join(b, "_id")
             .filter(F.col("i") <= F.col("j"))
             .groupBy("i", "j")
             .agg(F.sum(F.round(F.col("_ci") * F.col("_cj"), 9)
                        .cast("decimal(38,12)")).alias("_s")))
    full = upper.unionByName(
        upper.filter(F.col("i") < F.col("j"))
        .select(F.col("j").alias("i"), F.col("i").alias("j"), "_s"))
    cov = (full
           .crossJoin(F.broadcast(nv))
           .select("i", "j",
                   (F.col("_s").cast("double")
                    / (F.col("_n") - 1)).alias("_cv")))
    # the covariance scan is the only heavy stage — cut its lineage so the
    # matvec rounds (and the final norm + output passes) reuse the d² cell
    # table instead of re-running the self-join once per downstream branch
    cov = cut_lineage(cov)
    # r12: seed the iteration off the checkpointed centered grid — the
    # previous x.select("pos") re-ran the posexplode over the full scan
    # just to enumerate d dimension ids
    v = cgrid.select("pos").distinct().select(
        "pos", F.lit(1.0).alias("val"))
    # matvec rounds compose LAZILY on the checkpointed d² cell table: each
    # round is one broadcast-size join + aggregate over ≤ d² rows, so three
    # nested rounds are a trivial plan — per-round localCheckpoints here
    # only added eager job barriers (r7: 3 fewer jobs, same hashes; the
    # final-branch double-execution of the last matvec costs ~d² rows,
    # orders of magnitude under one checkpoint's materialization)
    for _ in range(iterations):
        v = (cov.join(v.withColumnRenamed("pos", "j"), "j")
             .groupBy(F.col("i").alias("pos"))
             .agg(F.sum((F.col("_cv") * F.col("val"))
                        .cast("decimal(38,18)")).cast("double")
                  .alias("val")))
    nrm = v.agg(F.sqrt(F.sum(F.round(F.col("val") * F.col("val"), 12)
                             .cast("decimal(38,18)")).cast("double"))
                .alias("_nrm"))
    return (v.crossJoin(F.broadcast(nrm))
            .select("pos",
                    F.when(F.col("_nrm") > 0,
                           F.round(F.col("val") / F.col("_nrm"), 6))
                    .alias("loading"))
            .orderBy("pos"))


EmbeddingCentroids = _simple_module(
    "embedding.centroids", {"table": TABLE}, {"centroids": TABLE},
    lambda self, im, ctx: {"centroids": embedding_centroids(
        im["table"].data,
        **config_kwargs(self, group_col="group_column",
                        vec_col="vector_column"),
    )},
)

EmbeddingNormalize = _simple_module(
    "embedding.normalize", {"table": TABLE}, {"table": TABLE},
    lambda self, im, ctx: {"table": normalize_embeddings(
        im["table"].data,
        **config_kwargs(self, "dims", vec_col="vector_column"),
    )},
)

EmbeddingQuantizeInt8 = _simple_module(
    "embedding.quantize_int8", {"table": TABLE}, {"table": TABLE},
    lambda self, im, ctx: {"table": quantize_embeddings_int8(
        im["table"].data,
        **config_kwargs(self, "levels", vec_col="vector_column"),
    )},
)


def _similarity_top_k_process(self, im, ctx):
    method = self.config.get("method", "bruteforce")
    fn = {"bruteforce": cosine_topk_bruteforce, "ivf": cosine_topk_ivf,
          "pandas": knn_join_pandas, "rplsh": cosine_topk_rplsh}[method]
    extra = {"ivf": {"bucket_col": "bucket_column"},
             "rplsh": {"n_planes": "n_planes"}}.get(method, {})
    return {"neighbors": fn(im["corpus"].data, im["queries"].data,
                            **config_kwargs(self, "k", **extra))}


SimilarityTopK = _simple_module(
    "embedding.similarity.topk",
    {"corpus": TABLE, "queries": TABLE},
    {"neighbors": TABLE},
    _similarity_top_k_process,
)

EmbeddingNearDup = _simple_module(
    "table.dedup.embedding_cosine", {"table": TABLE}, {"pairs": TABLE},
    lambda self, im, ctx: {"pairs": embedding_neardup_pairs(
        im["table"].data,
        **config_kwargs(self, "threshold", id_col="id_column",
                        vec_col="vector_column", bucket_col="bucket_column"),
    )},
)


def kmeans_lloyd(
    df: DataFrame,
    k: int = 4,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed Lloyd k-means over an embedding column, bit-deterministic
    across engines and partitionings.

    Design (the standard distributed k-means shape — MLlib does the same):
    - init: centroids = the vectors of the ``k`` LOWEST ids (deterministic;
      k-means++ would need a random stream that no SQL oracle reproduces).
    - assignment is MAP-ONLY: the k x d centroid matrix embeds as literal
      expressions (k·d doubles — bounded, tiny), so each scan computes all
      k distances in whole-stage codegen with NO shuffle and NO UDF.
      Squared-L2 terms cast to DECIMAL(38,10) before summing: decimal
      addition is exact, so distances are identical in any order and ties
      break on cluster index via one array_min over (dist, idx) structs.
    - update is ONE shuffle: posexplode to (cluster, dim, v), hash-aggregate
      decimal sums (map-side combine), round-then-divide for portable
      means, and collect the k·d result to the driver — the only driver
      transfer, bounded by k·d not data size.  Empty clusters keep their
      previous centroid.

    Each iteration = one scan + one (cluster, dim)-key aggregate; lineage
    never grows because centroids re-enter as literals.  Returns
    (id, cluster, dist_sq) for the final assignment."""
    _, assign = _kmeans_fit(df, k, n_iter, id_col, vec_col)
    out = assign(df)
    return out.select(
        F.col(id_col), "cluster",
        F.round(F.col("_dist"), 6).cast("double").alias("dist_sq"))


def _kmeans_fit(
    df: DataFrame,
    k: int,
    n_iter: int,
    id_col: str,
    vec_col: str,
):
    """Shared Lloyd training loop (see :func:`kmeans_lloyd` for the full
    design notes).  Returns (centroids, assign) where ``assign`` maps a
    frame to itself + (cluster, _dist) columns and also exposes the
    all-centroid candidate array builder as ``assign.cands`` for
    consumers that need every distance (silhouette)."""
    init = (df.orderBy(id_col).limit(k)
            .select(id_col, vec_col).collect())
    if len(init) < k:
        raise ValueError(f"k={k} exceeds row count {len(init)}")
    centroids = [[float(x) for x in r[vec_col]] for r in init]
    d = len(centroids[0])

    def dist_expr(c: list[float]):
        # fold with headroom-sized decimals: DECIMAL(38,10)+DECIMAL(38,10)
        # wants precision 39, and Spark's precision-loss rule caps it by
        # SHRINKING scale (silently truncating distances); with term
        # DECIMAL(25,10) and accumulator DECIMAL(30,10) the add lands at
        # (31,10) — exact, scale preserved — and the re-cast keeps the
        # accumulator type stable across the fold.
        # one zip_with against the literal centroid array instead of d
        # element_at terms: same per-element arithmetic (float widens to
        # double exactly, identical IEEE result), but the expression tree is
        # ~4x smaller, which cuts Catalyst analysis + codegen time — the
        # dominant cost of literal-centroid k-means (18s -> 6.5s for
        # k=4,d=64,2 iters at sf0.1; the data work is one scan per round).
        cent = F.array(*[F.lit(ci) for ci in c])
        terms = F.zip_with(
            F.col(vec_col), cent,
            lambda x, m: ((x - m) * (x - m)).cast("decimal(25,10)"))
        return F.aggregate(
            terms, F.lit(0).cast("decimal(30,10)"),
            lambda acc, x: (acc + x).cast("decimal(30,10)")
        ).cast("decimal(38,10)")

    def cands_expr():
        return F.array(*[
            F.struct(dist_expr(c).alias("dist"), F.lit(j).alias("cid"))
            for j, c in enumerate(centroids)
        ])

    def assign(data: DataFrame) -> DataFrame:
        best = F.array_min(cands_expr())
        return data.withColumn("_best", best).select(
            *data.columns,
            F.col("_best.cid").alias("cluster"),
            F.col("_best.dist").alias("_dist"))

    assign.cands = cands_expr

    for _ in range(n_iter):
        assigned = assign(df)
        rows = (
            assigned.select("cluster",
                            F.posexplode(F.col(vec_col)).alias("dim", "v"))
            .groupBy("cluster", "dim")
            .agg((F.round(F.sum(F.col("v").cast("decimal(38,10)")), 6)
                  .cast("double") / F.count(F.lit(1))).alias("c"))
            .collect()
        )
        new_c: dict[int, dict[int, float]] = {}
        for r in rows:
            new_c.setdefault(r["cluster"], {})[r["dim"]] = r["c"]
        centroids = [
            [new_c[j][i] for i in range(d)] if j in new_c else centroids[j]
            for j in range(k)
        ]

    return centroids, assign


def kmeans_silhouette(
    df: DataFrame,
    k: int = 4,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SIMPLIFIED silhouette score for the deterministic Lloyd fit — the
    clustering-quality readout (Hruschka et al.'s simplified variant:
    distances to CENTROIDS, not all points, so it stays O(n·k) and
    distributes as a pure map where the classical silhouette is O(n²)):

        s(x) = (b − a) / max(a, b),   a = ‖x − c_own‖, b = min_{j≠own} ‖x − c_j‖

    One extra map-only pass after training: the k candidate distances are
    already literal-centroid expressions, ``array_sort`` picks nearest +
    second-nearest in-plan (sqrt is IEEE-correctly-rounded, so even it is
    bit-portable), per-point s rounds to 9 dp and cluster means accumulate
    decimal-exact.  Returns per cluster: (cluster, n, mean_sil, min_sil,
    max_sil)."""
    _, assign = _kmeans_fit(df, k, n_iter, id_col, vec_col)
    # Stage the sorted candidate array once (r12, guide §1.2): the cluster
    # id and the three av/bv references would otherwise each re-run the
    # full k-centroid decimal fold + sort — this lambda-bearing Project
    # has no subexpression elimination.  Same expressions → same values.
    staged = df.withColumn("_rk", F.array_sort(assign.cands()))
    a2 = F.element_at(F.col("_rk"), 1)
    b2 = F.element_at(F.col("_rk"), 2)
    av = F.sqrt(a2["dist"].cast("double"))
    bv = F.sqrt(b2["dist"].cast("double"))
    s = F.when(F.greatest(av, bv) > 0,
               F.round((bv - av) / F.greatest(av, bv), 9)) \
        .otherwise(F.lit(0.0))
    pts = staged.select(a2["cid"].alias("cluster"), s.alias("_s"))
    return pts.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.sum(F.col("_s").cast("decimal(38,12)")).cast("double")
                / F.count(F.lit(1)), 6).alias("mean_sil"),
        F.round(F.min("_s"), 6).alias("min_sil"),
        F.round(F.max("_s"), 6).alias("max_sil"))


def dbscan(
    df: DataFrame,
    eps: float,
    min_pts: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact DBSCAN density clustering (Ester et al. 1996) — the
    clustering family's density member next to :func:`kmeans_lloyd`
    (centroid) and :func:`semantic_dedup` (threshold-graph): a point is
    CORE when ≥ ``min_pts`` points (itself included) lie within ``eps``;
    clusters are the connected components of the core-core ε-graph;
    non-core points adopt the min-labeled core neighbor (BORDER) or stay
    NOISE (cluster −1).

    Scale design — the RDD-DBSCAN / MR-DBSCAN shape, no O(N²) pair space:
    candidate pairs come from an ε-cell GRID on the first two vector
    dims (each point joins only its 3×3 cell neighborhood — projection
    distance lower-bounds full distance, so pruning is EXACT at any
    dimensionality; the grid dims must carry locality for the pruning to
    be effective, the caller's contract).  Distances accumulate as a
    fixed-order fold over per-dim squared diffs (the `_PAIR_DOT`
    portability rule — no sqrt: the compare is dist² ≤ eps²), neighbor
    counts are one hash aggregate, and components run through
    :func:`kiara_spark.operators.graph.connected_components` (driver
    union-find under the gate, hash-min label propagation above it —
    min-id labels either way).  Dense cliques materialize O(n_c²)
    core-core edges per cluster — the standard exact-DBSCAN cost; cap
    cluster density upstream (e.g. pre-dedup) when that bites.

    Determinism: cell ids are exact floor arithmetic, dist² compares
    identically-derived doubles against the literal eps², labels are
    min-id selections — no accumulation-order float sums anywhere.
    Returns (``id_col``, n_neighbors, is_core, cluster) with cluster =
    min member id of the component, −1 for noise."""
    from .graph import connected_components

    e2 = float(eps) * float(eps)
    pts = df.select(F.col(id_col).cast("bigint").alias("_id"),
                    _to_double(F.col(vec_col)).alias("_v"))
    cx = F.floor(F.element_at("_v", 1) / F.lit(float(eps))).cast("bigint")
    cy = F.floor(F.element_at("_v", 2) / F.lit(float(eps))).cast("bigint")
    cells = pts.select("_id", "_v", cx.alias("_cx"), cy.alias("_cy"))
    offsets = F.array(*[F.struct(F.lit(dx).alias("dx"),
                                 F.lit(dy).alias("dy"))
                        for dx in (-1, 0, 1) for dy in (-1, 0, 1)])
    probe = (cells.select("_id", "_v",
                          F.explode(offsets).alias("_o"),
                          "_cx", "_cy")
             .select(F.col("_id").alias("_ida"), F.col("_v").alias("_va"),
                     (F.col("_cx") + F.col("_o.dx")).alias("_jx"),
                     (F.col("_cy") + F.col("_o.dy")).alias("_jy")))
    build = cells.select(F.col("_id").alias("_idb"),
                         F.col("_v").alias("_vb"), "_cx", "_cy")
    dist2 = F.aggregate(
        F.zip_with("_va", "_vb", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, x: acc + x)
    nb = (probe.join(build, (F.col("_jx") == F.col("_cx"))
                     & (F.col("_jy") == F.col("_cy"))
                     & (F.col("_ida") != F.col("_idb")))
          .select("_ida", "_idb", dist2.alias("_d2"))
          .filter(F.col("_d2") <= F.lit(e2))
          .select("_ida", "_idb"))
    # Materialize the ε-pair set ONCE: nb feeds three independent
    # consumers (neighbor counts, the core-core edge list -> connected
    # components, border adoption) plus the final assembly — without the
    # cut, each consumer re-runs the 9-cell explode + grid join + per-dim
    # distance fold, the single expensive step of the whole job (the
    # un-cut plan held 24 parquet scans / 20 joins for ONE logical pair
    # join).  Together with the star-contraction pre-round in
    # connected_components this took the query 13.0s -> 4.7s isolated at
    # sf0.1 (r12); at 100 TB the candidate join runs once, not five times.
    from ..io import cut_lineage

    nb = cut_lineage(nb)
    counts = nb.groupBy("_ida").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_neighbors"))
    cores = (counts.filter(F.col("n_neighbors") >= min_pts - 1)
             .select(F.col("_ida").alias("_core_id")))
    core_edges = (nb
                  .join(cores.withColumnRenamed("_core_id", "_ida"), "_ida")
                  .join(cores.withColumnRenamed("_core_id", "_idb"), "_idb")
                  .filter(F.col("_ida") < F.col("_idb"))
                  .select(F.col("_ida").alias("src"),
                          F.col("_idb").alias("dst")))
    comp = connected_components(core_edges)
    core_label = (cores
                  .join(comp.withColumnRenamed("id", "_core_id"),
                        "_core_id", "left")
                  .select("_core_id",
                          F.coalesce(F.col("component"), F.col("_core_id"))
                          .alias("_label"),
                          F.lit(1).alias("_is_core")))
    border_label = (nb
                    .join(core_label
                          .select(F.col("_core_id").alias("_idb"),
                                  F.col("_label")),
                          "_idb")
                    .groupBy("_ida")
                    .agg(F.min("_label").alias("_blabel")))
    return (pts.select("_id")
            .join(counts.withColumnRenamed("_ida", "_id"), "_id", "left")
            .join(core_label.withColumnRenamed("_core_id", "_id"),
                  "_id", "left")
            .join(border_label.withColumnRenamed("_ida", "_id"),
                  "_id", "left")
            .select(
                F.col("_id").alias(id_col),
                F.coalesce("n_neighbors", F.lit(0)).cast("bigint")
                .alias("n_neighbors"),
                F.coalesce("_is_core", F.lit(0)).cast("int")
                .alias("is_core"),
                F.coalesce(F.when(F.col("_is_core") == 1, F.col("_label"))
                           .otherwise(F.col("_blabel")),
                           F.lit(-1)).cast("bigint").alias("cluster")))


EmbeddingDbscan = _simple_module(
    "embedding.dbscan", {"table": TABLE}, {"assignments": TABLE},
    lambda self, im, ctx: {"assignments": dbscan(
        im["table"].data,
        eps=self.config["eps"],
        **config_kwargs(self, "min_pts", id_col="id_column",
                        vec_col="vector_column"))},
    doc="Exact grid-blocked DBSCAN density clustering (see dbscan).",
)

EmbeddingKMeans = _simple_module(
    "embedding.kmeans", {"table": TABLE}, {"assignments": TABLE},
    lambda self, im, ctx: {"assignments": kmeans_lloyd(
        im["table"].data,
        **config_kwargs(self, "k", "n_iter", id_col="id_column",
                        vec_col="vector_column"))},
    doc="Fixed-iteration deterministic Lloyd k-means (see kmeans_lloyd).",
)


def semantic_dedup(
    df: DataFrame,
    k: int = 4,
    n_iter: int = 2,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, 'SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication'): k-means the embedding
    space, then WITHIN each cluster drop every item whose cosine
    similarity to a lower-id cluster-mate reaches ``threshold`` — semantic
    near-duplicates land in the same cluster, so the quadratic cosine
    check runs over O((N/k)^2) per cluster instead of N^2, and k scales
    with the corpus to keep clusters bounded.

    Deterministic end-to-end: the k-means is the bit-stable
    :func:`kmeans_lloyd` (lowest-id init, decimal-exact arithmetic) and
    the keep rule is min-id-wins, so a SQL oracle reproduces the whole
    pipeline exactly.

    Plan shape: kmeans (n_iter scans + tiny driver centroid transfers) ->
    one join to attach clusters -> within-cluster pair join with
    precomputed norms -> anti-join drops.  Returns (id, cluster, kept)."""
    # the input count gates the broadcast paths below; the assignment is
    # map-only over every row, so |clustered| == |df| and this stays a
    # cheap metadata-level count of the input
    n = df.count()
    # r12: attach clusters with the MAP-ONLY assignment expression instead
    # of joining kmeans_lloyd's (id, cluster) output back by id — the
    # assignment is a literal-centroid argmin over the row's own vector,
    # so the id-keyed shuffle join moved the whole vector table for
    # nothing.  Same centroids (same deterministic fit), same clusters.
    _, _assign = _kmeans_fit(df, k, n_iter, id_col, vec_col)
    # lineage-cut the clustered set: it feeds BOTH sides of the pair
    # self-join and the final keep join — otherwise the kmeans assignment
    # scan re-executes three times.  cut_lineage (lazy local
    # checkpoint) instead of .cache(): checkpoint blocks release when the
    # Python refs drop (the bench loop's gc discipline), while CacheManager
    # entries would pin storage until an explicit unpersist.
    from ..io import cut_lineage

    clustered = cut_lineage(
        _assign(df.select(F.col(id_col), F.col(vec_col)))
        .select(F.col(id_col), F.col(vec_col), F.col("cluster")))
    pairs = embedding_neardup_pairs(
        clustered, threshold, id_col, vec_col, bucket_col="cluster",
        broadcast_rows=n)
    dropped = (pairs.select(F.col("id_b").alias(id_col)).distinct()
               .withColumn("_dropped", F.lit(True)))
    if n <= 500_000:  # dropped ⊆ input, so the same small-corpus gate holds
        dropped = F.broadcast(dropped)
    return (
        clustered.join(dropped, id_col, "left")
        .select(F.col(id_col), F.col("cluster"),
                F.coalesce(~F.col("_dropped"), F.lit(True)).alias("kept"))
    )


EmbeddingSemanticDedup = _simple_module(
    "table.dedup.semantic", {"table": TABLE}, {"table": TABLE},
    lambda self, im, ctx: {"table": semantic_dedup(
        im["table"].data,
        **config_kwargs(self, "k", "n_iter", "threshold", id_col="id_column",
                        vec_col="vector_column"))},
    doc="""SemDeDup: k-means clusters -> within-cluster cosine prune
    (see semantic_dedup).""",
)


def _embedding_pq_top_k_process(self, im, ctx):
    df = im["table"].data
    id_col = self.config.get("id_column", "vec_id")
    vec_col = self.config.get("vector_column", "embedding")
    codebook = self.config.get("codebook") or pq_seed_codebook(
        df, id_col, vec_col,
        **config_kwargs(self, "m", k="codebook_k"))
    return {"table": pq_topk_adc(
        df, im["queries"].data, codebook, vec_col=vec_col, id_col=id_col,
        **config_kwargs(self, "k"))}


EmbeddingPQTopK = _simple_module(
    "embedding.pq_topk", {"table": TABLE, "queries": TABLE}, {"table": TABLE},
    _embedding_pq_top_k_process,
    doc="ADC top-k retrieval over PQ codes (serving half of IVF-PQ).",
)

EmbeddingPcaTop = _simple_module(
    "embedding.pca_top_component", {"table": TABLE}, {"component": TABLE},
    lambda self, im, ctx: {"component": pca_top_component(
        im["table"].data,
        **config_kwargs(self, "iterations", vec_col="vector_column",
                        id_col="id_column"))},
)

EmbeddingKMeansSilhouette = _simple_module(
    "embedding.kmeans_silhouette", {"table": TABLE}, {"table": TABLE},
    lambda self, im, ctx: {"table": kmeans_silhouette(
        im["table"].data,
        **config_kwargs(self, "k", "n_iter", id_col="id_column",
                        vec_col="vector_column"))},
    doc="Simplified (centroid-based) silhouette for the Lloyd fit.",
)

EmbeddingKnnClassify = _simple_module(
    "embedding.knn_classify",
    {"corpus": TABLE, "queries": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": knn_classify(
        im["corpus"].data, im["queries"].data,
        **config_kwargs(self, "k", id_col="id_column", vec_col="vector_column",
                        label_col="label_column"))},
    doc="k-NN majority-vote classification over embeddings.",
)

EmbeddingTopkRecall = _simple_module(
    "embedding.topk_recall",
    {"exact": TABLE, "approx": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": topk_recall(
        im["exact"].data, im["approx"].data)},
    doc="Recall@k of an approximate top-k result vs exact ground truth.",
)

EmbeddingTruncatedDimRecall = _simple_module(
    "embedding.truncated_dim_recall", {"table": TABLE}, {"table": TABLE},
    lambda self, im, ctx: {"table": truncated_dim_recall(
        im["table"].data,
        dims=self.config.get("dims", 16),
        **config_kwargs(self, "k", "query_filter", id_col="id_column",
                        vec_col="vector_column"))},
    doc="""Matryoshka dimension-ablation eval: recall@k of first-``dims``
    prefix search against full-dimension exact top-k.""",
)


MODULES = [SimilarityTopK, EmbeddingNearDup, EmbeddingCentroids,
           EmbeddingKMeans, EmbeddingNormalize, EmbeddingQuantizeInt8,
           EmbeddingPQEncode, EmbeddingPQTopK, EmbeddingSemanticDedup,
           EmbeddingPcaTop, EmbeddingTopkRecall, EmbeddingKMeansSilhouette,
           EmbeddingKnnClassify, EmbeddingTruncatedDimRecall,
           EmbeddingDbscan]
OPERATIONS = [
    Operation("embedding.similarity.topk", "embedding.similarity.topk"),
    Operation("embedding.pq_encode", "embedding.pq_encode"),
    Operation("embedding.pq_topk", "embedding.pq_topk"),
    Operation("embedding.normalize", "embedding.normalize"),
    Operation("embedding.quantize_int8", "embedding.quantize_int8"),
    Operation("embedding.similarity.topk.ivf", "embedding.similarity.topk", {"method": "ivf"}),
    Operation("table.dedup.embedding_cosine", "table.dedup.embedding_cosine"),
    Operation("embedding.centroids", "embedding.centroids"),
    Operation("embedding.kmeans", "embedding.kmeans"),
    Operation("table.dedup.semantic", "table.dedup.semantic"),
    Operation("embedding.pca_top_component", "embedding.pca_top_component"),
    Operation("embedding.topk_recall", "embedding.topk_recall"),
    Operation("embedding.kmeans_silhouette",
              "embedding.kmeans_silhouette"),
    Operation("embedding.knn_classify", "embedding.knn_classify"),
    Operation("embedding.truncated_dim_recall",
              "embedding.truncated_dim_recall",
              doc="Matryoshka prefix-dimension recall@k ablation"),
    Operation("embedding.dbscan", "embedding.dbscan",
              doc="exact grid-blocked DBSCAN density clustering "
                  "(Ester et al. 1996): eps-cell candidate pruning, "
                  "core/border/noise labels via connected components"),
]
