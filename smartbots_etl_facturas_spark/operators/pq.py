"""Product quantization (PQ) ANN tier — compressed-domain scoring
(Jégou, Douze & Schmid 2011, "Product quantization for nearest
neighbor search"; the FAISS IVFPQ architecture), split out of
operators/similarity.py: codebook training, corpus encoding,
per-query ADC lookup tables, and the two-stage IVF-PQ top-k.

See operators/similarity.py for the shared substrate (norms, exact
decimal means, the matmul/expr assignment tiers, IVF coarse
quantization) and operators/ann_index.py for the persisted
build-once/probe-many form of the same dataflow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .similarity import (
    _dot,
    _exact_mean,
    _exact_mean_aggs,
    kmeans_centroids,
    with_cells_matmul,
    with_norm,
)


# --- PQ: product quantization (compressed-domain scoring) -------------------

def adc_sum_expr(m: int, k_sub: int, codes_col: str = "codes",
                 lut_col: str = "lut"):
    """The ADC score Σ_s lut[s·k_sub + codes[s]] as an UNROLLED
    codegen'd sum over the ``m`` subspaces (1-based ``element_at``).

    Bit-identical to the higher-order-function form it replaces
    (``aggregate(zip_with(codes, sequence(0, m-1), …), 0.0, acc+v)``):
    the terms are added left-to-right starting from 0.0, the same IEEE
    fold order. The HOF form is CodegenFallback — interpreted per
    element with boxing on every candidate row — which dominated the
    compressed-domain scoring stage at candidate scale (optimization
    guide §4.1); the unrolled form whole-stage-codegens."""
    out = F.lit(0.0)
    for s in range(m):
        out = out + F.element_at(
            F.col(lut_col),
            (F.lit(s * k_sub) + F.element_at(F.col(codes_col), s + 1)
             + F.lit(1)).cast("int"),
        )
    return out

def pq_codebooks(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    k_sub: int = 16,
    iters: int = 2,
) -> list[list[list[float]]]:
    """Train per-subspace PQ codebooks (Jégou et al. 2011, "Product
    quantization for nearest neighbor search"): split d dims into
    ``m`` contiguous subspaces and run EUCLIDEAN Lloyd k-means with
    ``k_sub`` centroids in each — all ``m`` subspaces trained in the
    SAME DataFrame job per iteration (vectors explode into (sub,
    subvec) rows; one Arrow-batched assignment kernel + one groupBy
    per iteration, not m separate jobs).

    Deterministic: seeds are the subvectors of the ``k_sub`` corpus
    vectors with the smallest ``xxhash64(id)`` (same rule as
    :func:`kmeans_centroids`); per-(sub, cell, pos) means are rounded
    to 6 decimals so codebooks — hence codes, hence recall — are
    bit-identical across partition orderings. Empty cells keep their
    previous centroid. Driver holds only the m × k_sub × d_sub
    codebook tensor.
    """
    import numpy as np

    dim = len(corpus.select(vec_col).first()[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d_sub = dim // m

    seeds = (
        corpus.select(F.col(vec_col).alias("v"))
        .orderBy(F.xxhash64(F.col(id_col)))
        .limit(k_sub)
        .collect()
    )
    books = np.array(
        [[[float(x) for x in r.v[s * d_sub:(s + 1) * d_sub]] for r in seeds]
         for s in range(m)],
        dtype=np.float64,
    )  # m × k_sub × d_sub

    subvecs = corpus.select(
        F.explode(
            F.expr(
                f"transform(sequence(0, {m - 1}), "
                f"s -> struct(s AS sub, slice({vec_col}, s * {d_sub} + 1, {d_sub}) AS sv))"
            )
        ).alias("e")
    ).select(F.col("e.sub").alias("sub"), F.col("e.sv").alias("sv"))

    for _ in range(iters):
        assigned = _pq_assign(subvecs, books, "sv", "sub")
        sums = (
            assigned.select("sub", "code", F.posexplode("sv").alias("pos", "x"))
            .groupBy("sub", "code", "pos")
            .agg(*_exact_mean_aggs())
            .collect()
        )
        nxt = books.copy()
        for r in sums:
            nxt[r.sub, r.code, r.pos] = _exact_mean(r)
        books = nxt
    return [[list(c) for c in books[s]] for s in range(m)]


def _pq_assign(df: DataFrame, books, sv_col: str, sub_col: str) -> DataFrame:
    """Nearest-codeword assignment for (sub, subvec) rows: per Arrow
    batch, one numpy matmul per subspace present against that
    subspace's (k_sub × d_sub) codebook, argmin of the euclidean
    distance (= argmin ||c||² - 2·dot; first-occurrence tie rule)."""
    import numpy as np

    from pyspark.sql import types as T

    B = np.asarray(books, dtype=np.float64)              # m × k × d_sub
    bias = (B * B).sum(axis=2)                           # m × k  (||c||²)
    out_schema = T.StructType(
        df.schema.fields + [T.StructField("code", T.IntegerType(), False)]
    )

    def _batches(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.empty(len(pdf), dtype=np.int32)
            subs = pdf[sub_col].to_numpy()
            svs = pdf[sv_col].to_numpy()
            for s in np.unique(subs):
                sel = np.nonzero(subs == s)[0]
                V = np.stack(svs[sel]).astype(np.float64)    # n_s × d_sub
                D = bias[s][None, :] - 2.0 * (V @ B[s].T)    # n_s × k
                codes[sel] = D.argmin(axis=1)
            yield pdf.assign(code=codes)

    return df.mapInPandas(_batches, out_schema)


def pq_encode(
    df: DataFrame,
    books,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_id: str = "vec_id",
) -> DataFrame:
    """Encode vectors to their PQ code arrays: (out_id, codes
    array<int> of length m) — m bytes of storage per vector instead
    of 4·d, the compression that lets a 100 TB corpus's index live in
    executor memory. One Arrow batch pass, all subspaces per batch."""
    import numpy as np

    from pyspark.sql import types as T

    B = np.asarray(books, dtype=np.float64)
    m, _, d_sub = B.shape
    bias = (B * B).sum(axis=2)
    out_schema = T.StructType([
        T.StructField(out_id, T.LongType(), False),
        T.StructField("codes", T.ArrayType(T.IntegerType()), False),
    ])

    def _batches(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)  # n × d
            n = len(V)
            codes = np.empty((n, m), dtype=np.int32)
            for s in range(m):
                Vs = V[:, s * d_sub:(s + 1) * d_sub]
                D = bias[s][None, :] - 2.0 * (Vs @ B[s].T)
                codes[:, s] = D.argmin(axis=1)
            yield pd.DataFrame({out_id: pdf[id_col].to_numpy(),
                                "codes": list(codes)})

    return df.mapInPandas(_batches, out_schema)


def _pq_lut(
    queries: DataFrame,
    books,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-query ADC lookup table: lut[s·k_sub + j] = dot(q_s, c_sj)
    (inner-product ADC — asymmetric distance computation with the
    query uncompressed), flattened to one array<double> per query."""
    import numpy as np

    from pyspark.sql import types as T

    B = np.asarray(books, dtype=np.float64)
    m, k_sub, d_sub = B.shape
    out_schema = T.StructType([
        T.StructField("query_id", T.LongType(), False),
        T.StructField("lut", T.ArrayType(T.DoubleType()), False),
    ])

    def _batches(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            n = len(V)
            lut = np.empty((n, m * k_sub), dtype=np.float64)
            for s in range(m):
                Vs = V[:, s * d_sub:(s + 1) * d_sub]
                lut[:, s * k_sub:(s + 1) * k_sub] = Vs @ B[s].T
            yield pd.DataFrame({"query_id": pdf[id_col].to_numpy(),
                                "lut": list(lut)})

    return queries.mapInPandas(_batches, out_schema)


def cosine_topk_ivfpq(
    queries: DataFrame,
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    m: int = 8,
    k_sub: int = 16,
    rerank: int = 32,
    train_iters: int = 2,
    return_candidates: bool = False,
) -> DataFrame:
    """IVF-PQ: the standard billion-scale ANN architecture (FAISS's
    IVFPQ) as pure dataflow — coarse IVF cells prune the candidate
    set, PQ codes score the survivors in the COMPRESSED domain (m
    table lookups per pair instead of d multiplies; m bytes per
    corpus vector instead of 4·d), and the top-``rerank`` per query
    are re-scored exactly and re-ranked.

    Plan shape: candidates from an equi-join on ``cell`` (never a
    cross join); the PQ score is a JVM expression fold over the m
    codes against the broadcast per-query LUT; only the rerank
    survivors touch full vectors again. Deterministic end to end:
    both trainings round their means (bit-identical codebooks), ADC
    sums fold in fixed subspace order, ties break on neighbor id.
    """
    # The coarse-quantizer and PQ-codebook trainings are INDEPENDENT
    # serial chains of small driver-coordinated jobs (seed top-k +
    # one assignment/mean job per iteration each). Run them on two
    # driver threads so the chains' jobs overlap on the cluster
    # (optimization guide §2.6 "overlap independent jobs"); each
    # training is self-contained and deterministic, so the result is
    # bit-identical to the sequential form. The threads inherit the
    # caller's job group, so their jobs stay attributed to it.
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    inherit = inheritable_thread_target(corpus.sparkSession)
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_coarse = pool.submit(
            inherit(kmeans_centroids), corpus, vec_col, id_col,
            k=n_cells, iters=train_iters,
        )
        f_books = pool.submit(
            inherit(pq_codebooks), corpus, vec_col, id_col,
            m=m, k_sub=k_sub, iters=train_iters,
        )
        coarse = f_coarse.result()
        books = f_books.result()

    cn = with_norm(corpus, vec_col)
    c_cells = with_cells_matmul(
        cn.select(F.col(id_col).alias("neighbor_id"),
                  F.col(vec_col).alias("__cv"),
                  F.col("__norm").alias("__cn")),
        coarse, "__cv",
    )
    c_codes = pq_encode(corpus, books, vec_col, id_col, out_id="neighbor_id")
    qn = with_norm(queries, vec_col)
    q_probe = with_cells_matmul(
        qn.select(F.col(id_col).alias("query_id"),
                  F.col(vec_col).alias("__qv"),
                  F.col("__norm").alias("__qn")),
        coarse, "__qv", nprobe=nprobe,
    )
    q_lut = _pq_lut(queries, books, vec_col, id_col)

    # candidate generation (cell equi-join) + compressed-domain score:
    # approx_ip = Σ_s lut[s·k_sub + codes[s]]  (1-based element_at)
    # candidates carry ONLY the (query_id, neighbor_id) pair — the full
    # query vector re-joins after the rerank cut, so the hot
    # compressed-domain joins and the row_number shuffle move m-byte
    # codes + an 8-byte score per row, not d doubles per candidate
    # (mirroring how corpus vectors are handled).
    cand = (
        q_probe.join(c_cells.select("neighbor_id", "cell"), on="cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
    )
    scored = (
        cand.join(F.broadcast(q_lut), "query_id")
        .join(c_codes, "neighbor_id")
        .withColumn("approx_ip", adc_sum_expr(m, k_sub))
    )
    w_r = Window.partitionBy("query_id").orderBy(
        F.desc("approx_ip"), F.col("neighbor_id")
    )
    survivors = (
        scored.withColumn("__r", F.row_number().over(w_r))
        .filter(F.col("__r") <= rerank)
        .select("query_id", "neighbor_id")
    )
    if return_candidates:
        # the exact-rerank stage's input (ADC top-``rerank`` per
        # query) — exposed so the rerank arithmetic can be
        # value-oracled over a frozen fixture (round-11)
        return survivors
    exact = survivors.join(
        cn.select(F.col(id_col).alias("neighbor_id"),
                  F.col(vec_col).alias("__cv"),
                  F.col("__norm").alias("__cn")),
        "neighbor_id",
    ).join(
        F.broadcast(
            qn.select(F.col(id_col).alias("query_id"),
                      F.col(vec_col).alias("__qv"),
                      F.col("__norm").alias("__qn"))
        ),
        "query_id",
    ).withColumn(
        "cosine",
        _dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn")),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )
