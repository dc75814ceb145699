"""Persisted IVF-PQ index: the build-once / probe-many split every
real vector-serving path has (FAISS writes an index file; a 100 TB
corpus trains coarse centroids + PQ codebooks + encodes codes ONCE in
a batch job, then thousands of query batches probe the stored index
without ever touching the training path again).

The index is three tables written through the versioned sink
(sinks/staged.py — atomic pointer flip, snapshots retained, so an
index rebuild never disturbs in-flight probes and a bad rebuild rolls
back by pointer):

- ``<base>/centroids``  (cell int, centroid array<double>) — k rows
- ``<base>/codebooks``  (sub int, code int, vec array<double>) —
  m·k_sub rows
- ``<base>/codes``      (neighbor_id long, cell int, codes
  array<int>) — ONE corpus-scale table, m bytes of PQ code + a cell
  id per vector (the 100 TB object: ~17 bytes/vector instead of 4·d)

Probing loads the two bounded metadata tables to the driver (k×d +
m·k_sub·d_sub doubles — the same footprint the in-query trainer
holds) and runs the identical candidate-generation → ADC →
exact-rerank dataflow as :func:`~.similarity.cosine_topk_ivfpq`, so
given the same parameters the probe's results are bit-identical to
the train-in-query tier (same codebooks modulo the deterministic
trainer, same ADC fold order, same tie rule).

Reference parity note: the reference engine has no ANN at all — this
module exists for the engine's own LLM-data-pipeline surface; the
persistence pattern reuses S11's versioned publish
(sinks/staged.py:67-99).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sinks.staged import current_version, publish, read_published

#: segment-manifest table name under the index base (round-12
#: incremental maintenance): ``ordinal int, segment string`` rows in
#: probe-union order; flipping the manifest pointer IS the atomic
#: commit of an append (a crash after the segment publish but before
#: the manifest publish leaves an unreferenced directory no reader
#: ever sees — the staged-sink forensics discipline).
_MANIFEST = "codes_manifest"
from .pq import _pq_lut, adc_sum_expr, pq_codebooks, pq_encode
from .similarity import (
    _dot,
    kmeans_centroids,
    with_cells_matmul,
    with_norm,
)


def build_ivfpq_index(
    corpus: DataFrame,
    base: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 16,
    m: int = 8,
    k_sub: int = 16,
    train_iters: int = 2,
    train_on: DataFrame | None = None,
) -> dict[str, str]:
    """Train and persist an IVF-PQ index for ``corpus`` under
    ``base``; returns the published version id per component table.

    Training is the same deterministic pair as the in-query tier
    (hash-ordered seeds, exact-decimal means rounded to 6 decimals),
    so rebuilding over identical data republishes identical artifacts.

    ``train_on``: optional training sample distinct from the encoded
    corpus — the FAISS-standard split (codebooks fit on a sample, the
    whole corpus encoded with them). This is also what makes the
    incremental contract provable: an index built over the FULL corpus
    with ``train_on=base`` is bit-identical to one built over ``base``
    and extended with :func:`append_ivfpq_delta` (same codebooks, same
    per-vector encoding — see tests/test_similarity.py).
    """
    spark = corpus.sparkSession
    trainer = corpus if train_on is None else train_on
    # independent training chains overlapped on two driver threads
    # (guide §2.6) — same policy as cosine_topk_ivfpq; deterministic
    # trainings, bit-identical to the sequential form
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    inherit = inheritable_thread_target(trainer.sparkSession)
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_coarse = pool.submit(
            inherit(kmeans_centroids), trainer, vec_col, id_col,
            k=n_cells, iters=train_iters,
        )
        f_books = pool.submit(
            inherit(pq_codebooks), trainer, vec_col, id_col,
            m=m, k_sub=k_sub, iters=train_iters,
        )
        coarse = f_coarse.result()
        books = f_books.result()

    cent_df = spark.createDataFrame(
        [(j, [float(x) for x in c]) for j, c in enumerate(coarse)],
        schema="cell int, centroid array<double>",
    )
    books_df = spark.createDataFrame(
        [(s, j, [float(x) for x in books[s][j]])
         for s in range(len(books)) for j in range(len(books[s]))],
        schema="sub int, code int, vec array<double>",
    )
    cells = with_cells_matmul(
        corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("__v")),
        coarse, "__v",
    ).select("neighbor_id", "cell")
    codes = pq_encode(corpus, books, vec_col, id_col, out_id="neighbor_id")
    codes_df = cells.join(codes, "neighbor_id")

    out = {
        "centroids": publish(cent_df, os.path.join(base, "centroids")),
        "codebooks": publish(books_df, os.path.join(base, "codebooks")),
        "codes": publish(codes_df, os.path.join(base, "codes")),
    }
    # segment manifest (round-12): the codes table is a SEGMENT LOG —
    # the build publishes segment "codes", each append_ivfpq_delta
    # adds one O(Δ) segment, and probes union the manifest's segments.
    # The manifest flip is the append's atomic commit point (the
    # Iceberg manifest pattern on the versioned sink).
    manifest = spark.createDataFrame(
        [(0, "codes")], "ordinal int, segment string"
    )
    out["manifest"] = publish(manifest, os.path.join(base, _MANIFEST))
    return out


def load_ivfpq_metadata(
    spark: SparkSession, base: str
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """Driver-side load of the two BOUNDED index tables (k×d centroids
    and m·k_sub·d_sub codebooks — index metadata, never corpus-scale);
    the codes table stays distributed (see :func:`read_ivfpq_codes`)."""
    cent_rows = read_published(spark, os.path.join(base, "centroids")).collect()
    coarse = [list(r.centroid) for r in sorted(cent_rows, key=lambda r: r.cell)]
    book_rows = read_published(spark, os.path.join(base, "codebooks")).collect()
    by_sub: dict[int, dict[int, list[float]]] = {}
    for r in book_rows:
        by_sub.setdefault(r.sub, {})[r.code] = list(r.vec)
    books = [[by_sub[s][j] for j in sorted(by_sub[s])]
             for s in sorted(by_sub)]
    return coarse, books


def _manifest_segments(spark: SparkSession, base: str) -> list[str]:
    """The code-segment names in append order; legacy indexes written
    before the manifest existed read as the single "codes" segment."""
    man_base = os.path.join(base, _MANIFEST)
    if current_version(man_base) is None:
        return ["codes"]
    rows = read_published(spark, man_base).collect()
    return [r.segment for r in sorted(rows, key=lambda r: r.ordinal)]


_SEG_RE = re.compile(r"codes_seg_(\d+)")


def _next_segment_name(spark: SparkSession, base: str,
                       segs: list[str]) -> str:
    """Mint a code-segment name that can NEVER collide with a live or
    historical segment: next ordinal = max numeric suffix across the
    manifest's segments AND every on-disk ``codes_seg_*`` directory,
    plus one. Deriving it from ``len(segs)`` (the round-12 bug) reused
    names after a compaction reset the manifest to one segment — a
    later append would re-publish to an already-used path, flipping
    that segment's pointer away from the compacted corpus (silent row
    loss) and double-listing the name."""
    ordinals = [0]
    for s in segs:
        m = _SEG_RE.fullmatch(s)
        if m:
            ordinals.append(int(m.group(1)))
    if os.path.isdir(base):
        for d in os.listdir(base):
            m = _SEG_RE.fullmatch(d)
            if m and os.path.isdir(os.path.join(base, d)):
                ordinals.append(int(m.group(1)))
    return f"codes_seg_{max(ordinals) + 1:06d}"


def read_ivfpq_codes(spark: SparkSession, base: str) -> DataFrame:
    """The logical codes table: the UNION of the manifest's published
    segments (one base segment + one per append). Union of parquet
    scans — no shuffle; the cell equi-join downstream treats it as one
    table. Call :func:`compact_ivfpq_codes` when the segment count
    grows past scan-split comfort."""
    segs = _manifest_segments(spark, base)
    out = read_published(spark, os.path.join(base, segs[0]))
    for s in segs[1:]:
        out = out.unionByName(read_published(spark, os.path.join(base, s)))
    return out


def encode_with_stored_metadata(
    delta: DataFrame,
    base: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """PQ-encode a delta batch with the index's STORED centroids and
    codebooks — no training anywhere in the plan (the incremental-
    ingest contract; tests monkeypatch the trainers to raise and this
    path never hits them). Returns (neighbor_id, cell, codes) rows,
    exactly the codes-segment schema; cost is one Arrow pass over the
    delta plus the broadcast of two bounded metadata tables."""
    spark = delta.sparkSession
    coarse, books = load_ivfpq_metadata(spark, base)
    cells = with_cells_matmul(
        delta.select(F.col(id_col).alias("neighbor_id"),
                     F.col(vec_col).alias("__v")),
        coarse, "__v",
    ).select("neighbor_id", "cell")
    codes = pq_encode(delta, books, vec_col, id_col, out_id="neighbor_id")
    return cells.join(codes, "neighbor_id")


def append_ivfpq_delta(
    delta: DataFrame,
    base: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> dict[str, str]:
    """Incremental index maintenance (round-12 verdict #1): append a
    delta vector batch to a persisted IVF-PQ index WITHOUT a rebuild —
    the ANN member of the O(Δ)-per-batch persisted-index family
    (minhash: operators/dedup_index.py, BM25/HLL/KLL incremental; the
    moral ancestor is the reference's insert-only incremental ingest,
    consolidate_invoices.py:475-515).

    The delta is encoded with the STORED codebooks (no retrain — new
    vectors quantize onto the existing codebook geometry, the standard
    FAISS ``add`` semantics), published as a NEW code segment through
    the versioned sink, and committed by atomically republishing the
    segment manifest. Per-append cost: O(|Δ|) encode + O(segments)
    manifest metadata — the standing corpus codes are never read or
    rewritten. The merged index's probe is bit-identical to a one-shot
    index built over the full corpus with the same trained metadata
    (``build_ivfpq_index(full, train_on=base)``) because segment union
    order cannot affect per-row ADC scores or the deterministic
    tie-broken rank windows.

    Caller contract: delta ids must be disjoint from already-indexed
    ids (same as every insert-only member of the family).
    """
    spark = delta.sparkSession
    man_base = os.path.join(base, _MANIFEST)
    man_before = current_version(man_base)
    seg_df = encode_with_stored_metadata(delta, base, vec_col, id_col)
    segs = _manifest_segments(spark, base)
    seg_name = _next_segment_name(spark, base, segs)
    seg_version = publish(seg_df, os.path.join(base, seg_name))
    manifest = spark.createDataFrame(
        [(i, s) for i, s in enumerate([*segs, seg_name])],
        "ordinal int, segment string",
    )
    # CAS on the manifest flip: a concurrent append/compact that beat
    # us to the manifest makes THIS commit fail loudly (our segment dir
    # stays unreferenced forensics) instead of silently dropping theirs.
    man_version = publish(manifest, man_base,
                          expected_version=man_before)
    return {"segment": seg_name, "segment_version": seg_version,
            "manifest": man_version}


def compact_ivfpq_codes(spark: SparkSession, base: str,
                        target_files: int | None = None) -> dict[str, str]:
    """Fold the manifest's segments back into ONE published segment
    (small-file maintenance for long append chains): union all
    segments, publish as a fresh segment, flip the manifest to list
    only it. Probes before/after read identical logical rows; old
    segments stay on disk as snapshots per the sink's retention."""
    man_base = os.path.join(base, _MANIFEST)
    man_before = current_version(man_base)
    merged = read_ivfpq_codes(spark, base)
    if target_files is not None:
        merged = merged.coalesce(int(target_files))
    segs = _manifest_segments(spark, base)
    seg_name = _next_segment_name(spark, base, segs)
    seg_version = publish(merged, os.path.join(base, seg_name))
    manifest = spark.createDataFrame(
        [(0, seg_name)], "ordinal int, segment string"
    )
    man_version = publish(manifest, man_base,
                          expected_version=man_before)
    return {"segment": seg_name, "segment_version": seg_version,
            "manifest": man_version}


def knn_join_ivfpq(
    left: DataFrame,
    right: DataFrame,
    index_base: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    nprobe: int = 2,
    rerank: int = 16,
    return_candidates: bool = False,
) -> DataFrame:
    """Two-sided KNN join (round-13 verdict #4): top-``k`` cosine
    neighbors in ``right`` for EVERY row of ``left`` — the
    corpus×corpus upstream of SemDeDup-style cluster-then-dedup and
    contrastive-pair mining, where the query set is itself
    corpus-scale so nothing may be broadcast or all-pairs.

    ``right`` must be the corpus the persisted index at ``index_base``
    was built/appended over (its stored codes ARE the right side's
    compressed representation; ``right`` supplies only full vectors
    for the exact rerank). ``left`` is encoded with the STORED
    metadata — no training anywhere in the plan.

    Plan shape, every stage keyed:
    - left cells: one Arrow matmul vs the broadcast centroid matrix,
      ``nprobe``-way fan-out (rows, not broadcast);
    - candidates: (cell) equi-join of coded left vs the stored codes
      segments — per-pair work bounded by the probed cell fraction
      (nprobe/n_cells of the corpus per left row), never n²;
    - compressed-domain score: ADC against the stored codes, with the
      per-left-row LUT riding a KEYED query_id join instead of the
      probe tier's broadcast (the LUT table is corpus-scale here —
      m·k_sub doubles per left row — so it ships through one shuffle
      like any other column; SDC over a broadcast codebook-product
      grid was measured at recall 0.75 vs ADC's 0.86 at the same
      nprobe=10/rerank=64 point on this corpus — double quantization
      costs too much at these wide angles);
    - top-``rerank`` survivors per left row (WindowGroupLimit-
      protected rank), exact cosine rerank via two keyed vector joins
      (no broadcast: both sides corpus-scale), final top-``k``.

    ``return_candidates=True`` returns the ADC survivors as bare
    (query_id, neighbor_id) pairs — the frozen-fixture hook.
    """
    spark = left.sparkSession
    coarse, books = load_ivfpq_metadata(spark, index_base)
    m, k_sub = len(books), len(books[0])
    codes_df = read_ivfpq_codes(spark, index_base)

    l_cells = with_cells_matmul(
        left.select(F.col(id_col).alias("query_id"),
                    F.col(vec_col).alias("__v")),
        coarse, "__v", nprobe=nprobe,
    ).select("query_id", "cell")
    l_lut = _pq_lut(left, books, vec_col, id_col)

    scored = (
        l_cells.join(codes_df, on="cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .join(l_lut, "query_id")          # keyed, NOT broadcast
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
        return survivors
    rn = with_norm(right, vec_col)
    ln = with_norm(left, vec_col)
    exact = survivors.join(
        rn.select(F.col(id_col).alias("neighbor_id"),
                  F.col(vec_col).alias("__cv"),
                  F.col("__norm").alias("__cn")),
        "neighbor_id",
    ).join(
        ln.select(F.col(id_col).alias("query_id"),
                  F.col(vec_col).alias("__qv"),
                  F.col("__norm").alias("__qn")),
        "query_id",
    ).withColumn(
        "cosine",
        _dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn")),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"),
                                               F.col("neighbor_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cosine_topk_ivfpq_probe(
    queries: DataFrame,
    corpus: DataFrame,
    index_base: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    nprobe: int = 4,
    rerank: int = 32,
    return_candidates: bool = False,
) -> DataFrame:
    """Probe-only IVF-PQ top-k against a PERSISTED index — no training
    anywhere in the plan. ``corpus`` supplies only the full vectors
    for the exact rerank of the top-``rerank`` survivors (the source
    table itself, as in any IVF-PQ serving path; the compressed-domain
    scoring never touches it).

    Plan shape: query cells from one matmul against the broadcast
    centroid matrix; candidates from a (cell) equi-join against the
    stored codes table (codes ride the SAME join — no second
    corpus-scale join); ADC score = JVM fold over the m codes against
    the broadcast per-query LUT; rerank survivors carry only id pairs
    until the final vector joins. Deterministic, same tie rules as the
    train-in-query tier.
    """
    spark = queries.sparkSession
    coarse, books = load_ivfpq_metadata(spark, index_base)
    m, k_sub = len(books), len(books[0])
    codes_df = read_ivfpq_codes(spark, index_base)

    q_probe = with_cells_matmul(
        queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("__qv")),
        coarse, "__qv", nprobe=nprobe,
    ).select("query_id", "cell")
    q_lut = _pq_lut(queries, books, vec_col, id_col)

    scored = (
        q_probe.join(codes_df, on="cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .join(F.broadcast(q_lut), "query_id")
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
        # see operators/pq.py:cosine_topk_ivfpq — frozen-fixture hook
        return survivors
    cn = with_norm(corpus, vec_col)
    qn = with_norm(queries, vec_col)
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
