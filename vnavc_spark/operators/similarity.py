"""Similarity search over embedding columns (array<float>).

North-star extension (BASELINE.json); no reference analogue. Two
paths:

- ``cosine_topk``: exact brute-force top-k — the baseline. Query set
  is broadcast (it is small by construction); the corpus scan is
  embarrassingly parallel; per-partition top-k via window rank. At
  100 TB this is one full scan per query batch — correct but linear.
- ``lsh_topk``: random-hyperplane LSH bucketing — the scale path.
  Sign-bit sketches are pure projections; candidates share a bucket,
  so the scan is replaced by a bucket equi-join. Recall < 1 by
  construction; multi-table OR-amplification raises it.

All vector math is Catalyst higher-order functions (functions/
vector.py) — JVM-side, no UDF, no Python in the hot path.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vnavc_spark.functions.portable import exact_sum
from vnavc_spark.functions.portable import stable_round as _stable_round
from vnavc_spark.functions.vector import cosine, dot, norm


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Plan shape: broadcast(queries) × corpus → score → window rank per
    query. The window partitions by query id, so the only shuffle
    carries (query_id, neighbor_id, score) — never the vectors.
    """
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias(query_id_col), F.col(vec_col).alias("q_vec")
        )
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
    scored = (
        q.crossJoin(c)
        .filter(F.col(query_id_col) != F.col("neighbor_id"))
        .select(
            query_id_col,
            "neighbor_id",
            _stable_round(cosine("q_vec", "c_vec"), 6).alias("score"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "neighbor_id", "score", "rank")
    )


def hyperplane(seed: int, bit: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane: component i derives
    from md5(seed|bit|i) — no RNG state, so every executor, every
    run, AND the DuckDB correctness oracle reconstruct the identical
    plane. Computed once driver-side and inlined as literals (the
    per-element in-plan hash this replaces re-derived the plane for
    every row)."""
    import hashlib

    return [
        (
            int(hashlib.md5(f"{seed}|{bit}|{i}".encode()).hexdigest()[:8], 16)
            % 1000003
        )
        / 1000003.0
        - 0.5
        for i in range(dim)
    ]


def hyperplane_sql(seed: int, bit: int, dim: int) -> str:
    """The same plane as a SQL list literal — ``repr`` emits the
    shortest round-trip decimal, which DuckDB parses back to the
    identical double, keeping sketch signs engine-portable."""
    return "[" + ", ".join(repr(v) for v in hyperplane(seed, bit, dim)) + "]"


def hyperplane_sketch(
    vec_col, dim: int, bits: int = 8, seed: int = 42
):
    """Random-hyperplane sign sketch as an int bucket id. Planes are
    literal arrays (see ``hyperplane``); each projection is one
    zip_with/aggregate fold whose lambdas touch element args only —
    the same left-to-right fold DuckDB's list_dot_product uses, so
    the oracle computes bit-identical projections."""
    out = F.lit(0)
    for b in range(bits):
        plane = F.array(*[F.lit(v) for v in hyperplane(seed, b, dim)])
        proj = F.aggregate(
            F.zip_with(vec_col, plane, lambda x, p: x.cast("double") * p),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        out = out + F.when(proj >= 0, F.lit(2**b)).otherwise(F.lit(0))
    return out


def _with_buckets(
    df: DataFrame,
    name: str,
    id_col: str,
    vec_col: str,
    dim: int,
    bits: int,
    tables: int,
) -> DataFrame:
    """Explode a vector table into (id, vec, table, bucket) rows —
    one row per LSH table — shared by the ANN and near-dup paths.

    Buckets are computed in ONE Arrow pass. The projection fold is
    vectorized across ROWS but sequential across DIMENSIONS
    (``acc += x[:, i] * p[i]`` for i in order), which reproduces the
    exact left-to-right IEEE fold of both the Catalyst
    ``hyperplane_sketch`` expression and DuckDB's
    ``list_dot_product`` — so the oracle still hash-matches while the
    per-row cost drops from interpreted-lambda milliseconds to a few
    fused numpy ops (the round-1 MinHash lesson: HOF lambdas are
    interpreted; Arrow batches are the scale path for wide per-row
    math)."""
    import numpy as np

    planes = {
        t: np.array(
            [hyperplane(42 + t, b, dim) for b in range(bits)], dtype=np.float64
        )
        for t in range(tables)
    }
    weights = np.array([2**b for b in range(bits)], dtype=np.int64)

    def _bucketize(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            vecs = np.array(list(pdf[vec_col]), dtype=np.float64)
            out = []
            for t, plane in planes.items():
                acc = np.zeros((n, bits), dtype=np.float64)
                for i in range(dim):  # exact fold order per (row, bit)
                    acc += vecs[:, i : i + 1] * plane[:, i][None, :]
                buckets = ((acc >= 0) @ weights).astype(np.int64)
                out.append(
                    pd.DataFrame(
                        {
                            name: pdf[id_col].to_numpy(),
                            "tbl": t,
                            "bucket": buckets,
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True)

    # ids + bucket ints ONLY — candidate joins must never shuffle the
    # vectors; consumers join vectors back by id after pair dedup
    return df.select(id_col, vec_col).mapInPandas(
        _bucketize, schema=f"{name} long, tbl int, bucket long"
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int = 64,
    bits: int = 8,
    tables: int = 4,
) -> DataFrame:
    """Approximate top-k: candidates = corpus vectors sharing any of
    ``tables`` hyperplane buckets with the query, then exact rerank.

    Scale shape: bucket ids are projections; the candidate join is an
    equi-join on (table, bucket) — shuffle carries bucket ids + row
    ids. Exact scoring runs only on candidates.
    """
    qb = _with_buckets(queries, "qid", id_col, vec_col, dim, bits, tables)
    cb = _with_buckets(corpus, "cid", id_col, vec_col, dim, bits, tables)
    # candidate pairs are (id, id) rows only; vectors join back AFTER
    # the dedup so they never ride the bucket join or the distinct
    cands = (
        qb.join(cb, on=["tbl", "bucket"])
        .filter(F.col("qid") != F.col("cid"))
        .select(
            F.col("qid").alias(query_id_col),
            F.col("cid").alias("neighbor_id"),
        )
        .dropDuplicates([query_id_col, "neighbor_id"])
    )
    qv = F.broadcast(
        queries.select(F.col(id_col).alias(query_id_col), F.col(vec_col).alias("q_vec"))
    )
    cv = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
    scored = (
        cands.join(qv, on=query_id_col)
        .join(cv, on="neighbor_id")
        .select(
            query_id_col,
            "neighbor_id",
            _stable_round(cosine("q_vec", "c_vec"), 6).alias("score"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "neighbor_id", "score", "rank")
    )


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "cell",
) -> DataFrame:
    """Assign each vector to its nearest centroid — a map-side Arrow
    pass (centroids are collected driver-side and closed over: small
    by construction, size-asserted). Replaces the crossJoin + HOF
    cosine + window-argmin form: the interpreted-lambda cosine cost
    was N×k per pass, and the window added an exchange on id; this is
    one matmul-class batch op with ZERO shuffle.

    Bit-compatible with the old plan: the per-dim fold runs
    sequentially in index order (the exact IEEE tree of
    ``functions/vector.cosine``), zero-norm pairs score -inf (the
    HOF's NULL ordered last), and ``argmax`` takes the lowest cell on
    exact ties — the (desc sim, asc cell) tie-break."""
    import numpy as np
    from pyspark.sql import types as T

    rows = centroids.select("cell", "centroid").collect()
    if len(rows) > 4096:
        raise ValueError(f"centroid set must be <= 4096 rows, got {len(rows)}")
    if not rows:
        # empty corpus → no centroids → no assignments (not an error:
        # incremental/batch pipelines legitimately see empty inputs)
        src = vectors.select(id_col, vec_col)
        return src.withColumn(
            out_col, F.lit(None).cast("int")
        ).limit(0)
    rows.sort(key=lambda r: r.cell)
    cells_np = np.array([r.cell for r in rows], dtype=np.int64)
    cmat = np.array([list(r.centroid) for r in rows], dtype=np.float64)

    src = vectors.select(id_col, vec_col)
    out_schema = T.StructType(
        list(src.schema.fields) + [T.StructField(out_col, T.IntegerType())]
    )

    bb = np.zeros(len(rows))
    for i in range(cmat.shape[1]):  # exact fold order for centroid norms
        bb += cmat[:, i] * cmat[:, i]
    nb = np.sqrt(bb)

    def _assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            vmat = np.array(list(pdf[vec_col]), dtype=np.float64)
            ab = np.zeros((len(pdf), len(cells_np)))
            aa = np.zeros(len(pdf))
            for i in range(vmat.shape[1]):  # exact fold order per dim
                ab += vmat[:, i : i + 1] * cmat[:, i][None, :]
                aa += vmat[:, i] * vmat[:, i]
            denom = np.sqrt(aa)[:, None] * nb[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                sim = np.where(denom > 0, ab / denom, -np.inf)
            best = np.argmax(sim, axis=1)
            out = pdf[[id_col, vec_col]].copy()
            out[out_col] = cells_np[best].astype(np.int32)
            yield out

    return src.mapInPandas(_assign, schema=out_schema)


def ivf_index(
    corpus: DataFrame,
    n_cells: int = 16,
    refine_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> tuple[DataFrame, DataFrame]:
    """Build an IVF index: (assignments, centroids).

    Deterministic seeding (no RNG state): the ``n_cells`` corpus
    vectors with the smallest ``md5(vec_id)`` are the initial
    centroids — a uniform hash-order sample, reproducible on any
    cluster. Each Lloyd refinement is two DataFrame passes: assign
    (broadcast argmin) + recompute means (posexplode → groupBy(cell,
    dim) → rebuild arrays). The per-dimension mean is an
    ORDER-INDEPENDENT scaled-integer sum (``exact_sum``), not
    ``F.avg`` over doubles: partial-aggregation order varies with
    partitioning, so a plain double mean is not even run-to-run
    stable on a cluster — and it is what makes the whole build
    SQL-expressible for the DuckDB oracle (q45). Iterations are a
    driver-side loop over lazy plans — at scale, persist assignments
    between iterations.
    """
    seeds = (
        corpus.select(id_col, vec_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), id_col)
        .limit(n_cells)
    )
    w = Window.orderBy(id_col)
    centroids = seeds.select(
        (F.row_number().over(w) - 1).alias("cell"),
        F.col(vec_col).cast("array<double>").alias("centroid"),
    )
    assigned = ivf_assign(corpus, centroids, id_col, vec_col)
    for _ in range(refine_iters):
        # mean per (cell, dimension) via positional explode
        exploded = assigned.select(
            "cell", F.posexplode(F.col(vec_col)).alias("pos", "val")
        )
        means = (
            exploded.groupBy("cell", "pos")
            .agg(
                (exact_sum(F.col("val").cast("double"), 6) / F.count("*")).alias(
                    "m"
                )
            )
            .groupBy("cell")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s.getField("m"),
                ).alias("centroid")
            )
        )
        assigned = ivf_assign(corpus, means, id_col, vec_col)
        centroids = means
    return assigned, centroids


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    refine_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF approximate top-k: probe the ``nprobe`` nearest cells per
    query, exact-rerank only their members. Data-dependent clustering
    beats data-independent LSH planes when the corpus is clustered
    (our synthetic embeddings are label-clustered).

    Scale shape: index build is two bounded passes; the query join is
    an equi-join on cell id — candidates ≈ nprobe/n_cells of the
    corpus instead of a full scan."""
    assigned, centroids = ivf_index(
        corpus, n_cells, refine_iters, id_col, vec_col
    )
    from vnavc_spark.cache import tracked_persist

    assigned = tracked_persist(assigned, "ivf_assigned")
    # probe: rank cells per query by centroid cosine, equi-join the top
    # ``nprobe`` cells against the assignment table, exact-rerank
    c = F.broadcast(centroids)
    q = queries.select(
        F.col(id_col).alias(query_id_col), F.col(vec_col).alias("q_vec")
    )
    q_cells = (
        q.crossJoin(c)
        .select(
            query_id_col,
            "q_vec",
            "cell",
            # rounded to 1e-6 so the probe choice is portable across
            # engines (ties break on asc cell — deterministic)
            _stable_round(cosine("q_vec", "centroid"), 6).alias("_sim"),
        )
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy(query_id_col).orderBy(
                    F.desc("_sim"), F.asc("cell")
                )
            ),
        )
        .filter(F.col("_rn") <= nprobe)
        .select(query_id_col, "q_vec", "cell")
    )
    cands = q_cells.join(assigned, on="cell").filter(
        F.col(query_id_col) != F.col(id_col)
    )
    scored = cands.select(
        query_id_col,
        F.col(id_col).alias("neighbor_id"),
        _stable_round(cosine("q_vec", vec_col), 6).alias("score"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "neighbor_id", "score", "rank")
    )


def embedding_neardup_lsh(
    corpus: DataFrame,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    bits: int = 8,
    tables: int = 4,
    probe_bits: int = 1,
) -> DataFrame:
    """Embedding near-dup pairs, scale path: hyperplane-LSH bucket
    candidates → exact cosine → threshold. Replaces the brute-force
    all-pairs cross join (q36, the recall reference) with a bucket
    equi-join.

    Multi-probe: with ``probe_bits=1`` one side of the join is
    expanded to its bucket PLUS every 1-bit flip (bits+1 rows per
    (vec, table)), so pairs whose sketches differ in one hyperplane
    sign still meet — recall amplifies from p^bits per table to
    p^bits + bits·p^(bits-1)(1-p) without shrinking buckets (the
    bits=4 alternative reaches similar recall but its candidate set
    is ~N²/4 — not a scale win). Probing multiplies candidate volume
    by ~(bits+1)·(bucket adjacency), still a tiny corpus fraction at
    bits=8 (~9/256 per table)."""
    a = _with_buckets(corpus, "vec_a", id_col, vec_col, dim, bits, tables)
    b = _with_buckets(corpus, "vec_b", id_col, vec_col, dim, bits, tables)
    if probe_bits:
        # bucket-hamming ≤ 1 is symmetric → expanding ONE side covers
        # every such pair; the other side stays one row per (vec, tbl)
        probes = F.array(
            F.col("bucket"), *[F.col("bucket").bitwiseXOR(F.lit(2**i)) for i in range(bits)]
        )
        a = a.withColumn("bucket", F.explode(probes))
    cands = (
        a.join(b, on=["tbl", "bucket"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    # vectors join back by id AFTER pair dedup — the multi-probe join
    # and the distinct shuffle 16-byte id pairs, never 256-byte vecs
    av = corpus.select(F.col(id_col).alias("vec_a"), F.col(vec_col).alias("vec_a_vec"))
    bv = corpus.select(F.col(id_col).alias("vec_b"), F.col(vec_col).alias("vec_b_vec"))
    cands = cands.join(av, on="vec_a").join(bv, on="vec_b")

    return arrow_cosine_scores(cands).filter(F.col("score") >= threshold)


def arrow_cosine_scores(cands: DataFrame) -> DataFrame:
    """Exact cosine over candidate pairs (cols vec_a, vec_b,
    vec_a_vec, vec_b_vec) → (vec_a, vec_b, score), Arrow-vectorized
    with the same per-dim fold order as the Catalyst cosine()/DuckDB
    list_dot_product pair, so scores stay oracle-hash-identical (the
    candidate set is ~100× the output; interpreted HOF math here
    dominated the whole query). Zero-norm rows are dropped, matching
    cosine()'s NULL-for-zero-norm contract."""
    import numpy as np

    def _score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            va = np.array(list(pdf["vec_a_vec"]), dtype=np.float64)
            vb = np.array(list(pdf["vec_b_vec"]), dtype=np.float64)
            ab = np.zeros(len(pdf))
            aa = np.zeros(len(pdf))
            bb = np.zeros(len(pdf))
            for i in range(va.shape[1]):  # exact left-to-right fold
                ab += va[:, i] * vb[:, i]
                aa += va[:, i] * va[:, i]
                bb += vb[:, i] * vb[:, i]
            denom = np.sqrt(aa) * np.sqrt(bb)
            with np.errstate(divide="ignore", invalid="ignore"):
                score = np.floor(ab / denom * 1e6 + 0.5) / 1e6
            out = pd.DataFrame(
                {
                    "vec_a": pdf["vec_a"].to_numpy(),
                    "vec_b": pdf["vec_b"].to_numpy(),
                    "score": score,
                }
            )
            yield out[denom > 0]  # cosine() is NULL-for-zero-norm: drop

    return cands.mapInPandas(_score, schema="vec_a long, vec_b long, score double")


def embedding_norm_stats(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-label embedding diagnostics (mean L2 norm, mean self-dot):
    the sanity scan every embedding pipeline runs before indexing."""
    return (
        df.select(
            F.col(label_col),
            norm(vec_col).alias("l2"),
            dot(vec_col, vec_col).alias("self_dot"),
        )
        .groupBy(label_col)
        .agg(
            F.count("*").alias("n_vecs"),
            # order-independent mean: integer-scaled sum / count
            (exact_sum(F.col("l2"), 6) / F.count("*")).alias("avg_l2"),
            (exact_sum(F.col("self_dot"), 6) / F.count("*")).alias("avg_self_dot"),
        )
    )


# ---------------------------------------------------------------------------
# SemDeDup — semantic dedup via cluster-scoped cosine pruning
# ---------------------------------------------------------------------------

def semdedup_pairs(
    corpus: DataFrame,
    threshold: float = 0.45,
    n_cells: int = 16,
    refine_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster_size: int | None = 2000,
) -> DataFrame:
    """Semantic near-dup pairs, SemDeDup-style (Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the embeddings (deterministic
    IVF build), then compare pairs WITHIN a cluster only — the
    clusters bound the quadratic term to Σ n_c² ≪ N², which is the
    whole trick. Complements ``embedding_neardup_lsh``: LSH buckets
    catch high-cosine pairs per-table probabilistically; SemDeDup's
    partition is data-adaptive (centroids follow density) and is the
    published recipe for pruning semantically redundant web-scale
    training corpora.

    Scale shape: assignment is a broadcast argmin (map-side);
    the self-join key is the cell id; oversized degenerate clusters
    are capped (dropped members are the least discriminative — same
    posture as the LSH bucket caps); the pair join shuffles
    (cell, id, vec) rows, and exact cosine runs Arrow-vectorized on
    candidate pairs only."""
    from vnavc_spark.operators.dedup import cap_bucket_size

    assigned, _ = ivf_index(
        corpus, n_cells, refine_iters, id_col, vec_col
    )
    # (id, cell) only — tiny; localCheckpoint cuts the lineage so the
    # Lloyd build runs ONCE (the cap window + both self-join sides
    # reference this table; lazily it would re-cluster three times)
    cells = assigned.select(id_col, "cell")
    cells = cap_bucket_size(cells, ["cell"], max_cluster_size).localCheckpoint()
    a = cells.select("cell", F.col(id_col).alias("vec_a"))
    b = cells.select("cell", F.col(id_col).alias("vec_b"))
    cands = (
        a.join(b, on="cell")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
    )
    # vectors join back by id AFTER the pair join — the cell self-join
    # shuffles 16-byte id pairs, never the 256-byte vectors
    av = corpus.select(F.col(id_col).alias("vec_a"), F.col(vec_col).alias("vec_a_vec"))
    bv = corpus.select(F.col(id_col).alias("vec_b"), F.col(vec_col).alias("vec_b_vec"))
    cands = cands.join(av, on="vec_a").join(bv, on="vec_b")
    return arrow_cosine_scores(cands).filter(F.col("score") >= threshold)
