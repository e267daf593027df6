"""Deduplication operators — exact, n-gram Jaccard, MinHash(+LSH),
SimHash. North-star extension surface (BASELINE.json): the reference
has NO dedup at all (SURVEY §2.6 R5 — re-crawls silently duplicate
rows); a 100 TB training-data pipeline lives or dies on this.

Determinism & portability: all hashing is md5-derived so the DuckDB
correctness oracle can compute byte-identical signatures. At scale
the md5 calls are JVM-side codegen'd expressions — no Python.

Scale shape:
- exact dedup: map-side-combinable aggregate on the fingerprint.
- MinHash: per-doc signature is a pure projection (no shuffle);
  the only shuffle is the band-bucket grouping, which carries
  (band_key, doc_id) pairs — tiny rows — never document text.
- SimHash: pure projection per doc; near-dup candidates group on the
  16-bit prefix.
- n-gram Jaccard: exploded shingle self-join — quadratic in bucket
  size, so it is the *verify* stage after LSH candidate generation,
  never run corpus-wide.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from vnavc_spark.functions.quality import fingerprint, normalized_text, tokens
from vnavc_spark.operators.mergeable import Spec, merge_by, union_merge

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dup_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Groups of exact duplicates by normalized-text fingerprint:
    (fingerprint, n_docs, representative min id)."""
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count("*").alias("n_docs"),
            F.min(id_col).alias("keep_id"),
        )
    )


def drop_exact_dups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Keep one representative (min id) per fingerprint — one shuffle
    on the 32-char fingerprint, text never shuffled twice."""
    w_keep = exact_dup_groups(df, id_col, text_col).select(
        F.col("keep_id").alias(id_col)
    )
    return df.join(w_keep, on=id_col, how="left_semi")


# ---------------------------------------------------------------------------
# shingling
# ---------------------------------------------------------------------------

def word_shingles(text_col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the normalized text, as an
    array<string>.

    Built by zip_with-composing the token array with shifted slices
    of itself — each lambda touches its ELEMENT arguments only.
    (A transform over positions with ``element_at(toks, i+j)`` would
    re-evaluate the whole tokenization per element: Spark evaluates
    higher-order-function lambdas interpreted, and captured outer
    expressions are recomputed at every reference — measured as a
    multiplicative blowup at sf0.1.)"""
    toks = tokens(normalized_text(text_col))
    sh: Column = toks
    for j in range(1, n):
        shifted = F.slice(
            toks, j + 1, F.greatest(F.size(toks) - j, F.lit(0))
        )
        sh = F.zip_with(sh, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    # zip_with null-pads the shorter side → tail entries are null;
    # keep only the size-n+1 real shingles
    k = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    sh = F.when(k > 0, F.slice(sh, 1, k)).otherwise(
        F.array().cast("array<string>")
    )
    return F.array_distinct(sh)


# Python mirror of the shingle pipeline (used by the Arrow-batched
# signature pass below — must stay semantically identical to
# normalized_text → tokens → n-grams → distinct).
_NON_ALNUM = re.compile(r"[^A-Za-z0-9\s]")
_WS = re.compile(r"\s+")


def _py_shingles(text: str | None, n: int = 3) -> list[str]:
    if not text:
        return []
    # strip BEFORE lower — mirrors quality.normalized_text (engines
    # disagree on pathological case foldings like lower('İ'))
    norm = _WS.sub(" ", _NON_ALNUM.sub(" ", text).lower()).strip()
    toks = norm.split(" ") if norm else []
    if len(toks) < n:
        return []
    seen: dict[str, None] = {}
    for i in range(len(toks) - n + 1):
        seen.setdefault(" ".join(toks[i : i + n]), None)
    return list(seen)


def explode_shingles(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(doc_id, shingle) rows — the input to Jaccard verification."""
    return df.select(
        F.col(id_col), F.explode(word_shingles(text_col, n)).alias("shingle")
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (verification / small-bucket path)
# ---------------------------------------------------------------------------

def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """All document pairs with shingle-Jaccard ≥ threshold.

    Shuffle shape: explode → self-equi-join on shingle → pair-count
    agg. The join key is the shingle, so common shingles fan out —
    acceptable as the verify stage on LSH candidates; guarded at
    corpus scale by running per LSH bucket.
    """
    sizes = df.select(
        F.col(id_col), F.size(word_shingles(text_col, n)).alias("n_sh")
    )
    ex = explode_shingles(df, id_col, text_col, n)
    a, b = ex.alias("a"), ex.alias("b")
    inter = (
        a.join(b, on="shingle")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("sh_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("sh_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_inter")
            / (F.col("sh_a") + F.col("sh_b") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_inter", "jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------

def minhash_signatures_df(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    n: int = 3,
) -> DataFrame:
    """(id, sig: array<string>) — signatures computed in ONE
    Arrow-batched pass (``mapInPandas``).

    Why Python here and not Catalyst expressions: higher-order-
    function lambdas are evaluated interpreted and re-evaluate
    captured outer expressions per element, so a pure-expression
    16-hash signature recomputes the shingle pipeline ~16× per row
    (and projection collapse inlines it further downstream) —
    measured 175 s at sf0.1 vs seconds for this single pass. The
    mapInPandas node is also a hard optimizer barrier: downstream
    getItems reference materialized attributes, never the expression
    tree. md5 digests are identical to SQL ``md5()`` so the DuckDB
    oracle still matches byte-for-byte.

    Scale: output rows are ~num_hashes×32 bytes — the natural
    Parquet staging table for incremental dedup. The input is
    repartitioned first: a small-file corpus arrives as few
    partitions, which would serialize the Python pass on one core
    (measured 16× underuse at sf0.1)."""
    import hashlib

    from collections.abc import Iterator as _It

    def _sig(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        prefixes = [f"{s}|".encode() for s in range(num_hashes)]
        for pdf in batches:
            ids, sigs = [], []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                sh = [s.encode() for s in _py_shingles(t, n)]
                if not sh:
                    continue
                ids.append(i)
                # min over raw digests, hex once at the end: digest
                # byte order == lowercase-hex order, ~20% fewer cycles
                sigs.append(
                    [
                        min(hashlib.md5(p + s).digest() for s in sh).hex()
                        for p in prefixes
                    ]
                )
            yield pd.DataFrame({id_col: pd.Series(ids, dtype="int64"), "sig": sigs})

    src = df.select(id_col, text_col)
    n_parts = src.sparkSession.sparkContext.defaultParallelism
    # Partition-count probe WITHOUT df.rdd (that converts the plan to
    # an RDD just to read a number): the file count of the underlying
    # scan bounds the scan partition count for small-file corpora —
    # the exact case the guard exists for. Large files split into
    # MORE partitions than files, which never triggers the guard, and
    # non-file plans (in-memory test frames) report zero files, where
    # an extra round-robin shuffle of tiny data is harmless.
    try:
        n_input = len(src.inputFiles())
    except Exception:  # non-file-backed plan
        n_input = 0
    if n_input < n_parts:
        src = src.repartition(n_parts)
    return src.mapInPandas(_sig, schema=f"{id_col} long, sig array<string>")


def bands_from_signatures(
    sig: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    band_size: int = 4,
) -> DataFrame:
    """Band extraction over an EXISTING signature table (id, sig:
    array<string>) — plain column ops, no text, no Python. This is
    the entry point for incremental dedup: a staged Parquet signature
    table goes straight to banding without re-hashing the corpus."""
    nbands = num_hashes // band_size
    bands = [
        F.struct(
            F.lit(b).alias("band_idx"),
            F.md5(
                F.concat_ws(
                    "|",
                    *[
                        F.col("sig").getItem(b * band_size + j)
                        for j in range(band_size)
                    ],
                )
            ).alias("band_key"),
        )
        for b in range(nbands)
    ]
    return sig.select(
        F.col(id_col), F.explode(F.array(*bands)).alias("band")
    ).select(
        id_col,
        F.col("band.band_idx").alias("band_idx"),
        F.col("band.band_key").alias("band_key"),
    )


def minhash_bands(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    band_size: int = 4,
    n: int = 3,
) -> DataFrame:
    """(doc_id, band_idx, band_key) rows: band_key = md5 of the
    concatenated signature slice. Docs sharing any band_key are
    near-dup candidates."""
    sig = minhash_signatures_df(df, id_col, text_col, num_hashes, n)
    return bands_from_signatures(sig, id_col, num_hashes, band_size)


def cap_bucket_size(
    df: DataFrame, keys: list[str], cap: int | None
) -> DataFrame:
    """Drop rows in degenerate buckets (> ``cap`` members on ``keys``).

    A self-join on a bucket key is quadratic in bucket size, so one
    degenerate key (empty docs, boilerplate sharing a signature) can
    dominate the whole job. Members of an over-cap bucket are non-
    discriminative by construction — a signature shared by thousands
    of documents carries no near-dup information (exact dedup
    upstream is the right tool for those) — so dropping is safe and
    standard.

    Shape: a window count over the bucket keys, NOT a count-aggregate
    + anti-join. The window formulation evaluates the input exactly
    once and its exchange is REUSED by the downstream self-join (same
    partition keys); the aggregate/anti-join alternative references
    the input twice, which re-runs the upstream Arrow signature pass
    (measured +20% on the whole pipeline). The in-partition sort is
    over ~50-byte bucket rows — noise next to a recomputed Python
    stage."""
    if cap is None:
        return df
    w = Window.partitionBy(*keys)
    return (
        df.withColumn("_bucket_n", F.count("*").over(w))
        .filter(F.col("_bucket_n") <= cap)
        .drop("_bucket_n")
    )


def minhash_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    band_size: int = 4,
    n: int = 3,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Distinct candidate near-dup pairs from LSH banding. The
    band-bucket self-join carries only (band_key, doc_id); buckets
    larger than ``max_bucket_size`` are dropped before the join
    (degenerate signatures — see ``cap_bucket_size``)."""
    bands = minhash_bands(df, id_col, text_col, num_hashes, band_size, n)
    bands = cap_bucket_size(bands, ["band_idx", "band_key"], max_bucket_size)
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(b, on=["band_idx", "band_key"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .distinct()
    )


def shingle_arrays_df(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """(id, sh: array<string>) — distinct word shingles per doc in
    one Arrow pass (``_py_shingles``, the signature pass's Python
    mirror, semantically identical to ``word_shingles`` — pinned in
    tests). Preferred over the zip_with expression chain wherever
    whole arrays are materialized: interpreted HOF evaluation is
    per-element and melts down on multi-MB documents."""
    import pandas as pd  # noqa: F811

    def _sh(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "sh": [_py_shingles(t, n) for t in pdf[text_col]],
                }
            )

    from vnavc_spark.io import spread_small_scan

    # spread a few-file scan so the Arrow pass runs one task per
    # core, not one per input file (scale-adaptive: no-op when the
    # scan already has >= cores splits)
    return spread_small_scan(docs.select(id_col, text_col)).mapInPandas(
        _sh, schema=f"{id_col} long, sh array<string>"
    )


def jaccard_verify_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact shingle-Jaccard over an explicit (doc_a, doc_b) pair
    list — the verify stage of near-dedup.

    Unlike ``jaccard_pairs`` (shingle self-join — right for discovery
    over a bounded subset, but a hot shingle fans out across every
    doc containing it and generates pairs that are then thrown away),
    this joins the pair list to per-doc shingle ARRAYS and computes
    ``size(array_intersect)`` per pair: work is proportional to the
    number of candidate pairs, with no hot-key fan-out. This is the
    100 TB-safe verify.

    Shingle arrays are built in ONE Arrow pass (the signature pass's
    tested-identical Python mirror) rather than the ``word_shingles``
    zip_with chain: HOF lambdas evaluate interpreted per element, and
    a single multi-MB document makes that chain minutes-slow
    (measured 25 s → 6 s on a 5.7 MB doc); the candidate subset is
    small by construction, so the Python crossing is cheap. The
    array table feeds BOTH pair sides — tracked-persist it so the
    Arrow pass (and the semi-join feeding it) runs once, not twice
    (see cache.py)."""
    from vnavc_spark.cache import tracked_persist

    sh = tracked_persist(
        shingle_arrays_df(docs, id_col, text_col, n), "verify_shingles"
    )
    a = sh.select(F.col(id_col).alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("doc_b"), F.col("sh").alias("sh_b"))
    return (
        pairs.join(a, on="doc_a")
        .join(b, on="doc_b")
        .withColumn(
            "n_inter",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("long"),
        )
        .withColumn(
            "jaccard",
            F.col("n_inter")
            / (
                F.size("sh_a") + F.size("sh_b") - F.col("n_inter")
            ).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_inter", "jaccard")
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    band_size: int = 4,
    n: int = 3,
    threshold: float = 0.8,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates → exact per-pair
    Jaccard verify. This is the scale path: candidate generation is
    linear (projection + capped bucket join), and the verify stage
    touches exactly the candidate pairs — no shingle self-join, so a
    corpus-hot shingle cannot fan out."""
    from vnavc_spark.cache import tracked_persist

    # candidates are tiny relative to the corpus and referenced twice
    # below (ids semi-join, pair join) — tracked-persist so the LSH
    # pipeline runs once, not per consumer, and repeated calls keep
    # at most one cache alive (see cache.py)
    cands = tracked_persist(
        minhash_candidates(
            df, id_col, text_col, num_hashes, band_size, n, max_bucket_size
        ),
        "minhash_cands",
    )
    cand_ids = (
        cands.select(F.col("doc_a").alias(id_col))
        .union(cands.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    # shingle only docs that appear in some candidate pair
    subset = df.join(cand_ids, on=id_col, how="left_semi")
    return jaccard_verify_pairs(cands, subset, id_col, text_col, n, threshold)


# ---------------------------------------------------------------------------
# SimHash (32-bit, oracle-portable derivation)
# ---------------------------------------------------------------------------

def simhash32(text_col: Column | str) -> Column:
    """32-bit SimHash of the normalized token set.

    Bit i = sign of Σ_tokens (parity of hex char i of md5(token)),
    mapping parity {0,1} → {-1,+1}. Hex-char parity keeps the
    derivation portable to the SQL oracle (no 64-bit hex→int
    conversion needed). Pure per-row expression: zero shuffle.

    NULL text is coalesced to '' first so a NULL-text doc gets sh=0
    instead of silently vanishing — keeps Spark and the SQL oracle
    (whose unnest would drop the doc) agreeing on nullable corpora."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = F.array_distinct(tokens(normalized_text(F.coalesce(c, F.lit("")))))
    bit_votes = [
        F.aggregate(
            toks,
            F.lit(0),
            lambda acc, t: acc
            + (F.ascii(F.substring(F.md5(t), i + 1, 1)) % 2) * 2
            - 1,
        )
        for i in range(32)
    ]
    out = F.lit(0).cast("long")
    for i, v in enumerate(bit_votes):
        out = out + F.when(v > 0, F.lit(2 ** i).cast("long")).otherwise(F.lit(0))
    return out


def simhash32_df(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    hash_fn: str = "md5",
) -> DataFrame:
    """(id, sh) — the 32-bit SimHash of ``simhash32`` computed as
    explode → ONE hash per token → 32 codegen'd parity-vote columns →
    one partial-aggregable groupBy on the id (exactly the oracle's
    unnest/GROUP BY shape).

    This replaces the pure-expression form in every batch path: 32
    ``F.aggregate`` folds evaluate interpreted and re-compute the
    md5 inside every fold — 32 md5 per token (measured 9.3 s for
    5 000 docs at sf0.1 vs ~1 s here). The digest is materialized in
    its own projection so the 32 substrings provably read one md5.
    Cost: one (id)-shuffle of ±1 vote rows; at 100 TB that shuffle
    is map-side combined to one row per doc before it moves.

    ``hash_fn``: ``'md5'`` (default) keeps the token hash
    cross-engine-reproducible for oracle certification (DuckDB has
    md5, not xxhash64); ``'xxhash64'`` is the PRODUCTION path — the
    JVM-native 64-bit hash costs roughly half of md5 per token and
    bit i of the hash replaces the hex-digit parity. Near-dup
    DETECTION quality is hash-agnostic (both give i.i.d. parity
    bits; tests/test_dedup_similarity.py pins planted-pair
    equivalence between the two backends)."""
    from vnavc_spark.io import spread_small_scan

    c = F.coalesce(F.col(text_col), F.lit(""))
    toks = F.array_distinct(tokens(normalized_text(c)))
    # spread the few-file scan AFTER the explode, where rows are a
    # skinny (id, token) pair — spreading the documents themselves
    # shuffles the multi-KB text payload and costs more than it
    # saves (measured: 7.4 s text-spread vs 4.7 s unspread vs ~2 s
    # token-spread; the guide §8 move-small-rows rule). Vote sums
    # are order-independent, so the round-robin is result-neutral.
    ex = spread_small_scan(
        df.select(F.col(id_col), F.explode(toks).alias("_t"))
    )
    if hash_fn == "xxhash64":
        dg = ex.select(id_col, F.xxhash64("_t").alias("_d"))
        votes = dg.select(
            id_col,
            *[
                (
                    F.shiftright(F.col("_d"), i).bitwiseAND(F.lit(1)).cast(
                        "int"
                    ) * 2 - 1
                ).alias(f"_v{i}")
                for i in range(32)
            ],
        )
    elif hash_fn == "md5":
        dg = ex.select(id_col, F.md5("_t").alias("_d"))
        votes = dg.select(
            id_col,
            *[
                (
                    (F.ascii(F.substring(F.col("_d"), i + 1, 1)) % 2) * 2 - 1
                ).alias(f"_v{i}")
                for i in range(32)
            ],
        )
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r} (md5|xxhash64)")
    agg = votes.groupBy(id_col).agg(
        *[F.sum(f"_v{i}").alias(f"_s{i}") for i in range(32)]
    )
    out = F.lit(0).cast("long")
    for i in range(32):
        out = out + F.when(
            F.col(f"_s{i}") > 0, F.lit(2**i).cast("long")
        ).otherwise(F.lit(0))
    return agg.select(F.col(id_col), out.alias("sh"))


def simhash_hamming(a: Column, b: Column) -> Column:
    """Hamming distance between two simhash values via popcount of
    XOR (bit_count is native)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_block_bounds(max_hamming: int = 3, bits: int = 32) -> list[tuple[int, int]]:
    """(lo, width) of the ``max_hamming + 1`` bit blocks. By the
    pigeonhole principle, two hashes within Hamming distance k must
    agree EXACTLY on at least one of k+1 disjoint blocks — so joining
    on every block gives recall 1.0 at distance ≤ k (Manku, Jain &
    Sarma, "Detecting Near-Duplicates for Web Crawling", WWW'07)."""
    n_blocks = max_hamming + 1
    base, extra = divmod(bits, n_blocks)
    bounds, lo = [], 0
    for j in range(n_blocks):
        width = base + (1 if j < extra else 0)
        bounds.append((lo, width))
        lo += width
    return bounds


def simhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    max_block_size: int | None = 1000,
    hash_fn: str = "md5",
) -> DataFrame:
    """Near-dup pairs by SimHash via exact block decomposition: split
    the 32-bit hash into ``max_hamming + 1`` disjoint blocks and join
    docs sharing ANY (block_idx, block_val) — pigeonhole guarantees
    every pair within ``max_hamming`` shares a block, so recall is
    1.0 (vs the lossy single-prefix blocking this replaces). Hamming
    is then verified exactly per candidate pair.

    Scale shape: blocks are pure projections; the join carries
    (block_idx, block_val, id, sh) — 4 small rows per doc; degenerate
    blocks (> ``max_block_size`` members, e.g. a boilerplate corpus
    collapsing to one hash) are dropped before the join."""
    sh = simhash32_df(df, id_col, text_col, hash_fn=hash_fn)
    bounds = simhash_block_bounds(max_hamming)
    blocks = F.array(
        *[
            F.struct(
                F.lit(j).alias("block_idx"),
                F.shiftright(F.col("sh"), lo)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("block_val"),
            )
            for j, (lo, width) in enumerate(bounds)
        ]
    )
    blocked = sh.select(
        F.col(id_col), F.col("sh"), F.explode(blocks).alias("b")
    ).select(
        id_col,
        "sh",
        F.col("b.block_idx").alias("block_idx"),
        F.col("b.block_val").alias("block_val"),
    )
    blocked = cap_bucket_size(blocked, ["block_idx", "block_val"], max_block_size)
    a, b = blocked.alias("a"), blocked.alias("b")
    return (
        a.join(b, on=["block_idx", "block_val"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.col("a.sh").alias("sh_a"),
            F.col("b.sh").alias("sh_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .withColumn("hamming", simhash_hamming(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


# ---------------------------------------------------------------------------
# incremental dedup (persistent signature table)
# ---------------------------------------------------------------------------

def stage_minhash_signatures(
    df: DataFrame,
    sig_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    n: int = 3,
) -> tuple[int, DataFrame]:
    """Incrementally maintain a Parquet MinHash signature table keyed
    by ``id_col``: signatures are computed ONLY for ids not already
    staged (anti-join against the table) and appended.

    This is the 100 TB dedup workflow — the corpus is hashed once
    EVER, not once per run: a re-crawl or nightly batch pays Python
    signature cost only for its new documents (~num_hashes×32 B/doc
    of state), and candidate generation reads the staged table as
    plain columns. Returns ``(n_new, new_ids_df)``."""
    spark = df.sparkSession
    src = df.select(id_col, text_col)
    # existence probe, not try/except: a transient READ failure of an
    # existing signature table must propagate — the skipped anti-join
    # would silently re-hash and re-append every doc (same fix as
    # stage_deletion_variants)
    if _parquet_exists(spark, sig_path):
        existing = spark.read.parquet(sig_path).select(id_col)
        src = src.join(existing, on=id_col, how="left_anti")
    # localCheckpoint (not persist): appending to sig_path below
    # invalidates any cached plan that READS sig_path — which the
    # anti-join does — so a lazily-cached `sigs` would silently
    # re-evaluate to empty after the write. Checkpointing cuts the
    # lineage first; the materialized batch is only the NEW docs'
    # signatures (~num_hashes×32 B each), small per increment.
    sigs = minhash_signatures_df(src, id_col, text_col, num_hashes, n).localCheckpoint()
    n_new = sigs.count()
    if n_new:
        sigs.write.mode("append").parquet(sig_path)
    new_ids = sigs.select(id_col)
    return n_new, new_ids


def incremental_dedup_pairs(
    docs: DataFrame,
    sig_path: str,
    new_ids: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    band_size: int = 4,
    n: int = 3,
    threshold: float = 0.8,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Near-dup pairs that TOUCH a new document, against the full
    staged signature table.

    Shape: bands come from the staged Parquet signatures (column ops,
    no re-hash); the candidate join is new-side bands (small) ⋈ all
    bands on (band_idx, band_key); verification is the per-pair
    Jaccard over exactly the candidate pairs. With ``new_ids=None``
    every staged doc is treated as new (full-corpus dedup from the
    staged table — still no re-hash)."""
    spark = docs.sparkSession
    sig = spark.read.parquet(sig_path)
    bands = bands_from_signatures(sig, id_col, num_hashes, band_size)
    bands = cap_bucket_size(bands, ["band_idx", "band_key"], max_bucket_size)
    lhs = bands if new_ids is None else bands.join(
        F.broadcast(new_ids.select(id_col)), on=id_col, how="left_semi"
    )
    from vnavc_spark.cache import tracked_persist

    a, b = lhs.alias("a"), bands.alias("b")
    # referenced by the ids union AND the pair join — tracked persist
    # (one live cache per session slot, see cache.py)
    cands = tracked_persist(
        a.join(b, on=["band_idx", "band_key"])
        .filter(F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
        .select(
            F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("doc_a"),
            F.greatest(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("doc_b"),
        )
        .distinct(),
        "incremental_cands",
    )
    cand_ids = (
        cands.select(F.col("doc_a").alias(id_col))
        .union(cands.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    subset = docs.join(cand_ids, on=id_col, how="left_semi")
    return jaccard_verify_pairs(cands, subset, id_col, text_col, n, threshold)


def compact_signature_table(
    spark,
    sig_path: str,
    id_col: str = "doc_id",
    include_docs: bool = True,
    target_partitions: int = 8,
) -> dict:
    """Compact the append-only incremental-dedup state tables back to
    one row per id and a bounded file count.

    ``stage_minhash_signatures`` appends one small parquet file per
    micro-batch forever; after thousands of batches the table is
    thousands of files (slow listing/footers) even though its LOGICAL
    size is stable. Signatures are deterministic, so compaction is a
    pure rewrite: ``dropDuplicates(id)`` + coalesce to
    ``target_partitions`` files, written to a temp dir and swapped in
    with directory renames (posix/local semantics; on an object store
    run this as a table-format operation — Delta OPTIMIZE / Iceberg
    rewrite_data_files — instead of dir swaps). POSIX cannot rename a
    directory onto an existing one, so the swap is two renames with a
    crash window between them: every call first RECOVERS a missing
    live path from the newest ``__old`` snapshot (both sides of the
    window are complete, valid tables — signatures are deterministic,
    so restoring the pre-compaction state loses nothing). Run it
    out-of-band, between streaming restarts: the checkpoint only
    tracks the SOURCE, so a restart sees the compacted table
    transparently.

    Returns {path: {"rows": n, "files_before": a, "files_after": b}}.
    """
    import glob
    import os
    import shutil
    import uuid

    paths = [sig_path] + ([f"{sig_path}_docs"] if include_docs else [])
    report: dict = {}
    for path in paths:
        if not os.path.isdir(path):
            # crash recovery: a previous compaction died between its
            # two swap renames — restore the newest __old snapshot
            olds = sorted(
                (p for p in glob.glob(f"{path}__old_*") if os.path.isdir(p)),
                key=os.path.getmtime,
            )
            if not olds:
                continue
            os.rename(olds[-1], path)
        # stale snapshots/temps from crashed runs (post-recovery)
        for stale in glob.glob(f"{path}__old_*") + glob.glob(
            f"{path}__compact_*"
        ):
            shutil.rmtree(stale, ignore_errors=True)
        files_before = len(glob.glob(os.path.join(path, "*.parquet")))
        df = spark.read.parquet(path).dropDuplicates([id_col])
        tmp = f"{path}__compact_{uuid.uuid4().hex[:8]}"
        df.coalesce(target_partitions).write.mode("overwrite").parquet(tmp)
        rows = spark.read.parquet(tmp).count()
        old = f"{path}__old_{uuid.uuid4().hex[:8]}"
        os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old)
        files_after = len(glob.glob(os.path.join(path, "*.parquet")))
        report[path] = {
            "rows": rows,
            "files_before": files_before,
            "files_after": files_after,
        }
    return report


# ---------------------------------------------------------------------------
# near-dup clustering (connected components) + keep-one
# ---------------------------------------------------------------------------

#: Telemetry for the CC loop (the NARROWING_STATS pattern): one dict
#: per dedup_clusters call — propagation rounds run, checkpoint
#: batches (= expensive driver syncs), wall per batch. Cleared and
#: read by probes/tests; never consulted by the operator itself.
CC_STATS: list[dict] = []


#: Default edge-count ceiling below which dedup_clusters solves the
#: component labels with a driver-side union-find instead of the
#: iterative join loop. Rationale (round-13 optimization, guide §1.2
#: "the distributed algorithm first" + §3.1's pick-by-size stance):
#: the join loop costs O(log diameter) checkpoint batches of driver
#: sync (~1 s/batch measured — 6.5 s for q209's 5,599-edge match
#: graph, >40% of the whole query) REGARDLESS of cluster size,
#: because the per-batch work is scheduling, not data. A match graph
#: under the cap collects to a few MB (the broadcast-join size
#: class), union-find labels it in milliseconds, and the result is
#: bit-identical (min member id per component). Graphs above the cap
#: keep the distributed loop — the cap is a driver-memory knob
#: (500k doubled edges ≈ tens of MB collected, same class as
#: spark.sql.autoBroadcastJoinThreshold's reasoning), overridable
#: per call, via spark.vnavc.cc.driverEdgeCap, or
#: $SPARK_GRAFT_CC_DRIVER_EDGE_CAP; 0 disables the driver path.
CC_DRIVER_EDGE_CAP = 500_000


def _cc_driver_edge_cap(spark) -> int:
    import os as _os

    try:
        return int(
            spark.conf.get(
                "spark.vnavc.cc.driverEdgeCap",
                _os.environ.get(
                    "SPARK_GRAFT_CC_DRIVER_EDGE_CAP",
                    str(CC_DRIVER_EDGE_CAP),
                ),
            )
        )
    except ValueError:
        return CC_DRIVER_EDGE_CAP


#: Byte companion to the row cap (round 14, VERDICT #6): the row cap
#: alone trusts ids to be narrow — 500k rows of 8-byte longs collect
#: a few MB, but the same row count of long STRING ids is a few
#: hundred MB of driver memory. The gate therefore also estimates the
#: collected PAYLOAD (rows × summed id width, octet lengths for
#: string/binary ids measured in the same job as the row count) and
#: falls back to the distributed loop past this many bytes.
#: Conf spark.vnavc.cc.driverByteCap / env
#: $SPARK_GRAFT_CC_DRIVER_BYTE_CAP; <= 0 disables the byte check.
CC_DRIVER_BYTE_CAP = 64 * 1024 * 1024


def _cc_driver_byte_cap(spark) -> int:
    import os as _os

    try:
        return int(
            spark.conf.get(
                "spark.vnavc.cc.driverByteCap",
                _os.environ.get(
                    "SPARK_GRAFT_CC_DRIVER_BYTE_CAP",
                    str(CC_DRIVER_BYTE_CAP),
                ),
            )
        )
    except ValueError:
        return CC_DRIVER_BYTE_CAP


def _driver_gate_stats(df: DataFrame, cols: tuple) -> tuple:
    """(row count, estimated collected payload bytes) of a
    materialized edge table, in ONE job — the byte estimate rides the
    same aggregate as the count, so the numeric-id common case pays
    nothing extra. String/binary columns contribute their exact
    summed octet length; fixed-width columns 8 bytes per row. The
    estimate is the payload only (Row-object overhead is
    proportional), which is what blows up with wide ids."""
    from pyspark.sql.types import BinaryType, StringType

    fixed = 0
    var_exprs = []
    for c in cols:
        if isinstance(df.schema[c].dataType, (StringType, BinaryType)):
            var_exprs.append(
                F.coalesce(F.octet_length(F.col(c)), F.lit(0)).cast("long")
            )
        else:
            fixed += 8
    aggs = [F.count(F.lit(1)).alias("_n")]
    if var_exprs:
        total = var_exprs[0]
        for e in var_exprs[1:]:
            total = total + e
        aggs.append(F.sum(total).alias("_b"))
    r = df.agg(*aggs).collect()[0]
    n = r["_n"]
    return n, n * fixed + ((r["_b"] or 0) if var_exprs else 0)


def _driver_gate_fits(
    df: DataFrame, spark, cols: tuple, n_cap: int, n_scale: int = 1
) -> bool:
    """Shared size gate for the driver-side graph mirrors: True when
    the materialized table both row-fits (``n_scale`` lets callers
    whose table is undoubled compare against the documented
    DOUBLED-edge cap) and byte-fits the driver-memory budget."""
    if n_cap <= 0:
        return False
    n, est_bytes = _driver_gate_stats(df, cols)
    if n * n_scale > n_cap:
        return False
    byte_cap = _cc_driver_byte_cap(spark)
    return byte_cap <= 0 or est_bytes <= byte_cap


def _driver_union_find(edges: DataFrame) -> DataFrame:
    """Label connected components of a SMALL (cap-gated, already
    materialized) doubled edge table on the driver: classic
    union-find with path compression, roots kept at the component
    MIN so labels are bit-identical to the join loop's fixpoint.
    Null endpoints mirror the join loop: a null node never joins
    anything and keeps its null label."""
    rows = edges.collect()
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while x != r:
            parent[x], x = r, parent.get(x, x)
        return r

    nodes = set()
    has_null = False
    for s, d in rows:
        if s is None or d is None:
            if s is not None:
                nodes.add(s)
            if d is not None:
                nodes.add(d)
            has_null = s is None or has_null
            continue
        nodes.add(s)
        nodes.add(d)
        rs, rd = find(s), find(d)
        if rs == rd:
            continue
        if rd < rs:
            rs, rd = rd, rs
        parent[rd] = rs

    labels = [(n, find(n)) for n in sorted(nodes)]
    if has_null:
        # the loop's distinct() keeps one null node row, label null
        labels.append((None, None))
    from pyspark.sql.types import StructField, StructType

    node_type = edges.schema["src"].dataType
    schema = StructType(
        [
            StructField("doc_id", node_type, True),
            StructField("cluster_id", node_type, True),
        ]
    )
    return edges.sparkSession.createDataFrame(labels, schema)


def dedup_clusters(
    pairs: DataFrame,
    max_iters: int = 50,
    check_every: int = 2,
    driver_edge_cap: int | None = None,
) -> DataFrame:
    """Connected components over near-dup pairs: (doc_id, cluster_id)
    for every doc appearing in a pair, cluster_id = min doc id of its
    component — the step that turns PAIRS into dedup GROUPS (A~B,
    B~C ⇒ {A,B,C} keep one, even though A,C never paired directly).

    Iterative min-label propagation: each round every node takes the
    min of its own and its neighbors' labels; converges in
    O(component diameter) rounds (near-dup components are cliques or
    short chains — diameter is tiny in practice; ``max_iters`` is a
    pathological-chain backstop). Each round is one join + one
    map-side-combinable min-agg. This is the simple form of the
    large-star/small-star CC algorithm; same per-round shuffle shape.

    Driver-sync discipline (round-10): rounds run in BATCHES of
    ``check_every`` — one flat lineage of k join+min rounds, ONE
    eager localCheckpoint per batch (instead of per round), then the
    convergence check counts rows whose label moved in the batch's
    LAST round straight off the checkpointed blocks (the previous
    label rides along as a column, so the old per-round
    labels-vs-labels join is gone entirely). Comparing only the last
    round is sound: propagation is a deterministic function of the
    label table, so one no-change round IS the fixpoint. Labels only
    ever decrease, so batching never overshoots — it just converges
    in ceil((D+1)/k) syncs instead of 2·(D+1).

    Each round also POINTER-JUMPS: label ← min(label, neighbors'
    labels, label's own label). Every label value is a node id of
    the same component (labels start as node ids and only take
    mins), so label[label] is defined, stays inside the component,
    and the reach toward the component min doubles per round —
    O(log diameter) corpus passes instead of O(diameter), which is
    what survives a 100 TB chain-shaped component. The jump is one
    extra node-table self-join per round (label-keyed, node-sized —
    never edge-sized); the fixpoint is unchanged (stable ⇔ labels
    constant along every edge ⇔ component min).

    Size gate (round-13 optimization): when the doubled edge table
    (already materialized by its checkpoint) holds at most
    ``driver_edge_cap`` rows, the labels are computed with a
    driver-side union-find instead — identical output (min member
    per component), milliseconds instead of seconds of
    cluster-size-independent checkpoint syncs. The cap defaults to
    :data:`CC_DRIVER_EDGE_CAP` (conf/env overridable; 0 disables),
    the same pick-the-strategy-by-size reasoning as a broadcast
    join threshold."""
    # severed checkpoints: plain localCheckpoint captures the origin
    # plan's stats, and a CHAIN of checkpoints multiplies them into
    # doubly-exponential BigInts that stall the driver's optimizer
    # from ~round 10 (round-11 find; see cache.severed_local_checkpoint)
    from vnavc_spark.cache import severed_local_checkpoint as _ckpt

    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    edges = _ckpt(
        edges.union(
            edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
    )
    import time as _time

    # size gate (round-13 optimization): the checkpoint above already
    # materialized the doubled edge table, so this count reads cached
    # blocks. Under the cap, component labeling is a driver-memory
    # problem — the iterative loop's ≥ceil(rounds/check_every)
    # checkpoint syncs (~1 s each, cluster-size-independent) cost far
    # more than collecting a few MB once (measured: q209's CC stage
    # 6.5 s -> 0.3 s, identical labels). Above the cap the
    # O(log diameter) distributed loop below is unchanged.
    if driver_edge_cap is None:
        driver_edge_cap = _cc_driver_edge_cap(pairs.sparkSession)
    if _driver_gate_fits(
        edges, pairs.sparkSession, ("src", "dst"), driver_edge_cap
    ):
        t0 = _time.perf_counter()
        out = _driver_union_find(edges)
        CC_STATS.append(
            {
                "rounds": 0,
                "batches": 0,
                "batch_s": [],
                "driver_path": True,
                "driver_s": round(_time.perf_counter() - t0, 3),
            }
        )
        return out
    labels = _ckpt(
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    stats = {"rounds": 0, "batches": 0, "batch_s": []}
    CC_STATS.append(stats)
    rounds_left = max_iters
    while rounds_left > 0:
        t0 = _time.perf_counter()
        k = min(check_every, rounds_left)
        rounds_left -= k
        cur = labels
        for _ in range(k):
            base = cur.select("node", "label")
            nbr_min = (
                edges.join(base, edges.src == F.col("node"))
                .groupBy(F.col("dst").alias("node"))
                .agg(F.min("label").alias("nbr_label"))
            )
            jump = base.alias("a").join(
                base.alias("b"),
                F.col("a.label") == F.col("b.node"),
            ).select(
                F.col("a.node").alias("node"),
                F.col("b.label").alias("jmp_label"),
            )
            cur = (
                base.join(nbr_min, on="node", how="left")
                .join(jump, on="node", how="left")
                .select(
                    "node",
                    F.least(
                        F.col("label"),
                        F.coalesce("nbr_label", "label"),
                        F.coalesce("jmp_label", "label"),
                    ).alias("label"),
                    F.col("label").alias("prev"),
                )
            )
        cur = _ckpt(cur)
        changed = cur.filter(F.col("label") != F.col("prev")).count()
        labels = cur.select("node", "label")
        stats["rounds"] += k
        stats["batches"] += 1
        stats["batch_s"].append(round(_time.perf_counter() - t0, 3))
        if changed == 0:
            break
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def ngram_hashes(
    toks: DataFrame,
    *,
    n: int = 8,
    doc_col: str = "doc_id",
    pos_col: str = "pos",
    tok_col: str = "tok",
) -> DataFrame:
    """(doc, pos, tok) rows → (doc, pos, h) where ``h`` is the md5 of
    the n-token gram starting at ``pos``. Built with ``lead()``
    windows — codegen'd JVM expressions, ONE exchange on the doc key
    (reusable by any downstream per-doc stage), and no higher-order
    functions (interpreted lambdas + projection collapse re-evaluate
    the captured token array per element — the q25 20× trap)."""
    w = Window.partitionBy(doc_col).orderBy(pos_col)
    parts = [F.col(tok_col)] + [
        F.lead(tok_col, i).over(w) for i in range(1, n)
    ]
    return (
        toks.select(
            doc_col,
            pos_col,
            F.md5(F.concat_ws(" ", *parts)).alias("h"),
            F.lead(tok_col, n - 1).over(w).alias("_last"),
        )
        .filter(F.col("_last").isNotNull())
        .drop("_last")
    )


def benchmark_contamination(
    toks: DataFrame,
    bench_pred: Column,
    *,
    n: int = 8,
    doc_col: str = "doc_id",
) -> DataFrame:
    """Benchmark-contamination check (the GPT-3/PaLM report style):
    for each document of the held-out/benchmark subset, the fraction
    of its distinct n-gram hashes that appear in ANY other document.

    Returns (bench_id, n_grams, n_matched, containment) — one row per
    benchmark doc with ≥1 gram; ``containment`` is a single terminal
    division of exact integers (hash-portable).

    Scale shape: the benchmark side is small by construction → its
    gram set BROADCASTS onto the corpus gram table, which is joined
    in place on the 32-B hash and never shuffled; per-bench counts
    are map-side partial. 100 TB corpus × 10 MB benchmark is the
    intended regime.
    """
    g = ngram_hashes(toks, n=n, doc_col=doc_col).select(doc_col, "h").distinct()
    b = g.filter(bench_pred).select(
        F.col(doc_col).alias("bench_id"), "h"
    )
    tot = b.groupBy("bench_id").agg(F.count("*").alias("n_grams"))
    m = (
        g.join(F.broadcast(b), on="h")
        .filter(F.col(doc_col) != F.col("bench_id"))
        .groupBy("bench_id")
        .agg(F.countDistinct("h").alias("n_matched"))
    )
    return tot.join(m, on="bench_id", how="left").select(
        "bench_id",
        "n_grams",
        F.coalesce(F.col("n_matched"), F.lit(0)).cast("long").alias("n_matched"),
        (
            F.coalesce(F.col("n_matched"), F.lit(0)).cast("double")
            / F.col("n_grams").cast("double")
        ).alias("containment"),
    )


def duplicate_spans(
    toks: DataFrame,
    *,
    n: int = 8,
    min_count: int = 2,
    doc_col: str = "doc_id",
    pos_col: str = "pos",
    tok_col: str = "tok",
) -> DataFrame:
    """Substring-level exact dedup (the Lee-et-al. "Deduplicating
    Training Data" shape, re-expressed MapReduce-style): find every
    token n-gram that occurs ≥ ``min_count`` times corpus-wide, then
    merge each document's duplicated positions into maximal spans.

    Input: one row per token — (doc, pos, tok), ``pos`` 1-based.
    Output: (doc, span_start, span_end, n_grams) per duplicated span.

    Scale shape (100 TB):
    - n-grams are built with ``lead()`` windows over (doc, pos) — no
      higher-order functions (interpreted + projection-collapse traps)
      and no text re-shuffle: the window exchange on ``doc`` is the
      only place token strings move, and it is REUSED by the final
      island merge, which partitions on the same key.
    - the duplicate decision is a partial-aggregable
      ``groupBy(h).count()`` (map-side combine collapses repeats of a
      hot gram BEFORE the shuffle) followed by a LEFT SEMI join of the
      gram rows against the ≥min_count hashes. A window count
      partitioned by ``h`` would put every occurrence of one
      boilerplate gram in a single window partition — AQE skew
      handling does not apply to windows, but it DOES split the semi
      join's skewed partitions. The gram subplan is identical on both
      sides, so ReuseExchange executes it once.
    - suffix arrays (the paper's exact-substring structure) don't
      distribute; fixed-n gram fingerprints are the standard
      shuffle-friendly approximation (n = 8 words here).
    """
    grams = ngram_hashes(
        toks, n=n, doc_col=doc_col, pos_col=pos_col, tok_col=tok_col
    )
    dup_h = (
        grams.groupBy("h")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= min_count)
        .select("h")
    )
    dup = grams.join(dup_h, on="h", how="left_semi")
    wd = Window.partitionBy(doc_col).orderBy(pos_col)
    brk = F.when(
        F.col(pos_col) - F.lag(pos_col).over(wd) > n, F.lit(1)
    ).otherwise(F.lit(0))
    islands = (
        dup.select(doc_col, pos_col)
        .withColumn("brk", brk)
        .withColumn(
            "island",
            F.sum("brk").over(
                wd.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    return (
        islands.groupBy(doc_col, "island")
        .agg(
            F.min(pos_col).alias("span_start"),
            (F.max(pos_col) + F.lit(n - 1)).alias("span_end"),
            F.count("*").alias("n_grams"),
        )
        .select(doc_col, "span_start", "span_end", "n_grams")
    )


def chunk_dedup_reassemble(
    toks: DataFrame,
    *,
    chunk: int = 25,
    doc_col: str = "doc_id",
    pos_col: str = "pos",
    tok_col: str = "tok",
) -> DataFrame:
    """Paragraph/chunk-level exact dedup WITH corpus reassembly — the
    step q61 stops short of: documents are split into fixed
    ``chunk``-token windows (a pseudo-paragraph segmentation for flat
    text; swap the chunk key for a real paragraph index when the
    corpus has one), every chunk keeps only its globally-first
    occurrence (min (doc, chunk_id) per md5), and each document is
    re-built from its surviving chunks.

    Returns (doc, n_chunks, n_kept, dedup_fp) where ``dedup_fp`` is
    the md5 of the reassembled text — the full text itself stays
    executor-side; only fingerprints reach the result.

    Scale shape: ONE shuffle of token rows onto (doc, chunk_id) builds
    chunks; the keep-first decision is a partial-aggregable
    ``groupBy(h).min(struct(doc, chunk_id))`` (map-side combine
    collapses repeats of a hot chunk before the shuffle) joined back
    on the full (h, doc, chunk_id) key — an inner equi-join AQE can
    skew-split, where a row_number window partitioned by ``h`` would
    serialize every copy of one boilerplate chunk into a single
    partition. Only (doc, chunk_id, md5) rows ride these exchanges;
    chunk text stays on the chunk-build side, whose identical subplan
    ReuseExchange executes once. The per-chunk sort_array/transform
    lambdas run over SMALL aggregated arrays (≤ chunk tokens), not
    captured row-level expressions — no interpreted-HOF blowup.
    """
    chunk_id = F.floor(
        (F.col(pos_col) - 1) / F.lit(float(chunk))
    ).cast("long")
    chunks = (
        toks.withColumn("chunk_id", chunk_id)
        .groupBy(doc_col, "chunk_id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(pos_col, tok_col))
                    ),
                    lambda s: s[tok_col],
                ),
            ).alias("chunk_text")
        )
        .withColumn("h", F.md5("chunk_text"))
    )
    winner = chunks.groupBy("h").agg(
        F.min(
            F.struct(
                F.col(doc_col).alias("_d"), F.col("chunk_id").alias("_c")
            )
        ).alias("_w")
    )
    k = chunks.join(
        winner,
        (chunks["h"] == winner["h"])
        & (chunks[doc_col] == winner["_w._d"])
        & (chunks["chunk_id"] == winner["_w._c"]),
        "inner",
    ).select(chunks[doc_col], chunks["chunk_id"], chunks["chunk_text"])
    tot = chunks.groupBy(doc_col).agg(F.count("*").alias("n_chunks"))
    kept = (
        k.groupBy(doc_col)
        .agg(
            F.count("*").alias("n_kept"),
            F.md5(
                F.concat_ws(
                    "\n",
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct("chunk_id", "chunk_text")
                            )
                        ),
                        lambda s: s["chunk_text"],
                    ),
                )
            ).alias("fp"),
        )
    )
    return tot.join(kept, on=doc_col, how="left").select(
        doc_col,
        "n_chunks",
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce(F.col("fp"), F.md5(F.lit(""))).alias("dedup_fp"),
    )


def cdc_chunk_stats(
    toks: DataFrame,
    *,
    window: int = 4,
    doc_col: str = "doc_id",
    pos_col: str = "pos",
    tok_col: str = "tok",
) -> DataFrame:
    """Content-defined chunking (Rabin/FastCDC shape, on tokens):
    chunk boundaries fall AFTER any position whose trailing
    ``window``-gram md5 ends in the hex digit '0' (expected chunk
    length 16 tokens) — boundaries depend only on local content, so
    unlike fixed windows (chunk_dedup_reassemble) they survive
    insertions/deletions: an edited doc re-chunks identically outside
    the edited neighborhood. Returns per-doc (doc, n_chunks,
    n_dup_chunks) where a dup chunk appears ≥2× corpus-wide.

    Scale/portability notes:
    - the trailing gram is ``lag()`` windows over one (doc, pos)
      exchange; the running boundary count reuses the same sort — no
      self-join to shift flags;
    - the boundary test is a SUBSTRING equality on the md5 hex ('0'
      → 1/16 cut rate), sidestepping hex→int conversion (Spark
      ``conv`` returns strings and differs from DuckDB's casts);
    - only (doc, chunk_id, md5) rows reach the duplicate-count
      shuffle, and the dup decision is a partial-aggregable
      ``groupBy(h).count()`` + LEFT SEMI join (AQE-skew-splittable)
      rather than a window partitioned by the chunk hash, so a
      corpus-wide boilerplate chunk cannot pin one partition.
    """
    w = Window.partitionBy(doc_col).orderBy(pos_col)
    lags = [F.lag(tok_col, i).over(w) for i in range(window - 1, 0, -1)]
    gram = F.concat_ws(" ", *lags, F.col(tok_col))
    brk = F.when(
        lags[0].isNotNull()
        & (F.substring(F.md5(gram), 32, 1) == "0"),
        F.lit(1),
    ).otherwise(F.lit(0))
    f = toks.select(doc_col, pos_col, tok_col, brk.alias("brk"))
    c = f.withColumn(
        "chunk_id",
        F.coalesce(
            F.sum("brk").over(
                w.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    )
    ch = c.groupBy(doc_col, "chunk_id").agg(
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(pos_col, tok_col))
                    ),
                    lambda s: s[tok_col],
                ),
            )
        ).alias("h")
    )
    dup_h = (
        ch.groupBy("h")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= 2)
        .select("h")
    )
    n_dup = (
        ch.join(dup_h, on="h", how="left_semi")
        .groupBy(doc_col)
        .agg(F.count("*").alias("n_dup_chunks"))
    )
    tot = ch.groupBy(doc_col).agg(F.count("*").alias("n_chunks"))
    return tot.join(n_dup, on=doc_col, how="left").select(
        doc_col,
        "n_chunks",
        F.coalesce(F.col("n_dup_chunks"), F.lit(0))
        .cast("long")
        .alias("n_dup_chunks"),
    )


def deletion_neighborhood_pairs(
    words: DataFrame,
    *,
    tok_col: str = "tok",
    carry: tuple[str, ...] = ("cnt",),
) -> DataFrame:
    """SymSpell-style fuzzy pairing: every Levenshtein-distance-1
    word pair, found by blocking on {word} ∪ {single-char deletions}
    and verifying ``levenshtein == 1`` on candidates only — never an
    all-pairs cross join. Input is an aggregated vocabulary table
    (tok + carried stats); variants multiply it by ~word_len, which
    is vocab-scale, not corpus-scale. Degenerate blocks (shared
    boilerplate stems) can be pre-capped with ``cap_bucket_size``.

    Returns (tok_a, <carry>_a, tok_b, <carry>_b) with tok_a < tok_b.
    """
    v = words.select(
        tok_col,
        *carry,
        F.explode(
            F.expr(
                f"concat(transform(sequence(1, length({tok_col})),"
                f" i -> concat(substring({tok_col}, 1, i - 1),"
                f" substring({tok_col}, i + 1, length({tok_col})))),"
                f" array({tok_col}))"
            )
        ).alias("var"),
    )
    a, b = v.alias("a"), v.alias("b")
    sel = [
        F.col(f"a.{tok_col}").alias("tok_a"),
        *[F.col(f"a.{c}").alias(f"{c}_a") for c in carry],
        F.col(f"b.{tok_col}").alias("tok_b"),
        *[F.col(f"b.{c}").alias(f"{c}_b") for c in carry],
    ]
    p = (
        a.join(
            b,
            (F.col("a.var") == F.col("b.var"))
            & (F.col(f"a.{tok_col}") < F.col(f"b.{tok_col}")),
        )
        .select(*sel)
        .distinct()
    )
    # bounded levenshtein (banded DP, early exit past 1) — same
    # result, cheaper verify; see name_linkage_pairs
    return p.filter(F.levenshtein("tok_a", "tok_b", 1) == 1)


# ---------------------------------------------------------------------------
# prefix-filtering exact set-similarity join (AllPairs / PPJoin family)
# ---------------------------------------------------------------------------

def ordered_shingle_sets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Per-doc shingle sets ordered rare-first by global document
    frequency (ties by shingle value): (id, sets array<string>, n_sh).

    The global df ordering is what makes prefix filtering selective:
    the prefix holds the *rarest* elements, so the candidate join key
    distribution is anti-hot by construction (Chaudhuri et al.,
    SSJoin; Bayardo et al., WWW'07 All-Pairs).

    Shuffle shape: one explode + count per shingle (vocabulary-sized
    aggregate), one join of the exploded corpus against that
    vocabulary on shingle, one re-group by id. Text itself is never
    shuffled — only (id, shingle) pairs.
    """
    ex = explode_shingles(df, id_col, text_col, n)
    freq = ex.groupBy("shingle").agg(F.count("*").alias("_df"))
    ranked = (
        ex.join(freq, "shingle")
        .groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("_df", "shingle"))
            ).alias("_ranked")
        )
        .select(
            F.col(id_col),
            F.transform(F.col("_ranked"), lambda s: s["shingle"]).alias(
                "sets"
            ),
        )
        .withColumn("n_sh", F.size("sets"))
    )
    return ranked


def containment_join(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold_num: int = 8,
    threshold_den: int = 10,
    min_shingles: int = 8,
    bucket_cap: int | None = None,
    clique_cap: int | None = 8,
) -> DataFrame:
    """EXACT asymmetric containment self-join: pairs (A, B) with
    |sh(A) ∩ sh(B)| / |sh(A)| ≥ num/den — Broder's second measure;
    catches a document embedded inside a larger one (quotes,
    concatenated crawls) that symmetric Jaccard misses when sizes
    differ.

    Candidates via ONE-SIDED prefix filtering (the All-Pairs lemma
    asymmetric case): order each doc's shingles globally-rarest-first
    (``ordered_shingle_sets``); if containment(A→B) ≥ t then at
    least ⌈t·|A|⌉ of A's shingles are in B, so A's prefix of length
    |A| − ⌈t·|A|⌉ + 1 must intersect B's FULL set — probing only
    the prefix is LOSSLESS (recall 1.0, which is why the oracle can
    be plain exact SQL). Thresholds are integer rationals so the
    prefix length and the final filter are exact integer arithmetic
    on both engines.

    Scale shape: the probe side explodes only prefixes — and the
    global rare-first order makes probe keys anti-hot BY CONSTRUCTION
    (a boilerplate shingle has huge df, so it sorts to the array tail
    and never enters a prefix). The container side ships (shingle,
    id, n_sh) occurrence rows once. Candidate fan-out is
    Σ_{s ∈ prefixes} df(s) with df small for prefix shingles;
    ``bucket_cap`` additionally guards adversarial corpora (capping
    trades recall — leave None when certifying against an exact
    oracle). Verification is per-pair ``array_intersect`` over the
    two sorted sets — no second fan-out.

    The "run exact dedup first" precondition is ENFORCED, not just
    documented (round-10): k identical copies of a document form a
    k-clique, so candidate and output volume grow ~k² per clique
    (any containment definition does — the pairs genuinely exist).
    Docs are grouped by a signature of their full shingle SET; a
    group larger than ``clique_cap`` collapses to its min-id
    representative before pairing, and every output pair carries
    ``n_collapsed_contained`` / ``n_collapsed_container`` audit
    columns (1 for uncollapsed docs, the clique size for a
    representative — the pair stands for that many collapsed pairs;
    the clique's internal identical-set pairs are exactly what exact
    dedup removes). The signature only partitions docs WITHIN each
    engine, so an oracle mirrors the rule with any equivalent
    grouping. ``clique_cap=None`` disables the collapse. The scaling
    sweep's verbatim-replication stress measures exactly the
    output-quadratic regime this bounds (docs/SCALING_r04.json
    flagged it ``output_quadratic`` pre-guard).

    Returns (contained_id, container_id, n_shared, n_contained,
    containment, n_collapsed_contained, n_collapsed_container) for
    verified pairs, both directions when both hold.
    """
    from vnavc_spark.cache import tracked_persist

    sets = ordered_shingle_sets(df, id_col, text_col, n).filter(
        F.col("n_sh") >= min_shingles
    )
    if clique_cap is not None:
        sets = sets.withColumn(
            "_sig", F.md5(F.concat_ws("\x1f", F.array_sort("sets")))
        )
    # the ordered-sets subtree (explode + vocab join + per-doc array
    # build) feeds FOUR consumers (probes, occurrences, both verify
    # sides) — persist it so the heavy lineage runs once per job, not
    # four times (at most one cache alive per session, see cache.py)
    sets = tracked_persist(sets, "containment_sets")
    if clique_cap is not None:
        # clique decisions computed ARRAY-FREE off the cache: project
        # (id, sig) → group-count + min-id per sig (map-side
        # combinable; shuffles only scalar rows, never the shingle
        # arrays — a window over the full rows measured 2× the whole
        # query at sf0.1) → per-doc keep/multiplicity verdicts → one
        # id-keyed join back (AQE broadcasts the verdict table; at
        # cluster scale it's one id-shuffle — far cheaper than the
        # k² pairs it prevents)
        over = (
            sets.select(id_col, "_sig")
            .groupBy("_sig")
            .agg(
                F.count("*").alias("_cn"),
                F.min(id_col).alias("_rep"),
            )
            .filter(F.col("_cn") > clique_cap)
        )
        # only OVER-cap cliques need rows (sub-cap docs default to
        # keep/multiplicity-1 through the left join) — on a clean
        # corpus this table is EMPTY, so the per-consumer cost is a
        # broadcast probe, not a per-doc verdict join (a full
        # verdict table measured +50%, persisted still +20%).
        # Persisted so its cache-scan + tiny shuffle run once, not
        # once per downstream consumer.
        over = tracked_persist(over, "containment_over")
        sets = (
            sets.join(over, on="_sig", how="left")
            .filter(
                F.col("_cn").isNull()
                | (F.col(id_col) == F.col("_rep"))
            )
            .withColumn(
                "clique_n",
                F.coalesce(F.col("_cn"), F.lit(1)).cast("long"),
            )
            .drop("_sig", "_cn", "_rep")
        )
    else:
        sets = sets.withColumn("clique_n", F.lit(1).cast("long"))
    # ceil(n_sh * num / den) in exact integer arithmetic
    need = F.floor(
        (F.col("n_sh") * threshold_num + (threshold_den - 1))
        / threshold_den
    ).cast("int")
    plen = (F.col("n_sh") - need + 1).cast("int")
    # the candidate join keys on xxhash64(shingle), not the string:
    # an 8-byte long shuffles ~3× less than a 3-word shingle, and a
    # hash collision can only ADD a spurious candidate pair — the
    # exact array_intersect verify removes it, so recall AND the
    # final result are unchanged (cost-only, like the CMS buckets)
    probes = sets.select(
        F.col(id_col).alias("contained_id"),
        F.explode(F.slice("sets", 1, plen)).alias("s"),
    ).select("contained_id", F.xxhash64("s").alias("hs"))
    if bucket_cap is not None:
        probes = cap_bucket_size(probes, ["hs"], bucket_cap)
    occ = sets.select(
        F.col(id_col).alias("container_id"),
        F.explode("sets").alias("s"),
    ).select("container_id", F.xxhash64("s").alias("hs"))
    cands = (
        probes.join(occ, "hs")
        .filter(F.col("contained_id") != F.col("container_id"))
        .select("contained_id", "container_id")
        .distinct()
    )
    sa = sets.select(
        F.col(id_col).alias("contained_id"),
        F.col("sets").alias("_sa"),
        F.col("n_sh").alias("n_contained"),
        F.col("clique_n").alias("n_collapsed_contained"),
    )
    sb = sets.select(
        F.col(id_col).alias("container_id"),
        F.col("sets").alias("_sb"),
        F.col("clique_n").alias("n_collapsed_container"),
    )
    return (
        cands.join(sa, "contained_id")
        .join(sb, "container_id")
        .withColumn(
            "n_shared",
            F.size(F.array_intersect("_sa", "_sb")).cast("long"),
        )
        .filter(
            F.col("n_shared") * threshold_den
            >= F.col("n_contained") * threshold_num
        )
        .select(
            "contained_id",
            "container_id",
            "n_shared",
            F.col("n_contained").cast("long").alias("n_contained"),
            (
                F.col("n_shared")
                / F.col("n_contained").cast("double")
            ).alias("containment"),
            "n_collapsed_contained",
            "n_collapsed_container",
        )
    )


# ---------------------------------------------------------------------------
# benchmark-contamination core (shared by queries.q179 and its
# streaming twin, contamination_spec — the q170 twin pattern: one
# math core, two drivers)
# ---------------------------------------------------------------------------


def token_shingle_hashes(
    df: DataFrame,
    text_col: str = "text",
    n: int = 13,
    id_cols: tuple[str, ...] = ("doc_id", "source"),
) -> DataFrame:
    """Per-doc DISTINCT hashed n-token shingles: normalize → tokenize
    → md5 over each space-joined n-token window → distinct on
    (id_cols..., h). The GPT-3/PaLM decontamination unit (n=13).
    Linear in corpus tokens (one explode, never corpus²); the
    distinct is a map-side-combinable aggregate on (doc, hash).
    Mirrors the oracle's
    ``md5(array_to_string(x[i:i+n-1], ' '))`` exactly."""
    from vnavc_spark.io import spread_small_scan

    t = df.select(
        *id_cols, tokens(normalized_text(text_col)).alias("x")
    ).filter(F.size("x") >= n)
    # spread a few-file scan before the per-window md5 transform —
    # the n-gram hashing is the heavy per-row work and otherwise
    # runs one task per input file (scale-adaptive no-op on real
    # multi-split corpora); the downstream distinct is
    # order-independent
    return spread_small_scan(t).select(
        *id_cols,
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("x") - (n - 1)),
                lambda i: F.md5(
                    F.concat_ws(" ", F.slice(F.col("x"), i, n))
                ),
            )
        ).alias("h"),
    ).distinct()


def contamination_screen(
    doc_shingles: DataFrame, bench_hashes: DataFrame
) -> DataFrame:
    """Per-doc contamination counts against a benchmark shingle set:
    ONE left join on the hash key (broadcast at eval-suite size — AQE
    picks it; bloom-prefilterable via filters.bloom_bitmap_prefilter
    in the corpus-sized-reference regime) → (doc_id, source,
    n_shingles, n_hits). Input contract: ``doc_shingles`` is the
    per-doc DISTINCT (doc_id, source, h) table
    (:func:`token_shingle_hashes`), ``bench_hashes`` a distinct
    single-column ``h`` set."""
    return (
        doc_shingles.join(
            bench_hashes.select("h").withColumn("_hit", F.lit(1)),
            on="h",
            how="left",
        )
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
            .cast("long")
            .alias("n_hits"),
        )
    )


def contamination_rollup(per_doc: DataFrame) -> DataFrame:
    """Per-source rollup of per-doc contamination counts — the shared
    output contract of queries.q179 (batch) and the finalize of
    :func:`contamination_spec` (staged per-doc rows summed per
    source). Partial-aggregatable; source-dimension-sized
    output."""
    return per_doc.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("n_hits") >= 1, 1).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_contaminated"),
        F.sum("n_hits").cast("long").alias("hit_shingles"),
        F.sum("n_shingles").cast("long").alias("total_shingles"),
    )


def _driver_kcore_peel(
    both: DataFrame, k: int, rounds: int, to_fixpoint: bool
) -> DataFrame:
    """Driver-side mirror of the distributed peel sweeps over a
    SMALL (cap-gated, already materialized) doubled edge table —
    identical semantics per sweep: keep edges with both endpoints
    alive, count degrees among kept edges, survive iff degree >= k.
    Null endpoints mirror the semi joins (never match, never
    survive)."""
    rows = [
        (u, v) for u, v in both.collect() if u is not None and v is not None
    ]
    alive = {u for u, _ in rows}
    for _ in range(rounds):
        deg: dict = {}
        for u, v in rows:
            if u in alive and v in alive:
                deg[u] = deg.get(u, 0) + 1
        nxt = {u for u, d in deg.items() if d >= k}
        if to_fixpoint and len(nxt) == len(alive):
            alive = nxt
            break
        alive = nxt
    res: dict = {}
    for u, v in rows:
        if u in alive and v in alive:
            res[u] = res.get(u, 0) + 1
    from pyspark.sql.types import LongType, StructField, StructType

    node_type = both.schema["u"].dataType
    schema = StructType(
        [
            StructField("doc_id", node_type, True),
            StructField("residual_deg", LongType(), True),
        ]
    )
    return both.sparkSession.createDataFrame(
        sorted(res.items()), schema
    )


def kcore_peel(
    pairs: DataFrame,
    k: int = 2,
    rounds: int = 3,
    to_fixpoint: bool = False,
    driver_edge_cap: int | None = None,
) -> DataFrame:
    """k-core peeling over an undirected pair table (doc_a, doc_b):
    repeatedly delete vertices whose CURRENT degree is < k — the
    density filter that isolates the cohesive subgraph (dedup-cluster
    hubs, co-purchase cores, citation kernels). Returns the vertices
    alive after the peel with their residual degree (degree counted
    among survivors only).

    ``rounds`` fixes the number of peel sweeps — the certified form
    (q195 unrolls the same three sweeps in its DuckDB oracle; the
    q176 fixed-iteration stance: certify a deterministic prefix of
    the loop, run the loop itself as deep as the caller wants).
    ``to_fixpoint=True`` keeps sweeping (bounded by ``rounds`` as a
    backstop ceiling then) and early-exits when a sweep deletes
    nothing — the production form; each extra sweep is the same
    bounded work, so the prefix certification transfers.

    Scale shape (dedup_clusters' loop discipline): per sweep, the
    survivor set filters the edge table via two semi joins (edges
    ship ids only), one map-side-combinable degree count, one
    threshold filter; the survivor frame is localCheckpointed so the
    plan stays flat instead of growing a 2^rounds lineage. Edges are
    whatever bounded pair table feeds it (capped-basket pairs, LSH
    candidates) — never corpus²."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    # severed checkpoints — same chained-checkpoint stats blowup as
    # dedup_clusters (see cache.severed_local_checkpoint)
    from vnavc_spark.cache import severed_local_checkpoint as _ckpt

    edges = pairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    both = _ckpt(
        edges.union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
    )
    # size gate (round-13, the dedup_clusters stance): the peel loop
    # costs `rounds` checkpoint syncs regardless of cluster size; a
    # cap-gated graph computes the identical sweeps driver-side.
    if driver_edge_cap is None:
        driver_edge_cap = _cc_driver_edge_cap(pairs.sparkSession)
    if _driver_gate_fits(
        both, pairs.sparkSession, ("u", "v"), driver_edge_cap
    ):
        return _driver_kcore_peel(
            both, k=k, rounds=rounds, to_fixpoint=to_fixpoint
        )
    alive = _ckpt(both.select("u").distinct())
    for _ in range(rounds):
        kept = (
            both.join(alive, on="u", how="leftsemi")
            .join(
                alive.select(F.col("u").alias("v")), on="v", how="leftsemi"
            )
        )
        deg = kept.groupBy("u").agg(F.count("*").cast("long").alias("deg"))
        nxt = _ckpt(deg.filter(F.col("deg") >= k).select("u"))
        if to_fixpoint and nxt.count() == alive.count():
            alive = nxt
            break
        alive = nxt
    survivors = (
        both.join(alive, on="u", how="leftsemi")
        .join(alive.select(F.col("u").alias("v")), on="v", how="leftsemi")
        .groupBy("u")
        .agg(F.count("*").cast("long").alias("residual_deg"))
    )
    return survivors.select(F.col("u").alias("doc_id"), "residual_deg")


_DEL1_SQL = (
    "transform(sequence(1, length({c})), i -> "
    "concat(substring({c}, 1, i-1), "
    "substring({c}, i+1, length({c}))))"
)
# all two-position deletions i < j: head, the i..j gap interior, tail.
# Guarded for len < 2: Spark's sequence(a, b) runs DESCENDING when
# a > b, so an unguarded sequence(1, length-1) on a 0-length string
# would fabricate indices instead of an empty list.
_DEL2_SQL = (
    "CASE WHEN length({c}) >= 2 THEN "
    "flatten(transform(sequence(1, length({c}) - 1), i -> "
    "transform(sequence(i + 1, length({c})), j -> "
    "concat(substring({c}, 1, i-1), substring({c}, i+1, j-i-1), "
    "substring({c}, j+1, length({c})))))) "
    "ELSE array() END"
)


def deletion_neighborhood(col: str, radius: int):
    """FastSS deletion neighborhood of a string column (Bocek et al.
    2007): the string itself plus every variant reachable by deleting
    up to ``radius`` characters, distinct, as an array column. The
    FastSS theorem makes the shared-variant equi-join a LOSSLESS
    candidate generator for Levenshtein distance ≤ radius: lev(s, t)
    ≤ k  ⇔  their depth-k deletion neighborhoods intersect. Fan-out
    is 1 + len (radius 1) / 1 + len + len·(len−1)/2 (radius 2) —
    quadratic in the NAME LENGTH, never in the corpus."""
    parts = [F.array(col), F.expr(_DEL1_SQL.format(c=col))]
    if radius >= 2:
        parts.append(F.expr(_DEL2_SQL.format(c=col)))
    return F.array_distinct(F.concat(*parts))


def name_linkage_pairs(names: DataFrame, radius: int = 1) -> DataFrame:
    """Record-linkage blocking + verify over a (nm, n_recs) DISTINCT
    entity table: pairs within Levenshtein distance ``radius`` plus
    both sides' record counts — the math core of queries.q202
    (radius 1) and queries.q207 (radius 2), factored so the
    streaming twin (:func:`name_linkage_spec`) sums its additive
    per-batch name counts into the same entity table and gets
    streaming == batch as an identity.

    FastSS deletion blocking (Bocek et al. 2007): each name explodes
    to its depth-``radius`` deletion neighborhood (see
    :func:`deletion_neighborhood`); two names within edit distance
    ``radius`` MUST share a variant (the FastSS theorem), so the
    variant-hash equi-join is a LOSSLESS candidate generator and the
    per-pair ``levenshtein`` verify makes it exact. Candidates,
    never names²: fan-out is Σ df(variant), with variant buckets
    bounded by (alphabet × name length)^radius for real name
    distributions; exact-duplicate records never reach the join
    (the caller's groupBy collapsed them — the clique stance).

    Id-pair proxy (round 14, radius 2 only; guide §2.3 "shuffle
    keys, not payloads" / §8): every shuffle BEFORE the levenshtein
    verify carries an 8-byte ``xxhash64(nm)`` id instead of the
    name strings — the self-join output and the candidate-pair
    distinct move 16-byte rows instead of two ~20-char names
    (measured at sf0.1: the chain's 17.4M-pair distinct exchange
    drops ~3x in bytes; full chain 5.0 → 3.9 s, q207 4.9 → 4.2,
    q208 5.8 → 4.9 fresh-session medians). Names and record counts
    re-attach via the entity table right before the verify. The
    RADIUS-1 chain keeps the direct string-pair form: its candidate
    volume is ~20x smaller (one deletion per position, no depth-2
    blowup), and the proxy's two extra re-attach joins were MEASURED
    SLOWER there (q202 0.75 → 1.24 s fresh-session median) — fixed
    plan overhead exceeding the distinct's byte savings, the same
    measure-first rejection as r13's BM25 token spread.

    EXACTNESS DOES NOT ASSUME THE ID HASH IS COLLISION-FREE. A
    collision only merges id pairs; the re-attach joins expand each
    surviving (id_a, id_b) row back to class(id_a) × class(id_b)
    name pairs, which regenerates every original candidate exactly
    once (a name pair's OWN id pair is canonical and unique, so the
    distinct kept exactly one row for it) plus possibly spurious
    cross-class pairs, which the exact levenshtein verify then
    drops (a spurious pair that PASSES the verify is, by the FastSS
    theorem, a true candidate that was going to be emitted anyway —
    and its own id pair was the same merged row, so it appears
    once). Diagonal id pairs (id_a == id_b) are kept through the
    distinct because a collided diagonal hides a true cross pair;
    after re-attach, ``nm_a < nm_b`` keeps exactly one orientation
    of those and drops the true self-pairs. Off-diagonal rows
    expand to exactly one row per name pair with arbitrary name
    order, re-oriented to name_a < name_b on output."""
    from vnavc_spark.cache import tracked_persist

    if radius not in (1, 2):
        raise ValueError(f"name_linkage_pairs: radius must be 1 or 2, got {radius}")
    names = tracked_persist(names, f"linkage_names_r{radius}")
    if radius == 1:
        variants = names.select(
            "nm",
            F.explode(deletion_neighborhood("nm", radius)).alias("v"),
        ).select("nm", F.xxhash64("v").alias("hv"))
        cands = (
            variants.select(F.col("nm").alias("name_a"), "hv")
            .join(variants.select(F.col("nm").alias("name_b"), "hv"), "hv")
            .filter(F.col("name_a") < F.col("name_b"))
            .select("name_a", "name_b")
            .distinct()
        )
        return (
            cands.withColumn(
                "dist",
                F.levenshtein("name_a", "name_b", radius).cast("long"),
            )
            .filter(F.col("dist") >= 0)
            .join(
                names.select(
                    F.col("nm").alias("name_a"),
                    F.col("n_recs").alias("n_recs_a"),
                ),
                "name_a",
            )
            .join(
                names.select(
                    F.col("nm").alias("name_b"),
                    F.col("n_recs").alias("n_recs_b"),
                ),
                "name_b",
            )
            .select("name_a", "name_b", "n_recs_a", "n_recs_b", "dist")
        )
    ids = names.select(F.xxhash64("nm").alias("id"), "nm", "n_recs")
    variants = ids.select(
        "id",
        F.explode(deletion_neighborhood("nm", radius)).alias("v"),
    ).select("id", F.xxhash64("v").alias("hv"))
    cand_ids = (
        variants.select(F.col("id").alias("id_a"), "hv")
        .join(variants.select(F.col("id").alias("id_b"), "hv"), "hv")
        .filter(F.col("id_a") <= F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    attached = (
        cand_ids.join(
            ids.select(
                F.col("id").alias("id_a"),
                F.col("nm").alias("_nm_a"),
                F.col("n_recs").alias("_nr_a"),
            ),
            "id_a",
        )
        .join(
            ids.select(
                F.col("id").alias("id_b"),
                F.col("nm").alias("_nm_b"),
                F.col("n_recs").alias("_nr_b"),
            ),
            "id_b",
        )
        # diagonal id rows: keep one orientation of collided cross
        # pairs, drop true self-pairs (same name ⇒ same id ⇒ only
        # reachable here); off-diagonal rows all pass
        .filter(
            (F.col("id_a") != F.col("id_b"))
            | (F.col("_nm_a") < F.col("_nm_b"))
        )
        # bounded levenshtein (banded DP, O(radius·len) per pair with
        # early exit; returns -1 past the bound): the verify was the
        # dominant cost of the radius-2 pipeline at sf0.1 (~5.4 s of
        # 9.5 s over 17.4M candidates) and the bound cuts the full
        # query 10.2 → 7.2 s, bit-identical rows (docs/SCALE.md r11).
        # Distinct names are never equal, so kept rows are exactly
        # dist >= 1 — the >= 0 filter only drops the -1 sentinel.
        .withColumn(
            "dist",
            F.levenshtein("_nm_a", "_nm_b", radius).cast("long"),
        )
        .filter(F.col("dist") >= 0)
    )
    swap = F.col("_nm_a") > F.col("_nm_b")
    return attached.select(
        F.when(swap, F.col("_nm_b")).otherwise(F.col("_nm_a")).alias("name_a"),
        F.when(swap, F.col("_nm_a")).otherwise(F.col("_nm_b")).alias("name_b"),
        F.when(swap, F.col("_nr_b")).otherwise(F.col("_nr_a")).alias("n_recs_a"),
        F.when(swap, F.col("_nr_a")).otherwise(F.col("_nr_b")).alias("n_recs_b"),
        "dist",
    )


# ---------------------------------------------------------------------------
# Fellegi-Sunter scoring (record-linkage classification step)
# ---------------------------------------------------------------------------

#: The ONE Fellegi-Sunter model config for the customer-entity
#: pipeline — queries.q208, queries.q209, and the streaming twins
#: (fellegi_sunter_spec and its siblings) all consume these objects,
#: so retuning the model cannot leave a consumer on stale weights.
#: Fixed integer log2(m/u)-shaped priors (see fellegi_sunter_scores).
FS_ATTR_WEIGHTS: dict[str, tuple[int, int]] = {
    "nation": (4, -2),
    "segment": (2, -1),
    "bal_band": (3, -1),
}
FS_DIST_WEIGHTS: dict[int, int] = {1: 6, 2: 3}
FS_MATCH_THRESHOLD = 10
FS_POSSIBLE_THRESHOLD = 4


def fellegi_sunter_customer_scores(
    pairs: DataFrame, entities: DataFrame
) -> DataFrame:
    """:func:`fellegi_sunter_scores` bound to the shared customer
    model config — the single scoring call q208, q209, and the
    streaming twin all route through."""
    return fellegi_sunter_scores(
        pairs,
        entities,
        attr_weights=FS_ATTR_WEIGHTS,
        dist_weights=FS_DIST_WEIGHTS,
        match_threshold=FS_MATCH_THRESHOLD,
        possible_threshold=FS_POSSIBLE_THRESHOLD,
    )


def fellegi_sunter_rollup(scored: DataFrame) -> DataFrame:
    """(decision, dist) rollup of a scored pair table — q208's output
    contract, shared with the streaming twin so their shapes cannot
    drift."""
    return scored.groupBy("decision", "dist").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum("agree_nation").cast("long").alias("n_agree_nation"),
        F.sum("agree_segment").cast("long").alias("n_agree_segment"),
        F.sum("agree_bal_band").cast("long").alias("n_agree_balband"),
        F.sum("match_weight").cast("long").alias("sum_weight"),
    )


def fellegi_sunter_scores(
    pairs: DataFrame,
    attrs: DataFrame,
    attr_weights: dict[str, tuple[int, int]],
    dist_weights: dict[int, int],
    match_threshold: int,
    possible_threshold: int,
    name_col: str = "nm",
) -> DataFrame:
    """Fellegi-Sunter (1969) scoring step over a candidate-pair table:
    per-pair agreement vector -> integer log-odds-style match weight
    -> three-way decision (match / possible / non_match).

    ``pairs`` is a (name_a, name_b, dist, ...) candidate table (the
    output of :func:`name_linkage_pairs` or
    :func:`incremental_linkage_pairs`); ``attrs`` is the entity
    attribute table keyed by ``name_col`` (one row per entity — the
    caller's groupBy collapsed records, the q202 stance).
    ``attr_weights`` maps attribute column -> (agreement weight,
    disagreement weight); ``dist_weights`` maps name edit distance ->
    weight. Weights are FIXED INTEGER priors (log2(m/u) rounded, as a
    trained FS model would supply) so the score is exact integer
    arithmetic — no float surface between engines.

    Agreement semantics (pinned, oracle-mirrored): agree_<col> = 1
    iff BOTH sides are non-null AND equal; a null on either side is
    a disagreement (conservative — missing evidence never argues FOR
    a match). Decision: weight >= match_threshold -> 'match',
    >= possible_threshold -> 'possible', else 'non_match'.

    Scale shape: consumes the candidate-bounded pair table; the only
    joins are pair-side equi-joins against the entity attribute
    table (distinct-name-sized, name-keyed) — no new corpus-scale
    join and nothing all-pairs."""
    attr_cols = list(attr_weights)
    a_side = attrs.select(
        F.col(name_col).alias("name_a"),
        *[F.col(c).alias(f"_a_{c}") for c in attr_cols],
    )
    b_side = attrs.select(
        F.col(name_col).alias("name_b"),
        *[F.col(c).alias(f"_b_{c}") for c in attr_cols],
    )
    # LEFT joins: a pair whose name is missing from attrs still gets
    # scored — its attr columns are null, and null is already pinned
    # as disagreement below (missing evidence never argues FOR a
    # match). An inner join here silently DROPPED such pairs, a
    # contract trap for external candidate tables (e.g.
    # incremental_linkage_pairs over a stale entity snapshot); for
    # pairs derived from the same entity table the result is
    # identical.
    out = pairs.join(a_side, "name_a", "left").join(
        b_side, "name_b", "left"
    )
    dist_w = F.lit(0)
    for d, w in sorted(dist_weights.items()):
        dist_w = F.when(F.col("dist") == d, F.lit(w)).otherwise(dist_w)
    weight = dist_w
    agree_cols = []
    for c in attr_cols:
        agree = (
            F.col(f"_a_{c}").isNotNull()
            & F.col(f"_b_{c}").isNotNull()
            & (F.col(f"_a_{c}") == F.col(f"_b_{c}"))
        ).cast("int")
        out = out.withColumn(f"agree_{c}", agree)
        agree_cols.append(f"agree_{c}")
        w_agree, w_disagree = attr_weights[c]
        weight = weight + F.when(
            F.col(f"agree_{c}") == 1, F.lit(w_agree)
        ).otherwise(F.lit(w_disagree))
    out = out.withColumn("match_weight", weight.cast("long"))
    decision = (
        F.when(F.col("match_weight") >= match_threshold, F.lit("match"))
        .when(
            F.col("match_weight") >= possible_threshold, F.lit("possible")
        )
        .otherwise(F.lit("non_match"))
    )
    return out.select(
        "name_a", "name_b", "dist", *agree_cols,
        "match_weight", decision.alias("decision"),
    )


# ---------------------------------------------------------------------------
# incremental record linkage (persistent deletion-variant table)
# ---------------------------------------------------------------------------

def stage_deletion_variants(
    names: DataFrame,
    var_path: str,
    radius: int = 1,
    name_col: str = "nm",
) -> tuple[int, DataFrame]:
    """Incrementally maintain a Parquet deletion-variant table keyed
    by ``name_col``: variants are exploded ONLY for names not already
    staged (anti-join against the table) and appended — the
    :func:`stage_minhash_signatures` stance applied to record
    linkage.

    This is the 100 TB ER workflow: the name corpus is exploded once
    EVER, not once per run; a new-records batch pays variant fan-out
    (1+len at radius 1, +len(len-1)/2 at radius 2) only for ITS new
    distinct names and probes the staged table by equi-join. Stored
    rows are (nm, hv) with hv = xxhash64(variant) — 16 B/row; a hash
    collision only ADDS a candidate pair, which the downstream
    levenshtein verify kills (lossless, the q202 contract). The
    staging radius rides along as a column and is VALIDATED — probing
    a radius-1 table at radius 2 would silently miss true dist-2
    pairs, so a mismatch raises instead (and mixed-radius appends to
    one path are rejected the same way).

    CRASH SAFETY — the names MANIFEST (``var_path + "_names"``): a
    name spans MANY variant rows, so "is this name staged?" must not
    be answered from the variants table itself — a crash mid-append
    can leave a name's rows partially visible, and a variants-keyed
    anti-join would then treat the name as staged while its missing
    variants silently lose true pairs FOREVER (unlike the signature
    table, whose one-row-per-doc staging is per-row atomic). Names
    are therefore anti-joined against a manifest written strictly
    AFTER the variants append commits: a crash between the two
    writes leaves the name unmanifested, so the next run re-stages
    it completely — duplicate variant rows, which only re-ADD
    candidates the downstream ``distinct()`` collapses (lossless),
    never lost ones. A variants table with NO manifest is treated as
    nothing-staged (full re-stage): a legacy pre-manifest table is
    indistinguishable from a crashed first append, and adopting its
    names would re-create exactly the partial-staging loss — a
    one-time doubling of harmless duplicate rows is the safe side.

    ORPHAN manifests (round-12 ADVICE, medium): if the variants
    table was deleted/rebuilt (the remedy the mixed-radius and
    radius-mismatch errors prescribe) but the sibling manifest
    survived, an append would resurrect it — later batches whose
    names sit only in the orphan would be anti-joined away as
    "staged" with no variants on disk, silently losing their true
    pairs forever. So whenever the anti-join does NOT run (variants
    table or manifest absent), any existing manifest is DELETED
    up front, before any write: the invariant "manifest names ⊆
    fully-staged names" then holds at every crash point — a crash
    after the delete but mid-variants-write leaves no manifest, so
    the next run re-stages completely (a plain mode="overwrite" at
    the end would instead keep the orphan alive across exactly that
    crash window). Returns ``(n_new_names, new_names_df)``."""
    spark = names.sparkSession
    names_path = f"{var_path}_names"
    # null names explode to zero variants, so a null could never be
    # staged and would be counted "new" on every run (n_new would
    # never converge to 0) — drop it here, mirroring the entity
    # tables' not-null contract
    src = (
        names.select(F.col(name_col).alias("nm"))
        .filter(F.col("nm").isNotNull())
        .distinct()
    )
    # existence probe, not try/except: a transient READ failure of an
    # existing table must propagate, or the skipped anti-join silently
    # re-stages every name and doubles the table (the q154 lesson)
    anti_joined = False
    if _parquet_exists(spark, var_path):
        staged_tbl = spark.read.parquet(var_path)
        _check_staged_radius(staged_tbl, var_path, radius)
        if _parquet_exists(spark, names_path):
            src = src.join(
                spark.read.parquet(names_path).select("nm"),
                on="nm",
                how="left_anti",
            )
            anti_joined = True
        # no manifest: fall through with every name "new" — full
        # re-stage (see docstring: the lossless side of the
        # legacy-vs-crashed-first-append ambiguity)
    if not anti_joined and _parquet_exists(spark, names_path):
        # orphan/untrusted manifest (variants table absent or
        # rebuilt): delete it BEFORE any write so it cannot claim
        # names this run might fail to stage — see docstring
        _delete_path(spark, names_path)
    # localCheckpoint, not persist: the append below invalidates any
    # cached plan that reads var_path (the anti-join does), so a
    # lazily-cached batch would silently re-evaluate to empty after
    # the write (the stage_minhash_signatures lesson).
    src = src.localCheckpoint()
    n_new = src.count()
    if n_new:
        src.select(
            "nm",
            F.explode(deletion_neighborhood("nm", radius)).alias("v"),
        ).select(
            "nm",
            F.xxhash64("v").alias("hv"),
            F.lit(radius).cast("int").alias("radius"),
        ).write.mode("append").parquet(var_path)
        # manifest STRICTLY AFTER the variants commit — see docstring
        src.select(
            "nm", F.lit(radius).cast("int").alias("radius")
        ).write.mode("append").parquet(names_path)
    return n_new, src


def _parquet_exists(spark, path: str) -> bool:
    """True iff ``path`` exists on the session's filesystem — the
    q154 stance: only true absence means 'first run'; real read
    errors on an existing table must propagate."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))


def _delete_path(spark, path: str) -> None:
    """Recursively delete ``path`` on the session's filesystem (used
    to retire an orphan names manifest before re-staging)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.delete(hpath, True)


def _check_staged_radius(staged: DataFrame, var_path: str, radius: int):
    """Raise if a staged deletion-variant table was built at a
    different radius than the caller is using (lossless candidates
    require stage radius == probe radius), or if it holds MIXED radii
    (two first-run stagers racing on an absent path can interleave
    appends — each sees no table, so neither per-append check fires;
    a first()-only probe here would then bless whichever radius one
    arbitrary row carries). The distinct scan is bounded: radius is a
    constant column with at most a handful of values."""
    radii = sorted(
        r[0] for r in staged.select("radius").distinct().collect()
        if r[0] is not None
    )
    if len(radii) > 1:
        raise ValueError(
            f"staged variant table {var_path} holds MIXED radii "
            f"{radii} (concurrent first-run stagers?); rebuild it — "
            "delete BOTH the table and its names manifest "
            f"{var_path}_names — a mixed table silently misses pairs "
            "for the larger radius"
        )
    if radii and radii[0] != radius:
        raise ValueError(
            f"staged variant table {var_path} was built at "
            f"radius={radii[0]}, requested radius={radius}; "
            "stage each radius under its own path (and if rebuilding "
            f"this one, delete its names manifest {var_path}_names "
            "with it)"
        )


def incremental_linkage_pairs(
    names: DataFrame,
    var_path: str,
    new_names: DataFrame | None = None,
    radius: int = 1,
) -> DataFrame:
    """Linkage pairs that TOUCH a new name, against the full staged
    deletion-variant table — same output contract as
    :func:`name_linkage_pairs` (name_a < name_b, n_recs both sides,
    exact dist <= radius).

    Shape: probe side is the staged variants of the new names only
    (broadcast left-semi on the node-sized new-name list); the
    candidate join is new-side variants (small) ⋈ all staged
    variants on hv — per-batch cost ∝ new names' variant fan-out ×
    bucket df, never a corpus re-explode. With ``new_names=None``
    every staged name is probed (full-corpus linkage from the staged
    table — still no re-explode; parity-tested against
    :func:`name_linkage_pairs`)."""
    from vnavc_spark.cache import tracked_persist

    if radius not in (1, 2):
        raise ValueError(
            f"incremental_linkage_pairs: radius must be 1 or 2, got {radius}"
        )
    spark = names.sparkSession
    # existence probe, not try/except (the q154 stance): an ABSENT
    # table means nothing was ever staged — an empty corpus stages
    # zero names and never creates the path — so there are zero
    # candidate pairs by definition; a READ error on an existing
    # table still propagates below
    if not _parquet_exists(spark, var_path):
        return spark.createDataFrame(
            [],
            "name_a string, name_b string, n_recs_a long, "
            "n_recs_b long, dist long",
        )
    variants = spark.read.parquet(var_path)
    # probing a radius-1 table at radius 2 silently misses true
    # dist-2 pairs — the staged radius must match (see
    # stage_deletion_variants)
    _check_staged_radius(variants, var_path, radius)
    variants = variants.select("nm", "hv")
    lhs = variants if new_names is None else variants.join(
        F.broadcast(new_names.select("nm")), on="nm", how="left_semi"
    )
    cands = (
        lhs.select(F.col("nm").alias("name_a"), "hv")
        .join(variants.select(F.col("nm").alias("name_b"), "hv"), "hv")
        .filter(F.col("name_a") != F.col("name_b"))
        .select(
            F.least("name_a", "name_b").alias("name_a"),
            F.greatest("name_a", "name_b").alias("name_b"),
        )
        .distinct()
    )
    names = tracked_persist(
        names.select("nm", "n_recs"), f"inc_linkage_names_r{radius}"
    )
    return (
        # bounded levenshtein: see name_linkage_pairs (same verify)
        cands.withColumn(
            "dist",
            F.levenshtein("name_a", "name_b", radius).cast("long"),
        )
        .filter(F.col("dist") >= 0)
        .join(
            names.select(
                F.col("nm").alias("name_a"),
                F.col("n_recs").alias("n_recs_a"),
            ),
            "name_a",
        )
        .join(
            names.select(
                F.col("nm").alias("name_b"),
                F.col("n_recs").alias("n_recs_b"),
            ),
            "name_b",
        )
        .select("name_a", "name_b", "n_recs_a", "n_recs_b", "dist")
    )


def fs_agreement_patterns(
    scored: DataFrame,
    attr_cols: tuple[str, ...] = ("nation", "segment", "bal_band"),
) -> DataFrame:
    """Agreement-pattern histogram of a scored candidate-pair table:
    one row per (dist, agree_<attr>...) pattern with its pair count —
    the SUFFICIENT STATISTIC for Fellegi-Sunter parameter estimation
    (the EM step consumes only these ≤ dists·2^k rows, never the
    pairs). Output is bounded by the pattern space (16 rows for the
    customer model), so collecting it is contract-bounded at any
    corpus size."""
    agree = [f"agree_{c}" for c in attr_cols]
    return scored.groupBy("dist", *agree).agg(
        F.count("*").cast("long").alias("n_pairs")
    )


def fellegi_sunter_em(
    patterns: list,
    n_fields: int,
    iters: int = 25,
    init_p: float = 0.05,
) -> dict:
    """Fellegi-Sunter m/u parameter estimation via EM (Winkler 1988)
    over an agreement-pattern histogram: ``patterns`` is a list of
    ``(gamma, n)`` with ``gamma`` a tuple of ``n_fields`` 0/1
    agreement indicators and ``n`` the pair count (the output of
    :func:`fs_agreement_patterns`, with dist binarized by the
    caller). Pure driver-side arithmetic on the ≤ 2^n_fields rows —
    the corpus never participates, so this runs identically at any
    scale. Deterministic: fixed init, fixed iteration count.

    Returns {"p": match prevalence, "m": per-field P(agree|match),
    "u": per-field P(agree|unmatch), "weights": per-field integer
    (agree, disagree) log2-odds rounded to the nearest int — the
    shape :func:`fellegi_sunter_scores` consumes}."""
    import math

    if n_fields < 1:
        raise ValueError(f"n_fields must be >= 1, got {n_fields}")
    total = float(sum(n for _, n in patterns))
    if total <= 0:
        raise ValueError("empty pattern histogram — nothing to fit")
    for g, _ in patterns:
        if len(g) != n_fields or any(v not in (0, 1) for v in g):
            raise ValueError(f"malformed pattern {g!r}")
    p = init_p
    # asymmetric init breaks the m==u saddle point
    m = [0.9] * n_fields
    u = [0.1] * n_fields
    for _ in range(iters):
        sw = 0.0
        sm = [0.0] * n_fields
        su = [0.0] * n_fields
        swn = 0.0
        for g, n in patterns:
            pm = p
            pu = 1.0 - p
            for k in range(n_fields):
                pm *= m[k] if g[k] else (1.0 - m[k])
                pu *= u[k] if g[k] else (1.0 - u[k])
            w = pm / (pm + pu) if (pm + pu) > 0 else 0.0
            sw += n * w
            swn += n * (1.0 - w)
            for k in range(n_fields):
                if g[k]:
                    sm[k] += n * w
                    su[k] += n * (1.0 - w)
        if sw <= 0 or swn <= 0:
            break  # degenerate — keep the last sane estimates
        p = sw / total
        # clamp away from 0/1 so log-odds stay finite (standard
        # practice: a field that is ALWAYS equal among matches would
        # otherwise produce an infinite weight)
        clamp = lambda x: min(max(x, 1e-6), 1.0 - 1e-6)
        m = [clamp(sm[k] / sw) for k in range(n_fields)]
        u = [clamp(su[k] / swn) for k in range(n_fields)]
    # floor(x + 0.5), NOT round(): Python round() is half-to-even
    # while DuckDB's (the q212 oracle) is half-away-from-zero — a
    # log2 weight landing exactly on x.5 would certify differently.
    # Pin the one rule the repo already uses everywhere else
    # (stable_round / q214): both engines compute floor(x + 0.5).
    r_half_up = lambda x: int(math.floor(x + 0.5))
    weights = [
        (
            r_half_up(math.log2(m[k] / u[k])),
            r_half_up(math.log2((1.0 - m[k]) / (1.0 - u[k]))),
        )
        for k in range(n_fields)
    ]
    return {"p": p, "m": m, "u": u, "weights": weights}


def entity_rekey(
    records: DataFrame,
    clusters: DataFrame,
    name_col: str = "c_name",
) -> DataFrame:
    """Apply step of the ER pipeline (the q106 dedup_apply analog for
    entities): attach ``entity_id`` to every record — clustered names
    map to their cluster's id (:func:`dedup_clusters` output via
    queries.q209), names in no cluster are their own entity. All
    records survive (ER rekeys; it does not drop — downstream
    aggregations group by entity_id instead of the raw name, which is
    where duplicate entities actually merge).

    Scale shape: one left join against the cluster map, which is
    clustered-names-sized (a small fraction of distinct names —
    broadcastable in practice, and name-keyed either way); records
    never shuffle on anything but the join key.

    ``entity_id`` is always a STRING: both coalesce branches are cast
    so the function is generic over the node type (a q56-style long
    doc-id cluster map and a q209-style string name map both work —
    without the cast, mismatched branch types raise an analysis error
    or silently cast one side)."""
    m = clusters.select(
        F.col("nm").cast("string").alias("__rekey_nm"),
        F.col("entity_id").cast("string").alias("entity_id"),
    )
    return (
        records.withColumn("__rekey_nm", F.col(name_col).cast("string"))
        .join(m, on="__rekey_nm", how="left")
        .withColumn(
            "entity_id",
            F.coalesce(F.col("entity_id"), F.col("__rekey_nm")),
        )
        .drop("__rekey_nm")
    )


# ---------------------------------------------------------------------------
# Mergeable-partial specs (operators/mergeable.py): each batch query
# below and its streaming twin (streaming/ingest.TWINS) call the same
# partial and finalize.
# ---------------------------------------------------------------------------


def contamination_spec(
    bench_hashes: DataFrame | None = None, n: int = 13
) -> Spec:
    """q179's per-source benchmark contamination. The partial screens
    each doc's distinct ``n``-token shingles against ``bench_hashes``
    (a FROZEN benchmark: the eval suite is fixed before training data
    flows) to one (doc_id, source, n_shingles, n_hits) row per doc.
    Docs arrive whole within one batch, so staged rows merge by union;
    finalize is :func:`contamination_rollup`. Only the partial needs
    ``bench_hashes``. q179 screens its persisted shingle table with
    the same :func:`contamination_screen` and rolls up with the same
    finalize."""

    def partial(rows: DataFrame) -> DataFrame:
        return contamination_screen(
            token_shingle_hashes(rows, "text", n=n), bench_hashes
        )

    return Spec(partial, union_merge, contamination_rollup)


def _name_counts(rows: DataFrame) -> DataFrame:
    """(nm, n_recs): records per distinct customer name."""
    return rows.filter(F.col("c_name").isNotNull()).groupBy(
        F.col("c_name").alias("nm")
    ).agg(F.count("*").cast("long").alias("n_recs"))


def name_linkage_spec(radius: int = 1) -> Spec:
    """q202 (radius 1) and q207 (radius 2, rolled up per distance):
    linkage pairs of customer names. Partial: (nm, n_recs) name
    counts — radius-agnostic, so both depths read one staging; merge:
    sum (copies of a name in different batches collapse to one entity
    with its corpus-wide count); finalize: :func:`name_linkage_pairs`,
    which refuses a radius outside {1, 2}."""
    return Spec(
        _name_counts,
        merge_by("nm"),
        lambda names: name_linkage_pairs(names, radius=radius),
    )


def customer_entity_rows(rows: DataFrame) -> DataFrame:
    """The customer entity table the Fellegi-Sunter family scores
    over: one row per distinct name with its record count and
    min-merged attributes (nm, n_recs, nation, segment, bal_band).
    Every field is mergeable: counts add, and a min of per-batch mins
    is the corpus min (min ignores nulls, so an attribute null in one
    batch and present in another merges to the present value, as the
    batch groupBy does)."""
    return rows.filter(F.col("c_name").isNotNull()).groupBy(
        F.col("c_name").alias("nm")
    ).agg(
        F.count("*").cast("long").alias("n_recs"),
        F.min("c_nationkey").alias("nation"),
        F.min("c_mktsegment").alias("segment"),
        F.min(F.floor(F.col("c_acctbal") / F.lit(1000.0))).alias("bal_band"),
    )


def _fs_scored(ent: DataFrame) -> DataFrame:
    pairs = name_linkage_pairs(ent.select("nm", "n_recs"), radius=2)
    return fellegi_sunter_customer_scores(pairs, ent)


def _entity_spec(finalize) -> Spec:
    return Spec(
        customer_entity_rows, merge_by("nm", how="min", n_recs="sum"), finalize
    )


def fellegi_sunter_spec() -> Spec:
    """q208's Fellegi-Sunter (decision, dist) rollup over the customer
    entity table (:func:`customer_entity_rows`)."""
    return _entity_spec(lambda ent: fellegi_sunter_rollup(_fs_scored(ent)))


def agreement_patterns_spec() -> Spec:
    """q210's agreement-pattern histogram, from the same entity
    partials as :func:`fellegi_sunter_spec`."""
    return _entity_spec(lambda ent: fs_agreement_patterns(_fs_scored(ent)))


def entity_clusters_spec() -> Spec:
    """q209's entity clusters (nm, entity_id, n_recs), from the same
    entity partials as :func:`fellegi_sunter_spec`."""

    def finalize(ent: DataFrame) -> DataFrame:
        matches = _fs_scored(ent).filter(F.col("decision") == "match").select(
            F.col("name_a").alias("doc_a"), F.col("name_b").alias("doc_b")
        )
        # cut lineage before CC: dedup_clusters unions the edge table
        # with its flip (two evaluations of the plan) and the match-pair
        # table carries the whole blocking+scoring pipeline —
        # checkpointing pays it once (decision-filtered pairs are tiny)
        matches = matches.localCheckpoint()
        clusters = dedup_clusters(matches).select(
            F.col("doc_id").alias("nm"),
            F.col("cluster_id").alias("entity_id"),
        )
        return clusters.join(ent.select("nm", "n_recs"), "nm").select(
            "nm", "entity_id", "n_recs"
        )

    return _entity_spec(finalize)
