"""Dedup + similarity invariants beyond the SQL oracles: LSH recall
vs exact, candidate⊇verified containment, simhash locality, exact
dedup keep-one semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL
from vnavc_spark.io import table
from vnavc_spark.operators import dedup, similarity


@pytest.fixture(scope="module")
def docs(spark):
    return table(spark, SF_SMALL, "documents")


@pytest.fixture(scope="module")
def emb(spark):
    return table(spark, SF_SMALL, "embeddings")


class TestDedup:
    def test_exact_dedup_keeps_one_per_fingerprint(self, spark):
        rows = [(1, "Hello  WORLD!"), (2, "hello world"), (3, "khác hẳn")]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        kept = dedup.drop_exact_dups(df).select("doc_id").collect()
        ids = sorted(r.doc_id for r in kept)
        # normalization equates 1 and 2 → min id kept
        assert ids == [1, 3]

    def test_minhash_candidates_superset_of_high_jaccard(self, docs):
        # every pair with jaccard ≥ 0.9 must be an LSH candidate
        # (16 hashes / 4 bands: P[miss] = (1-s^4)^4 ≈ 0.2% at s=0.9)
        verified = dedup.jaccard_pairs(docs, threshold=0.9)
        cands = dedup.minhash_candidates(docs)
        missed = verified.join(cands, on=["doc_a", "doc_b"], how="left_anti")
        assert missed.count() == 0

    def test_dedup_pipeline_equals_bounded_jaccard_on_planted_dups(self, docs):
        full = {
            (r.doc_a, r.doc_b)
            for r in dedup.jaccard_pairs(docs, threshold=0.95).collect()
        }
        piped = {
            (r.doc_a, r.doc_b)
            for r in dedup.minhash_dedup_pairs(docs, threshold=0.95).collect()
        }
        assert piped <= full
        # planted near-dups at ~0.97+ jaccard: expect full recall here
        assert piped == full

    def test_simhash_locality(self, spark):
        a = "spark window batch query the fast table row value part"
        b = "spark window batch query the fast table row value parts"  # 1 token
        c = "completely different words entirely other content here now"
        df = spark.createDataFrame(
            [(1, a), (2, b), (3, c)], ["doc_id", "text"]
        )
        sh = {r.doc_id: r.sh for r in df.select("doc_id", dedup.simhash32("text").alias("sh")).collect()}
        ham = lambda x, y: bin(x ^ y).count("1")
        assert ham(sh[1], sh[2]) < ham(sh[1], sh[3])

    def test_shingles_expression_matches_python(self, spark, docs):
        expr = docs.limit(50).select(
            "doc_id", dedup.word_shingles("text").alias("sh")
        ).collect()
        for r in expr:
            py = dedup._py_shingles(
                docs.filter(F.col("doc_id") == r.doc_id).first().text
            )
            assert sorted(r.sh) == sorted(py)


class TestSimilarity:
    def test_lsh_recall_vs_exact(self, emb):
        queries = emb.filter(F.col("vec_id") < 5)
        exact = {
            (r.query_id, r.neighbor_id)
            for r in similarity.cosine_topk(emb, queries, k=10).collect()
        }
        # sf0.001 has only ~50 vectors: use 4-bit buckets (16) so
        # buckets aren't singletons; production sizes bits to corpus
        approx = {
            (r.query_id, r.neighbor_id)
            for r in similarity.lsh_topk(emb, queries, k=10, bits=4).collect()
        }
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.5

    def test_ivf_recall_and_determinism(self, emb):
        queries = emb.filter(F.col("vec_id") < 5)
        exact = {
            (r.query_id, r.neighbor_id)
            for r in similarity.cosine_topk(emb, queries, k=10).collect()
        }
        ivf1 = similarity.ivf_topk(
            emb, queries, k=10, n_cells=8, nprobe=3
        ).collect()
        got = {(r.query_id, r.neighbor_id) for r in ivf1}
        assert len(exact & got) / len(exact) >= 0.5
        # hash-seeded centroids → bit-stable across runs
        ivf2 = similarity.ivf_topk(
            emb, queries, k=10, n_cells=8, nprobe=3
        ).collect()
        assert sorted(map(tuple, ivf1)) == sorted(map(tuple, ivf2))

    def test_kmeans_refine_separates_planted_blobs(self, spark):
        """Two well-separated direction blobs must end up in two
        different clusters after Lloyd refinement, every vector must
        be assigned exactly once, and the refined centroids must
        point at the blob directions (cosine assignment is
        direction-only)."""
        rows = []
        for i in range(20):
            eps = (i % 5) * 0.01
            rows.append((i, [1.0, eps, 0.0, 0.0]))  # +x blob
            rows.append((100 + i, [0.0, eps, 0.0, -1.0]))  # -w blob
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        assigned, cents = similarity.ivf_index(
            emb, n_cells=2, refine_iters=2, dim=4
        )
        a = {r.vec_id: r.cell for r in assigned.collect()}
        assert len(a) == 40  # every vector assigned exactly once
        cells_x = {a[i] for i in range(20)}
        cells_w = {a[100 + i] for i in range(20)}
        assert len(cells_x) == 1 and len(cells_w) == 1
        assert cells_x != cells_w
        c = {r.cell: list(r.centroid) for r in cents.collect()}
        cx = c[next(iter(cells_x))]
        # dominant component of the +x blob centroid is dim 0
        assert cx[0] > 0.9 and abs(cx[3]) < 0.1
        cw = c[next(iter(cells_w))]
        assert cw[3] < -0.9 and abs(cw[0]) < 0.1
        # centroid means are the exact scaled-integer-sum form:
        # mean * count * 1e6 recovers an integer (the summed floor)
        assert all(
            abs(v * 20 * 1e6 - round(v * 20 * 1e6)) < 1e-3
            for vec in c.values()
            for v in vec
        )

    def test_ivf_full_probe_equals_exact(self, emb):
        # probing ALL cells must recover the exact result
        queries = emb.filter(F.col("vec_id") < 3)
        exact = {
            (r.query_id, r.neighbor_id)
            for r in similarity.cosine_topk(emb, queries, k=5).collect()
        }
        full = {
            (r.query_id, r.neighbor_id)
            for r in similarity.ivf_topk(
                emb, queries, k=5, n_cells=4, nprobe=4
            ).collect()
        }
        assert full == exact

    def test_cosine_topk_scores_sane(self, emb):
        out = similarity.cosine_topk(emb, emb.filter(F.col("vec_id") < 2), k=5)
        rows = out.collect()
        assert all(-1.0 <= r.score <= 1.0 for r in rows)
        # ranks are 1..5 per query
        for q in {r.query_id for r in rows}:
            assert sorted(r.rank for r in rows if r.query_id == q) == [1, 2, 3, 4, 5]


class TestEmbeddingNeardupLsh:
    def test_subset_of_bruteforce_with_recall(self, spark, emb):
        from vnavc_spark.functions.vector import cosine
        from vnavc_spark.functions.portable import stable_round

        a = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
        b = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
        brute = {
            (r.vec_a, r.vec_b)
            for r in a.join(b, F.col("vec_a") < F.col("vec_b"))
            .select(
                "vec_a", "vec_b",
                stable_round(cosine("ea", "eb"), 6).alias("score"),
            )
            .filter(F.col("score") >= 0.4)
            .collect()
        }
        lsh = {
            (r.vec_a, r.vec_b)
            for r in similarity.embedding_neardup_lsh(
                emb, threshold=0.4, bits=4
            ).collect()
        }
        assert lsh <= brute  # no false positives (exact rerank)
        if brute:
            assert len(lsh) / len(brute) >= 0.3  # LSH recall floor


class TestBucketCaps:
    def test_degenerate_corpus_is_bounded(self, spark):
        # 200 identical docs would generate 200²/2 ≈ 20k pairs per
        # band bucket without the cap; with it, the degenerate bucket
        # is dropped entirely and only the planted near-dup survives
        boiler = "the quick brown fox jumps over the lazy dog again and again"
        rows = [(i, boiler) for i in range(200)]
        planted = (
            "unique planted document about spark shuffle behavior at scale "
            "with adaptive execution skew salting broadcast joins bucketed "
            "staging and partition pruning over parquet scans ending"
        )
        rows += [(900, planted + " one"), (901, planted + " two")]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        pairs = dedup.minhash_dedup_pairs(df, threshold=0.8, max_bucket_size=50)
        got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
        assert got == {(900, 901)}

    def test_cap_none_is_identity(self, docs):
        capped = dedup.minhash_candidates(docs, max_bucket_size=None)
        default = dedup.minhash_candidates(docs, max_bucket_size=1000)
        a = {(r.doc_a, r.doc_b) for r in capped.collect()}
        b = {(r.doc_a, r.doc_b) for r in default.collect()}
        assert a == b  # no degenerate buckets in the synthetic corpus


class TestSimhashBlocks:
    def test_block_bounds_cover_all_bits(self):
        for k in (1, 2, 3, 7):
            bounds = dedup.simhash_block_bounds(k)
            assert len(bounds) == k + 1
            covered = [lo + w for lo, w in bounds]
            assert sum(w for _, w in bounds) == 32
            assert bounds[0][0] == 0 and covered[-1] == 32

    def test_recall_is_exact_for_low_hamming(self, docs):
        # pigeonhole: k+1 disjoint blocks → every pair within hamming
        # ≤ k shares a block → block join finds EXACTLY the brute-
        # force pair set (verify step makes precision exact too)
        sub = docs.filter(F.col("doc_id") < 200)
        sh = {
            r.doc_id: r.sh
            for r in sub.select(
                "doc_id", dedup.simhash32("text").alias("sh")
            ).collect()
        }
        ids = sorted(sh)
        brute = {
            (a, b)
            for i, a in enumerate(ids)
            for b in ids[i + 1 :]
            if bin(sh[a] ^ sh[b]).count("1") <= 3
        }
        got = {
            (r.doc_a, r.doc_b)
            for r in dedup.simhash_near_dups(
                sub, max_hamming=3, max_block_size=None
            ).collect()
        }
        assert got == brute

    def test_xxhash64_production_path_equivalent_detection(self, spark, docs):
        # the xxhash64 backend (JVM-native, ~half md5's per-token
        # cost) must DETECT the same planted near-dup structure as the
        # certified md5 backend: for each backend the block join's
        # verified pair set must equal that backend's own brute-force
        # hamming pairs (exact recall), and both must contain the
        # planted near-identical pairs.
        sub = docs.filter(F.col("doc_id") < 200)
        planted = {
            (r.doc_a, r.doc_b)
            for r in dedup.jaccard_pairs(sub, threshold=0.97).collect()
        }
        for backend in ("md5", "xxhash64"):
            sh = {
                r.doc_id: r.sh
                for r in dedup.simhash32_df(sub, hash_fn=backend).collect()
            }
            ids = sorted(sh)
            brute = {
                (a, b)
                for i, a in enumerate(ids)
                for b in ids[i + 1 :]
                if bin(sh[a] ^ sh[b]).count("1") <= 3
            }
            got = {
                (r.doc_a, r.doc_b)
                for r in dedup.simhash_near_dups(
                    sub, max_hamming=3, max_block_size=None,
                    hash_fn=backend,
                ).collect()
            }
            assert got == brute, backend
            assert planted <= got, backend

    def test_simhash32_df_rejects_unknown_backend(self, spark):
        import pytest as _pytest

        df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
        with _pytest.raises(ValueError, match="hash_fn"):
            dedup.simhash32_df(df, hash_fn="sha1").collect()


class TestIncrementalDedup:
    def test_signature_staging_is_incremental(self, spark, docs, tmp_path):
        sig = str(tmp_path / "sigs")
        n1, _ = dedup.stage_minhash_signatures(docs, sig)
        assert n1 > 0
        # round 2 of the SAME corpus: zero new signature work
        n2, _ = dedup.stage_minhash_signatures(docs, sig)
        assert n2 == 0
        # staged table holds one signature per shingled doc
        staged = spark.read.parquet(sig)
        assert staged.count() == n1
        assert staged.select("doc_id").distinct().count() == n1

    def test_incremental_matches_batch_on_new_docs(self, spark, docs, tmp_path):
        sig = str(tmp_path / "sigs")
        # stage the corpus minus two planted near-dup docs
        base = docs.filter(~F.col("doc_id").isin(7, 8))
        dedup.stage_minhash_signatures(base, sig)
        # the "re-crawl" adds docs 7 and 8
        n_new, new_ids = dedup.stage_minhash_signatures(docs, sig)
        assert n_new == 2
        inc = {
            (r.doc_a, r.doc_b)
            for r in dedup.incremental_dedup_pairs(
                docs, sig, new_ids, threshold=0.8
            ).collect()
        }
        batch = {
            (r.doc_a, r.doc_b)
            for r in dedup.minhash_dedup_pairs(docs, threshold=0.8).collect()
        }
        touching_new = {p for p in batch if p[0] in (7, 8) or p[1] in (7, 8)}
        assert inc == touching_new

    def test_full_dedup_from_staged_table(self, spark, docs, tmp_path):
        sig = str(tmp_path / "sigs")
        dedup.stage_minhash_signatures(docs, sig)
        from_table = {
            (r.doc_a, r.doc_b)
            for r in dedup.incremental_dedup_pairs(docs, sig, None).collect()
        }
        batch = {
            (r.doc_a, r.doc_b)
            for r in dedup.minhash_dedup_pairs(docs).collect()
        }
        assert from_table == batch


class TestArrowBucketsMatchCatalyst:
    def test_same_buckets_both_engines(self, emb):
        # hyperplane_sketch (Catalyst literal-plane fold) is the
        # reference semantics; the Arrow bucketize must agree exactly
        sub = emb.filter(F.col("vec_id") < 40)
        cat = {
            r.vec_id: r.b
            for r in sub.select(
                "vec_id",
                similarity.hyperplane_sketch(
                    F.col("embedding"), 64, 8, seed=43
                ).alias("b"),
            ).collect()
        }
        arrow = {
            r.vec_a: r.bucket
            for r in similarity._with_buckets(
                sub, "vec_a", "vec_id", "embedding", 64, 8, tables=4
            )
            .filter(F.col("tbl") == 1)  # tbl 1 -> seed 43
            .collect()
        }
        assert arrow == cat


class TestDedupClusters:
    def test_transitive_chain_one_cluster(self, spark):
        # A~B, B~C, D~E: components {A,B,C} and {D,E}
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11)], ["doc_a", "doc_b"]
        )
        out = {r.doc_id: r.cluster_id for r in dedup.dedup_clusters(pairs).collect()}
        assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}

    def test_long_chain_converges(self, spark):
        # path graph 0-1-2-...-12: diameter 12, one component
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(12)], ["doc_a", "doc_b"]
        )
        out = {r.doc_id: r.cluster_id for r in dedup.dedup_clusters(pairs).collect()}
        assert set(out.values()) == {0} and len(out) == 13

    def test_sync_discipline_batches_and_jumps(self, spark):
        """Round-10 driver-sync contract: propagation rounds run in
        batches of check_every (ONE checkpoint per batch), and
        pointer jumping keeps rounds O(log diameter) — a 40-chain
        must converge in far fewer than its 41 plain rounds."""
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(40)], ["doc_a", "doc_b"]
        )
        dedup.CC_STATS.clear()
        out = {
            r.doc_id: r.cluster_id
            # cap 0 forces the distributed loop: this test pins the
            # loop's sync discipline, not the small-graph gate
            for r in dedup.dedup_clusters(
                pairs, driver_edge_cap=0
            ).collect()
        }
        assert set(out.values()) == {0} and len(out) == 41
        (stats,) = dedup.CC_STATS
        # plain min-label needs ~41 rounds / 82 driver jobs here;
        # jumping converges in <= 10 rounds, batching halves the
        # checkpoints
        assert stats["rounds"] <= 10, stats
        assert stats["batches"] == -(-stats["rounds"] // 2), stats

    def test_clique_converges_in_one_batch(self, spark):
        pairs = spark.createDataFrame(
            [(a, b) for a in range(5) for b in range(a + 1, 5)],
            ["doc_a", "doc_b"],
        )
        dedup.CC_STATS.clear()
        out = {
            r.doc_id: r.cluster_id
            for r in dedup.dedup_clusters(
                pairs, driver_edge_cap=0
            ).collect()
        }
        assert set(out.values()) == {0} and len(out) == 5
        (stats,) = dedup.CC_STATS
        # converged at round 1, confirmed at round 2 -> ONE batch
        assert stats["batches"] == 1 and stats["rounds"] == 2, stats

    def test_driver_gate_parity_with_distributed_loop(self, spark):
        """Round-13 size gate: under the edge cap the labels come
        from a driver union-find — they must be BIT-IDENTICAL to the
        distributed loop's fixpoint on the same graph (chains,
        a clique, an isolated pair, string and long node ids)."""
        graphs = [
            [(i, i + 1) for i in range(15)]
            + [(100, 101)]
            + [(a, b) for a in range(50, 55) for b in range(a + 1, 55)],
        ]
        for edges in graphs:
            pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
            dedup.CC_STATS.clear()
            fast = {
                r.doc_id: r.cluster_id
                for r in dedup.dedup_clusters(pairs).collect()
            }
            assert dedup.CC_STATS[-1].get("driver_path") is True
            slow = {
                r.doc_id: r.cluster_id
                for r in dedup.dedup_clusters(
                    pairs, driver_edge_cap=0
                ).collect()
            }
            assert fast == slow
        # string node ids (the q209 shape)
        spairs = spark.createDataFrame(
            [("b", "c"), ("a", "b"), ("x", "y")], ["doc_a", "doc_b"]
        )
        fast = {
            r.doc_id: r.cluster_id
            for r in dedup.dedup_clusters(spairs).collect()
        }
        slow = {
            r.doc_id: r.cluster_id
            for r in dedup.dedup_clusters(
                spairs, driver_edge_cap=0
            ).collect()
        }
        assert fast == slow == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}

    def test_driver_gate_byte_cap_falls_back_on_wide_string_ids(
        self, spark
    ):
        """Round-14 (VERDICT #6): the driver gate is byte-aware — a
        graph UNDER the row cap but with wide string ids past the
        byte budget must take the distributed loop (the row cap alone
        would collect hundreds of MB at scale), with identical
        labels. Long ids (8 bytes/node fixed) are unaffected by a cap
        sized for them."""
        wide = [("x" * 300 + str(i), "x" * 300 + str(i + 1))
                for i in range(4)]
        pairs = spark.createDataFrame(wide, ["doc_a", "doc_b"])
        key = "spark.vnavc.cc.driverByteCap"
        try:
            # 8 doubled edges x ~600 B/row ≈ 4.8 KB > 1 KB cap
            spark.conf.set(key, "1024")
            dedup.CC_STATS.clear()
            out = {
                r.doc_id: r.cluster_id
                for r in dedup.dedup_clusters(pairs).collect()
            }
            assert dedup.CC_STATS[-1].get("driver_path") is not True
            assert len(set(out.values())) == 1  # one chain component
            # same cap, narrow long ids: 8 x 16 B fits -> driver path
            lpairs = spark.createDataFrame(
                [(i, i + 1) for i in range(4)], ["doc_a", "doc_b"]
            )
            dedup.CC_STATS.clear()
            dedup.dedup_clusters(lpairs).collect()
            assert dedup.CC_STATS[-1].get("driver_path") is True
        finally:
            spark.conf.unset(key)


class TestSemDeDup:
    def test_pairs_subset_of_bruteforce_with_recall(self, spark, emb):
        from vnavc_spark.functions.portable import stable_round
        from vnavc_spark.functions.vector import cosine

        a = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
        b = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
        brute = {
            (r.vec_a, r.vec_b)
            for r in a.join(b, F.col("vec_a") < F.col("vec_b"))
            .select(
                "vec_a", "vec_b",
                stable_round(cosine("ea", "eb"), 6).alias("score"),
            )
            .filter(F.col("score") >= 0.4)
            .collect()
        }
        sem = {
            (r.vec_a, r.vec_b)
            for r in similarity.semdedup_pairs(
                emb, threshold=0.4, n_cells=8
            ).collect()
        }
        assert sem <= brute  # exact verify: no false positives
        if brute:
            # cluster-scoped comparison: high-cosine pairs mostly share
            # the density cell their vectors define
            assert len(sem) / len(brute) >= 0.3

    def test_deterministic(self, emb):
        p1 = sorted(
            (r.vec_a, r.vec_b)
            for r in similarity.semdedup_pairs(emb, 0.4, n_cells=8).collect()
        )
        p2 = sorted(
            (r.vec_a, r.vec_b)
            for r in similarity.semdedup_pairs(emb, 0.4, n_cells=8).collect()
        )
        assert p1 == p2


class TestSimhashFormsAgree:
    def test_df_form_equals_expression_form(self, spark):
        # simhash32 (expression, semantic definition) and simhash32_df
        # (explode + codegen parity sums, the batch path) must agree
        # bit-for-bit on every doc — including null/empty text
        from pyspark.sql import functions as F

        from vnavc_spark.operators import dedup

        docs = spark.createDataFrame(
            [
                (1, "mot hai ba bon nam"),
                (2, "mot hai ba bon nam"),
                (3, "hoan toan khac biet"),
                (4, ""),
                (5, None),
                (6, "MOT, hai; BA!"),
            ],
            "doc_id long, text string",
        )
        expr = {
            r.doc_id: r.sh
            for r in docs.select(
                "doc_id", dedup.simhash32("text").alias("sh")
            ).collect()
        }
        dff = {
            r.doc_id: r.sh
            for r in dedup.simhash32_df(docs).collect()
        }
        assert dff == expr


class TestIncrementalLinkage:
    """Staged deletion-variant ER (verdict r10 #5): the
    stage_minhash_signatures stance applied to record linkage —
    per-batch cost ∝ new names, staged == fresh, zero-work rerun."""

    @pytest.fixture()
    def names(self, spark):
        rows = [
            ("alice cooper", 2),
            ("alice coopar", 1),   # d=1 from cooper
            ("alice coopxr", 1),   # d=1 from both coopa/er
            ("bob marley", 3),
            ("bob marlee", 1),     # d=1
            ("bob marlyz", 1),     # d=2 from marley AND marlee
            ("charlie", 1),
        ]
        return spark.createDataFrame(rows, "nm string, n_recs long")

    def test_variant_staging_is_incremental(self, spark, names, tmp_path):
        var = str(tmp_path / "vars")
        n1, _ = dedup.stage_deletion_variants(names, var, radius=1)
        assert n1 == 7
        # round 2 of the SAME names: zero new explode work
        n2, _ = dedup.stage_deletion_variants(names, var, radius=1)
        assert n2 == 0
        staged = spark.read.parquet(var)
        assert staged.select("nm").distinct().count() == 7
        # fan-out bound: 1 + len variants per name, hashed
        assert staged.columns == ["nm", "hv", "radius"]

    def test_full_linkage_from_staged_equals_batch(
        self, spark, names, tmp_path
    ):
        var = str(tmp_path / "vars")
        dedup.stage_deletion_variants(names, var, radius=1)
        from_table = {
            (r.name_a, r.name_b, r.n_recs_a, r.n_recs_b, r.dist)
            for r in dedup.incremental_linkage_pairs(
                names, var, None, radius=1
            ).collect()
        }
        batch = {
            (r.name_a, r.name_b, r.n_recs_a, r.n_recs_b, r.dist)
            for r in dedup.name_linkage_pairs(names, radius=1).collect()
        }
        assert from_table == batch
        assert batch  # the corpus genuinely has lev-1 pairs

    def test_incremental_matches_batch_on_new_names(
        self, spark, names, tmp_path
    ):
        var = str(tmp_path / "vars")
        base = names.filter(~F.col("nm").isin("alice coopxr", "bob marlee"))
        dedup.stage_deletion_variants(base, var, radius=1)
        # the "new batch" adds two names; only THEIR variants explode
        n_new, new_names = dedup.stage_deletion_variants(
            names, var, radius=1
        )
        assert n_new == 2
        inc = {
            (r.name_a, r.name_b, r.dist)
            for r in dedup.incremental_linkage_pairs(
                names, var, new_names, radius=1
            ).collect()
        }
        batch = {
            (r.name_a, r.name_b, r.dist)
            for r in dedup.name_linkage_pairs(names, radius=1).collect()
        }
        touching_new = {
            p
            for p in batch
            if p[0] in ("alice coopxr", "bob marlee")
            or p[1] in ("alice coopxr", "bob marlee")
        }
        assert inc == touching_new
        assert touching_new  # new names genuinely link

    def test_radius2_staged_equals_batch(self, spark, names, tmp_path):
        var = str(tmp_path / "vars2")
        dedup.stage_deletion_variants(names, var, radius=2)
        from_table = {
            (r.name_a, r.name_b, r.dist)
            for r in dedup.incremental_linkage_pairs(
                names, var, None, radius=2
            ).collect()
        }
        batch = {
            (r.name_a, r.name_b, r.dist)
            for r in dedup.name_linkage_pairs(names, radius=2).collect()
        }
        assert from_table == batch
        assert any(d == 2 for _, _, d in batch)  # d=2 pairs exist

    def test_bad_radius_raises(self, spark, names, tmp_path):
        with pytest.raises(ValueError, match="radius"):
            dedup.incremental_linkage_pairs(
                names, str(tmp_path / "x"), None, radius=3
            )


class TestFellegiSunter:
    """q208's scoring core: agreement semantics (nulls are
    disagreements), integer weight arithmetic, three-way decision."""

    def test_scoring_arithmetic_and_nulls(self, spark):
        pairs = spark.createDataFrame(
            [
                ("a", "b", 1),  # agree on both attrs
                ("a", "c", 2),  # agree nation only
                ("b", "d", 2),  # null nation on d -> disagreement
            ],
            "name_a string, name_b string, dist long",
        )
        attrs = spark.createDataFrame(
            [
                ("a", 7, "AUTO"),
                ("b", 7, "AUTO"),
                ("c", 7, "SHIP"),
                ("d", None, "AUTO"),
            ],
            "nm string, nation int, segment string",
        )
        out = {
            r.name_a + r.name_b: r
            for r in dedup.fellegi_sunter_scores(
                pairs,
                attrs,
                attr_weights={"nation": (4, -2), "segment": (2, -1)},
                dist_weights={1: 6, 2: 3},
                match_threshold=10,
                possible_threshold=4,
            ).collect()
        }
        ab, ac, bd = out["ab"], out["ac"], out["bd"]
        # d=1 + nation agree + segment agree = 6 + 4 + 2 = 12 -> match
        assert (ab.agree_nation, ab.agree_segment) == (1, 1)
        assert (ab.match_weight, ab.decision) == (12, "match")
        # d=2 + nation agree + segment disagree = 3 + 4 - 1 = 6
        assert (ac.match_weight, ac.decision) == (6, "possible")
        # d=2 + NULL nation (disagree) + segment agree = 3 - 2 + 2 = 3
        assert (bd.agree_nation, bd.agree_segment) == (0, 1)
        assert (bd.match_weight, bd.decision) == (3, "non_match")

    def test_pair_missing_from_attrs_scores_not_drops(self, spark):
        # external candidate tables (incremental pairs over a stale
        # entity snapshot) can reference names absent from attrs; the
        # pair must be SCORED as all-disagreement, not silently
        # dropped by an inner join (round-11 advice)
        pairs = spark.createDataFrame(
            [("a", "ghost", 1)],
            "name_a string, name_b string, dist long",
        )
        attrs = spark.createDataFrame(
            [("a", 7, "AUTO")], "nm string, nation int, segment string"
        )
        rows = dedup.fellegi_sunter_scores(
            pairs,
            attrs,
            attr_weights={"nation": (4, -2), "segment": (2, -1)},
            dist_weights={1: 6},
            match_threshold=10,
            possible_threshold=4,
        ).collect()
        assert len(rows) == 1
        r = rows[0]
        # d=1 + nation null-disagree + segment null-disagree = 6-2-1
        assert (r.agree_nation, r.agree_segment) == (0, 0)
        assert (r.match_weight, r.decision) == (3, "non_match")

    def test_radius_mismatch_raises(self, spark, tmp_path):
        # probing a radius-1 table at radius 2 would silently miss
        # true dist-2 pairs — both the stager and the prober refuse
        names = spark.createDataFrame(
            [("alice", 1), ("alicx", 1)], "nm string, n_recs long"
        )
        var = str(tmp_path / "vars")
        dedup.stage_deletion_variants(names, var, radius=1)
        with pytest.raises(ValueError, match="radius"):
            dedup.stage_deletion_variants(names, var, radius=2)
        with pytest.raises(ValueError, match="radius"):
            dedup.incremental_linkage_pairs(
                names, var, None, radius=2
            ).collect()

    def test_partial_append_recovers_via_manifest(self, spark, tmp_path):
        # a crash mid-append can leave a name's variant rows PARTIALLY
        # visible; because staging is manifested strictly after the
        # variants commit, the unmanifested name is re-staged in full
        # — without the manifest the variants-keyed anti-join would
        # treat it as staged and its true pairs would be lost forever
        var = str(tmp_path / "vars")
        base = spark.createDataFrame(
            [("alice", 1), ("bob", 1)], "nm string, n_recs long"
        )
        dedup.stage_deletion_variants(base, var, radius=1)
        # simulated crash: ONE bogus variant row for carol, no
        # manifest row (the real rows never committed)
        spark.createDataFrame(
            [("carol", 123456789, 1)], "nm string, hv long, radius int"
        ).write.mode("append").parquet(var)
        names = spark.createDataFrame(
            [("alice", 1), ("bob", 1), ("carol", 1), ("carok", 1)],
            "nm string, n_recs long",
        )
        n, _ = dedup.stage_deletion_variants(names, var, radius=1)
        assert n == 2  # carol RE-staged despite visible rows, + carok
        got = sorted(
            (r.name_a, r.name_b, r.dist)
            for r in dedup.incremental_linkage_pairs(
                names, var, None, radius=1
            ).collect()
        )
        want = sorted(
            (r.name_a, r.name_b, r.dist)
            for r in dedup.name_linkage_pairs(names, radius=1).collect()
        )
        assert got == want
        assert ("carok", "carol", 1) in got  # the pair a wedge loses

    def test_legacy_table_without_manifest_restages(self, spark, tmp_path):
        # a pre-manifest variants table is indistinguishable from a
        # crashed first append — everything re-stages (duplicates are
        # lossless; adopted partial names would not be)
        var = str(tmp_path / "vars")
        names = spark.createDataFrame(
            [("alice", 1), ("alicx", 1)], "nm string, n_recs long"
        )
        names.select(
            "nm",
            F.explode(
                dedup.deletion_neighborhood("nm", 1)
            ).alias("v"),
        ).select(
            "nm",
            F.xxhash64("v").alias("hv"),
            F.lit(1).cast("int").alias("radius"),
        ).write.parquet(var)  # legacy: variants only, no manifest
        n, _ = dedup.stage_deletion_variants(names, var, radius=1)
        assert n == 2  # full re-stage
        n2, _ = dedup.stage_deletion_variants(names, var, radius=1)
        assert n2 == 0  # manifested now — converged
        got = sorted(
            (r.name_a, r.name_b)
            for r in dedup.incremental_linkage_pairs(
                names, var, None, radius=1
            ).collect()
        )
        assert got == [("alice", "alicx")]  # duplicates collapsed

    def test_orphan_manifest_after_rebuild_is_discarded(
        self, spark, tmp_path
    ):
        # round-12 ADVICE (medium): the variants table is deleted /
        # rebuilt (the remedy the radius errors prescribe) but the
        # sibling names manifest survives. An APPEND to that orphan
        # would let a later batch's names be anti-joined away as
        # "staged" with no variants on disk — silently losing their
        # true pairs forever. The orphan must be discarded whenever
        # the anti-join did not run.
        import shutil

        var = str(tmp_path / "vars")
        both = spark.createDataFrame(
            [("alice", 1), ("bob", 1)], "nm string, n_recs long"
        )
        dedup.stage_deletion_variants(both, var, radius=1)
        shutil.rmtree(var)  # rebuild remedy: table gone, orphan stays
        assert (tmp_path / "vars_names").exists()
        # first post-rebuild batch holds only alice — bob now lives
        # ONLY in the orphan manifest
        alice = spark.createDataFrame(
            [("alice", 1)], "nm string, n_recs long"
        )
        n, _ = dedup.stage_deletion_variants(alice, var, radius=1)
        assert n == 1
        manifested = {
            r.nm
            for r in spark.read.parquet(str(tmp_path / "vars_names"))
            .select("nm")
            .collect()
        }
        assert manifested == {"alice"}  # orphan discarded, not merged
        # bob's batch must RE-stage (the buggy append would anti-join
        # it away) and its true pair must survive end-to-end
        bobs = spark.createDataFrame(
            [("bob", 1), ("bobx", 1)], "nm string, n_recs long"
        )
        n2, new_names = dedup.stage_deletion_variants(bobs, var, radius=1)
        assert n2 == 2
        got = sorted(
            (r.name_a, r.name_b, r.dist)
            for r in dedup.incremental_linkage_pairs(
                bobs, var, new_names, radius=1
            ).collect()
        )
        assert ("bob", "bobx", 1) in got

    def test_orphan_manifest_discarded_even_with_legacy_table(
        self, spark, tmp_path
    ):
        # complementary no-anti-join case: table EXISTS but manifest
        # is absent (legacy/crashed-first-append). The fresh manifest
        # must hold exactly the re-staged names and the run must
        # still converge on repeat.
        var = str(tmp_path / "vars")
        names = spark.createDataFrame(
            [("alice", 1)], "nm string, n_recs long"
        )
        names.select(
            "nm",
            F.explode(dedup.deletion_neighborhood("nm", 1)).alias("v"),
        ).select(
            "nm",
            F.xxhash64("v").alias("hv"),
            F.lit(1).cast("int").alias("radius"),
        ).write.parquet(var)  # legacy: no manifest
        n, _ = dedup.stage_deletion_variants(names, var, radius=1)
        assert n == 1
        manifested = {
            r.nm
            for r in spark.read.parquet(str(tmp_path / "vars_names"))
            .select("nm")
            .collect()
        }
        assert manifested == {"alice"}
        n2, _ = dedup.stage_deletion_variants(names, var, radius=1)
        assert n2 == 0  # converged

    def test_radius_errors_name_the_manifest(self, spark, tmp_path):
        # the rebuild remedies must tell the operator to delete the
        # manifest WITH the table — deleting only the table used to
        # create exactly the orphan the previous test pins
        var = str(tmp_path / "vars")
        names = spark.createDataFrame(
            [("alice", 1)], "nm string, n_recs long"
        )
        dedup.stage_deletion_variants(names, var, radius=1)
        with pytest.raises(ValueError, match="_names"):
            dedup.stage_deletion_variants(names, var, radius=2)
        spark.createDataFrame(
            [("alice", 1, 1), ("bob", 2, 2)],
            "nm string, hv long, radius int",
        ).write.mode("overwrite").parquet(var)
        with pytest.raises(ValueError, match="_names"):
            dedup.stage_deletion_variants(names, var, radius=1)

    def test_mixed_radius_table_rejected(self, spark, tmp_path):
        # two first-run stagers racing on an absent path can each see
        # "no table" and interleave appends at different radii; the
        # validator must reject the resulting mixed table instead of
        # blessing whichever radius one arbitrary row carries
        var = str(tmp_path / "vars")
        spark.createDataFrame(
            [("alice", 1, 1), ("bob", 2, 2)],
            "nm string, hv long, radius int",
        ).write.parquet(var)
        names = spark.createDataFrame(
            [("carol", 1)], "nm string, n_recs long"
        )
        with pytest.raises(ValueError, match="MIXED"):
            dedup.stage_deletion_variants(names, var, radius=1)
        with pytest.raises(ValueError, match="MIXED"):
            dedup.incremental_linkage_pairs(names, var, None, radius=1)

    def test_null_names_never_stage_as_new(self, spark, tmp_path):
        # a null name explodes to zero variants, so an unfiltered
        # null would be counted "new" on every run forever
        rows = spark.createDataFrame(
            [("alice", 1), (None, 1)], "nm string, n_recs long"
        )
        var = str(tmp_path / "vars")
        n1, _ = dedup.stage_deletion_variants(rows, var, radius=1)
        assert n1 == 1
        n2, _ = dedup.stage_deletion_variants(rows, var, radius=1)
        assert n2 == 0  # converges despite the null row


class TestFellegiSunterEm:
    """dedup.fellegi_sunter_em: Winkler-style EM over the agreement-
    pattern histogram (q210's output) — pure driver math on <= 2^k
    rows, so the tests are exact-synthetic, no Spark needed."""

    def test_recovers_planted_mixture(self):
        # plant a two-component mixture with known m/u and p, build
        # the EXACT expected pattern histogram, and check EM recovers
        # the parameters (identifiable: m >> u on every field)
        import itertools

        p, m, u = 0.2, [0.95, 0.9, 0.85], [0.1, 0.2, 0.05]
        n_total = 1_000_000
        patterns = []
        for g in itertools.product((0, 1), repeat=3):
            prob = p
            for k in range(3):
                prob *= m[k] if g[k] else (1 - m[k])
            qrob = 1 - p
            for k in range(3):
                qrob *= u[k] if g[k] else (1 - u[k])
            patterns.append((g, round((prob + qrob) * n_total)))
        fit = dedup.fellegi_sunter_em(patterns, n_fields=3)
        assert abs(fit["p"] - p) < 0.02, fit["p"]
        for k in range(3):
            assert abs(fit["m"][k] - m[k]) < 0.05, (k, fit["m"])
            assert abs(fit["u"][k] - u[k]) < 0.05, (k, fit["u"])
        # integer log-odds weights: agreement positive, disagreement
        # negative on every (strongly separating) field
        for wa, wd in fit["weights"]:
            assert wa > 0 and wd < 0, fit["weights"]

    def test_determinism_and_validation(self):
        pats = [((1, 1), 50), ((0, 0), 950), ((1, 0), 30)]
        a = dedup.fellegi_sunter_em(pats, n_fields=2)
        b = dedup.fellegi_sunter_em(pats, n_fields=2)
        assert a == b  # fixed init + fixed iterations
        import pytest as _pytest

        with _pytest.raises(ValueError, match="empty"):
            dedup.fellegi_sunter_em([], n_fields=2)
        with _pytest.raises(ValueError, match="malformed"):
            dedup.fellegi_sunter_em([((1, 2), 5)], n_fields=2)
        with _pytest.raises(ValueError, match="n_fields"):
            dedup.fellegi_sunter_em(pats, n_fields=0)

    def test_fits_from_q210_shape(self, spark):
        # end-to-end shape check: run the pattern histogram on a tiny
        # planted corpus and feed it to EM with dist binarized
        rows = [
            ("alice cooper", 7, "AUTO", 2),
            ("alice coopar", 7, "AUTO", 2),   # d=1, all agree -> match-y
            ("alice coopxr", 3, "SHIP", 9),   # d=1 to both, all disagree
            ("bob marley", 1, "RAIL", 4),
        ]
        ent = spark.createDataFrame(
            rows, "nm string, nation int, segment string, bal_band long"
        ).withColumn("n_recs", F.lit(1).cast("long"))
        pairs = dedup.name_linkage_pairs(
            ent.select("nm", "n_recs"), radius=2
        )
        scored = dedup.fellegi_sunter_customer_scores(pairs, ent)
        hist = dedup.fs_agreement_patterns(scored).collect()
        pats = [
            (
                (
                    1 if r.dist == 1 else 0,
                    r.agree_nation,
                    r.agree_segment,
                    r.agree_bal_band,
                ),
                r.n_pairs,
            )
            for r in hist
        ]
        fit = dedup.fellegi_sunter_em(pats, n_fields=4, iters=10)
        assert 0.0 < fit["p"] < 1.0
        assert len(fit["weights"]) == 4


class TestEntityRekey:
    """dedup.entity_rekey: the ER apply step — every record keeps a
    row, clustered names share an entity_id, unclustered names are
    their own entity."""

    def test_rekey_merges_and_passes_through(self, spark):
        records = spark.createDataFrame(
            [
                (1, "alice cooper", 10.0),
                (2, "alice coopar", 20.0),   # same entity as cooper
                (3, "bob marley", 5.0),      # unclustered
                (4, "alice cooper", 30.0),   # second record, same name
            ],
            "rec_id long, c_name string, amount double",
        )
        clusters = spark.createDataFrame(
            [("alice cooper", "alice coopar"), ("alice coopar", "alice coopar")],
            "nm string, entity_id string",
        )
        out = dedup.entity_rekey(records, clusters)
        rows = {r.rec_id: r.entity_id for r in out.collect()}
        assert rows == {
            1: "alice coopar",
            2: "alice coopar",
            3: "bob marley",
            4: "alice coopar",
        }
        # downstream merge: grouping by entity_id combines the records
        agg = {
            r.entity_id: r.total
            for r in out.groupBy("entity_id")
            .agg(F.sum("amount").alias("total"))
            .collect()
        }
        assert agg == {"alice coopar": 60.0, "bob marley": 5.0}

    def test_generic_over_node_type(self, spark):
        # q56-style cluster maps key on LONG doc ids; entity_rekey
        # must cast both coalesce branches so the mixed-type coalesce
        # neither raises nor silently casts (round-11 advice)
        records = spark.createDataFrame(
            [(10, "x"), (11, "y"), (12, "z")], "doc_id long, body string"
        )
        clusters = spark.createDataFrame(
            [(10, 11), (11, 11)], "nm long, entity_id long"
        )
        out = dedup.entity_rekey(records, clusters, name_col="doc_id")
        assert dict(out.dtypes)["entity_id"] == "string"
        got = {r.doc_id: r.entity_id for r in out.collect()}
        assert got == {10: "11", 11: "11", 12: "12"}

    def test_composes_with_real_clusters(self, spark):
        from vnavc_spark.io import table
        from vnavc_spark.queries import QUERIES

        sf = "/root/testdata/sf0.001"
        clusters = QUERIES["q209_entity_clusters"](spark, sf).select(
            "nm", "entity_id"
        )
        cust = table(spark, sf, "customer")
        out = dedup.entity_rekey(cust, clusters)
        # every record survives; entity count <= distinct names
        assert out.count() == cust.count()
        n_names = cust.select("c_name").distinct().count()
        n_entities = out.select("entity_id").distinct().count()
        n_clustered = clusters.count()
        n_clusters = clusters.select("entity_id").distinct().count()
        assert n_entities == n_names - n_clustered + n_clusters


class TestErPipeline:
    """pipeline/er.resolve_entities: the production ER composition —
    blocking paid ONCE through the staged variant table, every stage
    parity-checked against the independently-certified q208/q209/q211
    registered queries (which each recompute blocking by design)."""

    def test_staged_composition_matches_registered_queries(
        self, spark, tmp_path
    ):
        from vnavc_spark.io import table
        from vnavc_spark.pipeline import er
        from vnavc_spark.queries import QUERIES

        sf = "/root/testdata/sf0.001"
        var = str(tmp_path / "vars")
        cust = table(spark, sf, "customer")
        ent = er.customer_entities(spark, sf)
        res = er.resolve_entities(
            cust, ent, var, name_col="c_name", radius=2
        )
        # cluster step == q209 (nm -> entity_id map)
        got = sorted(
            (r.nm, r.entity_id) for r in res.clusters.collect()
        )
        want = sorted(
            (r.nm, r.entity_id)
            for r in QUERIES["q209_entity_clusters"](spark, sf)
            .select("nm", "entity_id")
            .collect()
        )
        assert got == want
        # scoring step == q208 (decision/dist rollup off the SAME
        # scored table the clusters consumed)
        got208 = sorted(
            tuple(r)
            for r in dedup.fellegi_sunter_rollup(res.scored).collect()
        )
        want208 = sorted(
            tuple(r)
            for r in QUERIES["q208_fellegi_sunter"](spark, sf).collect()
        )
        assert got208 == want208
        # apply step == q211 (per-record entity assignment)
        got211 = sorted(
            (r.c_custkey, r.entity_id)
            for r in res.rekeyed.select("c_custkey", "entity_id").collect()
        )
        want211 = sorted(
            (r.c_custkey, r.entity_id)
            for r in QUERIES["q211_entity_rekey"](spark, sf)
            .select("c_custkey", "entity_id")
            .collect()
        )
        assert got211 == want211

    def test_second_run_stages_nothing_and_agrees(self, spark, tmp_path):
        from vnavc_spark.io import table
        from vnavc_spark.pipeline import er

        sf = "/root/testdata/sf0.001"
        var = str(tmp_path / "vars")
        cust = table(spark, sf, "customer")
        ent = er.customer_entities(spark, sf)
        first = er.resolve_entities(
            cust, ent, var, name_col="c_name", radius=2
        )
        assert first.n_new_names > 0
        again = er.resolve_entities(
            cust, ent, var, name_col="c_name", radius=2
        )
        # variant table already holds every name: zero re-explosion
        assert again.n_new_names == 0
        assert sorted(map(tuple, again.clusters.collect())) == sorted(
            map(tuple, first.clusters.collect())
        )

    def test_q215_matches_q211_and_second_run_stages_nothing(
        self, spark, tmp_path
    ):
        # the registered composition witness (q215) == the
        # fresh-blocking q211 it shares an oracle with, AND a rerun
        # against the same state_dir resumes (stages zero names —
        # the manifest converged) and returns the identical table
        from vnavc_spark.queries import QUERIES

        sf = "/root/testdata/sf0.001"
        state = str(tmp_path / "er_state")
        got = sorted(
            map(tuple, QUERIES["q215_er_pipeline_staged"](
                spark, sf, state_dir=state
            ).collect())
        )
        want = sorted(
            map(tuple, QUERIES["q211_entity_rekey"](spark, sf).collect())
        )
        assert got == want
        n_manifest = (
            spark.read.parquet(f"{state}/variants_names").count()
        )
        again = sorted(
            map(tuple, QUERIES["q215_er_pipeline_staged"](
                spark, sf, state_dir=state
            ).collect())
        )
        assert again == got
        assert (
            spark.read.parquet(f"{state}/variants_names").count()
            == n_manifest
        )  # converged: rerun staged nothing

    def test_q215_apply_plan_is_one_join(self, spark, tmp_path):
        # blocking/verify/score all happen BEFORE the localCheckpoint
        # inside resolve_entities, so the apply stage's plan must be
        # one name-keyed left join — no levenshtein verify and no
        # variant explode may leak past the checkpoint into the
        # per-record path (the "blocking paid once" claim, pinned on
        # the plan itself)
        from vnavc_spark.queries import QUERIES

        plan = QUERIES["q215_er_pipeline_staged"](
            spark, "/root/testdata/sf0.001",
            state_dir=str(tmp_path / "er_state"),
        )._jdf.queryExecution().analyzed().toString().lower()
        assert "levenshtein" not in plan
        assert "explode" not in plan

    def test_incremental_batch_pairs_touch_new_names_only(
        self, spark, tmp_path
    ):
        # the steady-state ingest shape: base corpus staged, a delta
        # batch arrives — the pipeline stages only the delta's names
        # and every emitted pair touches a delta name (old-old pairs
        # were already emitted when the old names were the delta)
        from vnavc_spark.io import table
        from vnavc_spark.pipeline import er

        sf = "/root/testdata/sf0.001"
        var = str(tmp_path / "vars")
        cust = table(spark, sf, "customer")
        ent = er.customer_entities(spark, sf)
        base_ent = ent.filter(F.col("nm") < "Customer#000000100")
        delta_ent = ent.filter(F.col("nm") >= "Customer#000000100")
        er.resolve_entities(
            cust, base_ent, var, name_col="c_name", radius=2
        )
        new_names = delta_ent.select("nm")
        res = er.resolve_entities(
            cust, ent, var, name_col="c_name",
            radius=2, new_names=new_names,
        )
        assert res.n_new_names == delta_ent.count()
        delta = {r.nm for r in new_names.collect()}
        pair_rows = res.pairs.collect()
        assert pair_rows, "delta batch produced no candidate pairs"
        assert all(
            (r.name_a in delta) or (r.name_b in delta)
            for r in pair_rows
        )


class TestSeveredCheckpoint:
    """cache.severed_local_checkpoint: the guard against the
    chained-checkpoint stats blowup (round-11 find, docs/SCALE.md) —
    data identity, no fallback in this environment, and a deep CC
    chain that the unfixed loop could not finish in budget."""

    def test_identity_and_no_fallback(self, spark):
        import vnavc_spark.cache as C

        before = C.SEVER_FALLBACKS
        df = spark.createDataFrame(
            [(i, f"v{i}") for i in range(100)], "k long, v string"
        )
        out = C.severed_local_checkpoint(df.filter(F.col("k") % 2 == 0))
        got = sorted(tuple(r) for r in out.collect())
        want = sorted((i, f"v{i}") for i in range(0, 100, 2))
        assert got == want
        # the internal rebuild worked (fallback would be a silent
        # scale regression on a future Spark version)
        assert C.SEVER_FALLBACKS == before

    def test_cc_deep_chain_converges_in_budget(self, spark):
        # a 2000-node path forces ~12 pointer-jump rounds — exactly
        # the regime where the captured-stats BigInts went doubly-
        # exponential (round 12 ALONE took 104 s before the fix; the
        # whole loop now runs in a few seconds). The generous wall
        # bound fails loudly if the blowup ever returns.
        import time

        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(2000)], "doc_a long, doc_b long"
        )
        t0 = time.time()
        labels = {
            r.doc_id: r.cluster_id
            # cap 0: this guards the DISTRIBUTED loop's stats blowup
            for r in dedup.dedup_clusters(
                edges, driver_edge_cap=0
            ).collect()
        }
        elapsed = time.time() - t0
        assert all(v == 0 for v in labels.values())  # one component
        assert len(labels) == 2001
        assert elapsed < 120, (
            f"CC on a 2000-chain took {elapsed:.0f}s — the chained-"
            "checkpoint stats blowup may have returned (SCALE.md r11)"
        )
