"""Every registered query hash-matches its DuckDB oracle at sf0.001
(the driver re-runs the same comparison at sf0.01)."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL
from tests.oracle_harness import compare, duckdb_connect
from vnavc_spark.queries import all_oracles, all_queries

QUERIES = all_queries()
ORACLES = all_oracles()


@pytest.fixture(scope="module")
def duck():
    con = duckdb_connect(SF_SMALL)
    yield con
    con.close()


# Queries allowed to return ZERO rows at sf0.001 — each with the
# reason it is legitimately empty at tiny scale (and verified
# NON-empty at the driver's sf0.01 certification scale). Everything
# else must produce rows: a hash-green row over an empty result
# certifies only that both engines found nothing (the q72/q150
# vacuity class, round-11 verdict + round-12 sweep).
EMPTY_OK_SF0001 = {
    # 8 embeddings at sf0.001 land in distinct IVF cells / below the
    # 0.45 cosine threshold; 7 pairs at sf0.01
    "q78_semdedup",
}


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_match(spark, duck, name):
    res = compare(spark, duck, QUERIES[name], ORACLES[name], SF_SMALL)
    assert res["ok"], {k: v for k, v in res.items() if not str(k).startswith("hash")} | {
        "hash_match": res["hash_match"]
    }
    if name not in EMPTY_OK_SF0001:
        assert res["rows_spark"] > 0, (
            f"{name} certifies an EMPTY result at sf0.001 — vacuous "
            "evidence (the q72/q150 class); point it at data that "
            "exercises the operator or allowlist it with a reason"
        )


# Queries allowed to return ZERO rows at sf0.01 — the DRIVER'S
# certification scale, where vacuous evidence matters most (a
# hash-green row over an empty result certifies only that both
# engines found nothing). Empty today; q78 has 7 pairs at sf0.01.
EMPTY_OK_SF001: set[str] = set()

# Documented single-valued output columns at sf0.01 (multi-row
# results only — single-row outputs are constant by shape). The
# round-13 constant-column sweep generalized the q72/q150 vacuity
# class to VALUES: a column that never varies at the certification
# SF may mean a branch that never fires (it caught q219's ndcg ≡ 1.0
# — ideal ranking coinciding with BM25's; q134's n_outliers ≡ 0 —
# a 3·MAD fence on a column whose max deviation is 2 MADs; and
# q64's keep ≡ True — a self-derived vocabulary that cannot reject).
# Everything listed is either constant BY THEOREM/DESIGN or has its
# other branch pinned by a planted unit test; the test fails on any
# UNDOCUMENTED constant (add a reason or fix the query) and on any
# documented one that starts varying (delete the stale entry).
CONSTANT_OK_SF001: dict[str, set[str]] = {
    "q101_ann_recall": {"n_exact"},       # recall@k audit: k is fixed (10)
    "q102_embedding_quantization": {"n"}, # one n per dim — corpus size
    "q112_embedding_dim_stats": {"n"},    # same
    "q117_containment_dedup": {"n_collapsed_contained", "n_collapsed_container"},  # planted 1-pair fixture class at this SF
    "q132_pps_sample": {"mult"},          # PPS: no weight spans a draw stride at this SF (mult > 1 pinned in unit tests)
    "q155_stratified_pps": {"mult"},      # same, per stratum
    "q153_seasonality_anomalies": {"direction"},  # synthetic seasonality only dips at this SF; both directions unit-pinned
    "q170_ks_drift": {"n_docs"},          # uniform 25 docs/source by construction
    "q175_bigram_oov_gate": {"n_docs", "n_flagged"},   # 31-token lexicon: no rare bigrams at any SF; flag branch unit-pinned (de-vacuation candidate, r13 note)
    "q180_rare_token_density": {"n_docs", "n_flagged", "rare_tokens"},  # same lexicon limit; flag branch unit-pinned
    "q17_chunk_ids": {"n"},               # fixed chunk size over uniform docs
    "q171_hybrid_rrf": {"n_lists"},       # lexical/dense lists never overlap on this corpus (overlap unit-pinned)
    "q177_hybrid_rrf_ann": {"n_lists"},   # same
    "q188_benford_gate": {"benford_flag"},        # uniform synthetic data is non-Benford EVERYWHERE; pass branch unit-pinned
    "q193_autocorr": {"n_pairs"},         # 30-day series -> 29 lag pairs, fixed calendar
    "q197_robust_trend": {"n_days", "n_pairs"},   # same fixed calendar
    "q198_cusum_alarm": {"n_days", "alarm_date"}, # no drift planted at sf0.01; alarms fire at sf0.001 (checked) + unit tests
    "q202_name_linkage": {"n_recs_a", "n_recs_b", "dist"},  # customer names unique (1 rec each); radius-1 pairs all dist 1
    "q205_benford_summation": {"summation_flag"}, # non-Benford everywhere, as q188
    "q209_entity_clusters": {"n_recs"},   # unique names -> 1 record per entity
    "q213_radius2_recall_audit": {"recall"},      # ≡ 1.0 BY THEOREM (the FastSS losslessness pin — constant IS the claim)
    "q214_source_benford_summation": {"summation_flag"},  # as q205
    "q222_discount_return_trend": {"trend_flag"}, # no trend in synthetic discounts (both flags unit-pinned with planted data)
    "q29_embedding_stats": {"avg_l2", "avg_self_dot"},    # embeddings are L2-normalized by construction
    "q35_json_extract": {"max_k"},        # props k ranges 0-99 by generator
    "q40_quality_scores": {"punct_ratio"},        # normalized corpus has no punctuation
    "q46_text_stage": {"num_sentences", "num_groups"},    # one-sentence synthetic docs
    "q47_approx_sketches": {"n_registers_hit"},   # all 64 HLL registers hit at this cardinality
    "q52_pii_scrub": {"n_emails", "n_urls", "n_phones"},  # one planted PII item per kind per doc
    "q61_duplicate_spans": {"span_start"},        # duplicated grams sit at doc start in the dup fixtures
    "q62_contamination": {"n_matched", "containment"},    # no contamination at sf0.01; matches exist at sf0.001 AND sf0.1 (checked r13)
    "q64_unigram_lm_gate": set(),         # de-vacuated r13 (fixed reference vocabulary)
    "q219_bm25_ndcg": {"dcg", "idcg", "ndcg"},  # de-vacuated r13 to 0.764 (was ≡ 1.0); the remaining cross-ROW constancy is corpus symmetry — every query doc draws from the same token distribution, so per-query values coincide; the <1 branch is live and ranking variation is unit-pinned
    "q71_zorder_layout": {"min_x", "max_x"},      # fixed 150-cell grid extent
    "q72_fuzzy_vocab_pairs": {"cnt_a", "cnt_b"},  # supplier name tokens unique per name
    "q74_funnel_steps": {"n_users"},      # every synthetic user views
    "q79_table_profile": {"n_nulls"},     # clean testdata has no nulls (null corpus covered by its own gate)
    "q82_inverted_index": {"shard"},      # <1000 docs/token at this SF -> single shard (sharding pinned in test_skew)
    "q83_gopher_gate": {"alpha_frac"},    # all-alphabetic synthetic tokens
    "q86_kmv_sketch": {"n_sample"},       # KMV k=64 saturated
    "q89_domain_caps": {"n_docs", "n_kept"},      # uniform 25 docs/source, cap 10
}


def test_oracles_nonvacuous_at_certification_sf():
    """Every oracle yields rows at sf0.01 AND no UNDOCUMENTED
    single-valued output columns (round-12 verdict #7 extended by
    the round-13 constant-column sweep: the q72/q150 vacuity class
    lives at the VALUE level too — a flag that never flips at the
    certification SF is a branch certification never sees).
    DuckDB-only on purpose: whenever the hash gate is green, oracle
    rows == Spark rows, so the oracle side is a faithful — and
    Spark-free, ~60 s for the whole registry — proxy."""
    con = duckdb_connect("/root/testdata/sf0.01")
    empty, undocumented, stale = [], {}, {}
    try:
        for name, sql in ORACLES.items():
            rel = con.execute(sql)
            cols = [d[0] for d in rel.description]
            rows = rel.fetchall()
            if not rows and name not in EMPTY_OK_SF001:
                empty.append(name)
                continue
            if len(rows) < 2:
                continue
            const = {
                c
                for i, c in enumerate(cols)
                if len({r[i] for r in rows}) == 1
            }
            allowed = CONSTANT_OK_SF001.get(name, set())
            if const - allowed:
                undocumented[name] = sorted(const - allowed)
            if allowed - const:
                stale[name] = sorted(allowed - const)
    finally:
        con.close()
    assert not empty, (
        f"{empty} certify EMPTY results at the driver's sf0.01 "
        "certification scale — vacuous evidence (the q72/q150 "
        "class); point them at data that exercises the operator or "
        "allowlist with a reason"
    )
    assert not undocumented, (
        "UNDOCUMENTED single-valued output columns at sf0.01 — a "
        "possibly-dead branch certification never sees (the "
        "q219/q134/q64 class): fix the query or document the "
        f"constant with a reason in CONSTANT_OK_SF001: {undocumented}"
    )
    assert not stale, (
        "documented-constant columns now VARY — delete the stale "
        f"CONSTANT_OK_SF001 entries: {stale}"
    )


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_no_oracle_runs(spark, name):
    from vnavc_spark.oracle import assert_canonicalizable

    df = QUERIES[name](spark, SF_SMALL)
    assert_canonicalizable(df, name)
    assert df.count() >= 0


def test_entry_smoke(spark):
    import __spark_entry__ as entry_mod

    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0 and len(df.columns) >= 1


def test_registry_contract_is_registration_order():
    """``queries()`` / ``oracle_sql()`` return the registry in plain
    registration order, and every oracle belongs to a registered
    query. No Spark session is needed."""
    import __spark_entry__ as entry_mod
    from vnavc_spark import queries as qmod

    assert list(entry_mod.queries()) == list(qmod.QUERIES)
    assert list(entry_mod.oracle_sql()) == list(qmod.ORACLE)
    assert set(qmod.ORACLE) <= set(qmod.QUERIES)
