"""End-to-end entity-resolution pipeline — the PRODUCTION composition
of the ER operator family.

The registered queries q207–q210 each recompute radius-2 blocking from
scratch (deliberately: certification independence). A real pipeline
pays blocking ONCE: deletion variants are staged to a persistent
table (exploded once EVER per name, the incremental-dedup stance),
the candidate-pair table is computed once per run, and every
downstream step — scoring, decision, clustering, rekey — consumes
that one table. This module is that composition: block → verify →
score → decide → cluster → apply, parity-tested against the
independently-certified q207/q208/q209 results
(tests/test_dedup_similarity.py::TestErPipeline).

Reference analog: the metadata upsert consumers in
tts_data_pipeline/pre_processing/process_all.py:797-839 re-key
records against a resolved-entity map; this is the same apply step
at corpus scale.

Scale shape: staging cost ∝ NEW names' variant fan-out per run
(never a corpus re-explode); the candidate join is hash-bucketed
variants (FastSS), the scoring adds name-keyed equi-joins against
the distinct-entity table, CC shuffles node-sized label rows with
severed checkpoints, and the rekey is one name-keyed left join.
Nothing all-pairs anywhere.
"""
from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vnavc_spark.operators import dedup


class ERResult(NamedTuple):
    """Outputs of :func:`resolve_entities` — every stage a consumer
    might want, all fed from ONE staged candidate table."""

    n_new_names: int          # names newly staged this run
    pairs: DataFrame          # candidate pairs (name_a, name_b, n_recs_*, dist)
    scored: DataFrame         # + agreement vector, match_weight, decision
    clusters: DataFrame       # (nm, entity_id) for clustered names only
    rekeyed: DataFrame        # records + entity_id (ALL records survive)


def customer_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The customer entity table the Fellegi-Sunter family scores
    over: the entity specs' partial (``dedup.customer_entity_rows``)
    over the whole customer table. Single authority — q208, q209,
    q210, q211 and this pipeline all route through it so they cannot
    drift onto different entity definitions."""
    from vnavc_spark.io import table

    return dedup.customer_entity_rows(table(spark, sf_dir, "customer"))


def resolve_entities(
    records: DataFrame,
    entities: DataFrame,
    var_path: str,
    name_col: str,
    radius: int = 2,
    new_names: DataFrame | None = None,
    attr_weights: dict[str, tuple[int, int]] = dedup.FS_ATTR_WEIGHTS,
    dist_weights: dict[int, int] = dedup.FS_DIST_WEIGHTS,
    match_threshold: int = dedup.FS_MATCH_THRESHOLD,
    possible_threshold: int = dedup.FS_POSSIBLE_THRESHOLD,
) -> ERResult:
    """Run the full ER pipeline off ONE staged deletion-variant table.

    ``records`` is the raw record table (rekeyed in the last step);
    ``entities`` is its distinct-name entity table — ``nm``,
    ``n_recs``, plus one column per key of ``attr_weights`` (build it
    with :func:`customer_entities` for the customer model).
    ``var_path`` is the persistent variant table
    (:func:`vnavc_spark.operators.dedup.stage_deletion_variants` —
    created on first run, appended incrementally after). With
    ``new_names`` set, only pairs touching a new name are produced
    (incremental ER); with ``None`` the full staged corpus is linked.

    Every downstream stage shares the single candidate-pair table:
    blocking is paid once per run (and variant explosion once EVER
    per name), where running q207+q208+q209 side by side pays it
    three times. The scored table is checkpointed before fan-out —
    clusters and any rollup consumer reuse the materialized result
    instead of re-running the levenshtein verify."""
    names = entities.select("nm", "n_recs")
    n_new, _ = dedup.stage_deletion_variants(
        names, var_path, radius=radius
    )
    pairs = dedup.incremental_linkage_pairs(
        names, var_path, new_names=new_names, radius=radius
    )
    scored = dedup.fellegi_sunter_scores(
        pairs,
        entities,
        attr_weights=attr_weights,
        dist_weights=dist_weights,
        match_threshold=match_threshold,
        possible_threshold=possible_threshold,
    )
    # one materialization feeds clustering AND any rollup/readout the
    # caller derives from `scored` — decision-filtered pairs are tiny
    # relative to the blocking work above them (the q209 stance)
    scored = scored.localCheckpoint()
    matches = scored.filter(F.col("decision") == "match").select(
        F.col("name_a").alias("doc_a"), F.col("name_b").alias("doc_b")
    )
    clusters = dedup.dedup_clusters(matches).select(
        F.col("doc_id").alias("nm"), F.col("cluster_id").alias("entity_id")
    )
    rekeyed = dedup.entity_rekey(records, clusters, name_col=name_col)
    return ERResult(
        n_new_names=n_new,
        pairs=pairs,
        scored=scored,
        clusters=clusters,
        rekeyed=rekeyed,
    )
