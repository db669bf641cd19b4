"""Rank-family and collected-model queries on an input with one table
emptied must match the DuckDB oracle: the two-pass rank kernel's driver
walk sees zero buckets, the collected driver models (seeds, probe sets,
quantizers, codebooks) come back empty, and NULL-vs-0 totals, empty
bucket lists and missing groups all surface here rather than on the
populated tables."""

from __future__ import annotations

import pytest

from real_estate_data_analysis_with_aws_data_pipeline_project_spark.api import QUERIES

from .oracle import assert_matches_oracle

EMPTIED = {
    "orders": [
        "agg_lorenz_deciles",
        "agg_palma_ratio",
        "agg_concentration_curve",
        "features_global_equidepth_bins",
    ],
    "lineitem": ["sketch_quantile_envelope"],
    "events": [
        "events_quantile_treatment_effect",
        "events_winsorized_lift",
        "events_mannwhitney_u",
        "events_kruskal_wallis",
        "events_qini_uplift_deciles",
    ],
    "documents": ["corpus_pack_token_shards"],
    "embeddings": [
        "similarity_range_search",
        "dedup_embedding_cosine",
        "similarity_ivf_topk",
        "similarity_pq_topk",
        "dedup_semantic_clusters",
        "dedup_semantic_keep_manifest",
        "similarity_ann_lsh",
        "similarity_ann_recall_audit",
    ],
}


@pytest.mark.parametrize(
    "table,name", [(t, n) for t, names in EMPTIED.items() for n in names]
)
def test_rank_family_matches_oracle_on_empty_table(
    spark, emptied_table_dir, table, name
):
    sf_dir = emptied_table_dir(table)
    spec = QUERIES[name]
    assert_matches_oracle(spec.fn(spark, sf_dir), spec.oracle, sf_dir)
