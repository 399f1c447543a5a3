"""Registry contract of `__spark_entry__`: every oracle twin names a
registered query, every query has a twin unless it is rows-only by
design, and the reference-surface queries stay registered."""

from __future__ import annotations

import __spark_entry__ as entry

# Not SQL-expressible (frozen models, engine hashing, vector math): these
# are checked by rows only.
ROWS_ONLY = {
    "pipeline_score_documents",
    "dedup_minhash_full",
    "dedup_simhash",
    "ann_topk",
    "ivf_topk",
    "ivf_topk_indexed",
    "multimodal_features",
}

# Query names of the reference surface: S2-S8, P1-P10, A1-A5, J1/J2, U1,
# O1 and F1/F2.
REFERENCE_SURFACE = {
    "stream_windowed_agg",                                    # S2
    "s3_sample", "s3_stratified_sample", "s3_fixed_n_per_group",
    "s3_weighted_sample",                                     # S3
    "sink_roundtrip",                                         # S4/S5
    "s7_field_mapping", "s7_metadata_absorb",                 # S7
    "s8_output_naming",                                       # S8
    "p1_validation_filter", "pipeline_score_documents", "score_core",
    "p2_category", "p3_normalization", "p4_weighted_score", "p5_uid64",
    "p6_error_default", "p7_scrub", "p8_cost", "p9_format_conversion",
    "p10_improvement_suggestions",                            # P1-P10
    "a1_batch_metrics", "a2_event_totals", "a3_source_distribution",
    "a4_token_stats", "a5_lineitem_summary",                  # A1-A5
    "j1_anti_join_resume", "j2_last_wins_dedup",              # J1/J2, S6
    "u1_union",                                               # U1
    "o1_sort_limit",                                          # O1/L1
    "f1_keep_filter", "f1_category_filter", "f2_drop_lane",   # F1/F2
}


def test_every_oracle_twin_names_a_registered_query():
    assert set(entry.oracle_sql()) - set(entry.queries()) == set()


def test_every_query_has_a_twin_unless_rows_only():
    missing = set(entry.queries()) - set(entry.oracle_sql()) - ROWS_ONLY
    assert missing == set()
    assert ROWS_ONLY <= set(entry.queries())


def test_reference_surface_stays_registered():
    assert REFERENCE_SURFACE - set(entry.queries()) == set()
