"""Query registry — the single source of truth for the driver contract.

Every implemented operator from SURVEY.md §2 registers here as a named
callable ``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible) an
equivalent DuckDB oracle SQL string. ``__spark_entry__.queries()`` /
``oracle_sql()`` simply re-export these dicts.

Conventions (driver contract, see repo README):
- every computed/aggregate column is aliased identically in the Spark code
  and the oracle SQL (the driver hash sorts columns by NAME);
- double-typed aggregates are rounded to 2 decimals on BOTH sides so that
  floating-point summation order can't flip the hash;
- timestamps in output are cast to DATE or formatted strings on both sides
  (Spark µs vs DuckDB ns precision would otherwise diverge).
"""

from __future__ import annotations

import re
from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def query(name: str, oracle: Optional[str] = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query; ``oracle=None`` marks it rows-only (non-SQL op)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import every query module so registration side effects run."""
    from muurschilderingendatabase_etl_spark import queries as _  # noqa: F401


# Queries whose IMPLEMENTATION materially changed in round N (hand-curated
# at round close — the cheapest honest signal; a git-derived per-module
# variant would requeue a whole module on any edit). If N is later than the
# round of a query's latest external pass, that pass verified the OLD code:
# the query is demoted from the verified tier to the rewritten tier so it
# leads the next driver window instead of waiting out the full
# least-recently-verified rotation (r8 VERDICT item 1 — five r7-vintage
# records on r8-rewritten code would otherwise sit behind 87 older names
# until ~r10).
_REWRITTEN_IN_ROUND: dict[str, int] = {
    # r12 (optimization round): scripts/check_rewrites.py flags every
    # query whose AST slice changed since its latest external record,
    # and this round changed tables.t (the fixture-relation memo) —
    # a dependency on every slice that loads a fixture table — plus
    # money.py (hi/lo exact sums), the streaming replay floor, and a
    # dozen per-query rewrites. 183 of 186 queries therefore carry an
    # r12 rewrite entry (the three that synthesize their own data —
    # rdf_rest_*_scan, scan_json_corrupt_records — were untouched then).
    # All 186 re-verified against the DuckDB oracle at sf0.01 via
    # scripts/driver_mimic.py before commit (OPTIMIZATION_r12.md).
    # Historical per-round entries (r8-r11) are superseded by these;
    # git history preserves the provenance narrative.
    #
    # r13 (optimization round 2): 69 entries re-tiered to 13 — the 50
    # queries the gate flags (their r12 external records predate this
    # round's tables.t memo-KEY line, a behaviorally inert change for
    # any single-session run) plus every query with a TARGETED r13
    # rewrite whose record predates r12 and so escapes the gate
    # (pagerank edge cache, both sinks' write sizing + the z-order
    # key, the two SQL money sums, the 13 replay-backed streams, the
    # LSH/IVF literal guard). Unlike r12's blanket re-tier (which gave
    # the driver a zero-overlap sample, VERDICT r12), the ~120
    # remaining tables.t-only dependents keep their r12 tier: their
    # slices changed only by the inert key line, and leaving them put
    # points the driver's 50-query window at the code that actually
    # changed. All changed queries oracle-verified at sf0.01 (and the
    # streams + sinks additionally at sf0.1) via scripts/driver_mimic
    # before each commit (OPTIMIZATION_r13.md).
    "agg_approx_count_distinct": 12,
    "agg_approx_percentile": 13,
    "agg_conditional": 13,
    "agg_corr_covar": 12,
    "agg_count_distinct": 12,
    "agg_cube": 13,
    "agg_grouping_id": 12,
    "agg_grouping_sets": 13,
    "agg_having": 12,
    "agg_hll_rolling_uniques": 12,
    "agg_hll_sketch_mergeable": 12,
    "agg_min_by_max_by": 12,
    "agg_min_max": 13,
    "agg_percentiles": 12,
    "agg_pricing_summary": 12,
    "agg_rollup": 13,
    "agg_salted_two_phase": 12,
    "agg_string_agg_ordered": 12,
    "agg_two_stage_salted": 12,
    "anomaly_zscore_gate": 12,
    "array_collect_sorted": 12,
    "array_explode_tokens": 12,
    "array_higher_order": 12,
    "array_hof_vector_norm": 12,
    "array_ops_embeddings": 12,
    "chunk_fixed_windows": 13,
    "contamination_bloom_prefilter": 12,
    "contamination_ngram_overlap": 12,
    "debounce_events": 12,
    "dedup_connected_components": 13,
    "dedup_embedding_cosine": 12,
    "dedup_exact_hash": 12,
    "dedup_minhash_lsh": 12,
    "dedup_ngram_jaccard": 13,
    "dedup_shared_ngram_spans": 12,
    "dedup_simhash": 12,
    "filter_between_distinct": 13,
    "filter_isin": 13,
    "filter_null_safe_eq": 12,
    "filter_rlike": 12,
    "flagship_revenue_by_nation": 12,
    "funnel_signup_purchase": 12,
    "geo_distance_join_grid": 12,
    "graph_pagerank_fixed": 13,
    "heavy_hitters_two_pass": 13,
    "index_doc_frequency": 13,
    "index_posting_lists": 13,
    "join_asof_event_order": 12,
    "join_asof_forward_tolerance": 12,
    "join_broadcast_dim": 12,
    "join_cross": 13,
    "join_dynamic_partition_pruning": 12,
    "join_full_outer": 12,
    "join_fuzzy_levenshtein": 12,
    "join_inner_three_way": 13,
    "join_interval_bucketed": 12,
    "join_interval_overlap": 12,
    "join_left_anti": 13,
    "join_left_outer": 13,
    "join_left_semi": 13,
    "join_right_outer": 12,
    "join_theta_range": 13,
    "json_extract_props": 12,
    "json_variant_extract": 13,
    "map_lookup_remap": 12,
    "multimodal_feature_extract": 13,
    "multimodal_frame_sample": 12,
    "multimodal_metadata": 13,
    "multimodal_resize_plan": 12,
    "pack_sequence_bins": 12,
    "pii_quarantine_split": 13,
    "pii_redact_mask": 13,
    "pipeline_incremental_upsert": 12,
    "pipeline_training_data_prep": 13,
    "pivot_segment_by_year": 13,
    "profile_expectations": 12,
    "project_computed_columns": 13,
    "project_explode_outer": 12,
    "project_posexplode": 12,
    "project_unpivot_melt": 12,
    "quality_gopher_gates": 13,
    "quality_length_band_filter": 12,
    "quality_repetition_dupwords": 13,
    # r14: the three RDF queries that materialized their own input
    # before the global sort now rely on the parse kernel and the
    # enrichment fetch materializing theirs (rdf/turtle.py,
    # rdf/transform.py); oracle-verified at sf0.001 by the parity tests.
    "rdf_enrichment_join": 14,
    "rdf_graph_pipeline": 13,
    "rdf_rest_datasource_scan": 14,
    "rdf_rest_source_scan": 14,
    "rdf_turtle_roundtrip": 12,
    "retention_weekly_cohorts": 13,
    "sample_hash_stratified": 12,
    "sample_per_source_quota": 12,
    "sample_seeded": 12,
    "scalar_calendar_arith": 12,
    "scalar_conditional": 12,
    "scalar_date_fns": 13,
    "scalar_date_trunc_diff": 12,
    "scalar_math_fns": 12,
    "scalar_null_combinators": 12,
    "scalar_regexp_extract": 12,
    "scalar_string_fns": 13,
    "scalar_try_arithmetic": 12,
    "scan_csv_roundtrip": 13,
    "scan_json_roundtrip": 12,
    "scan_orc_roundtrip": 12,
    "scan_parquet_pushdown": 13,
    "scan_xml_roundtrip": 12,
    "scd2_from_changelog": 12,
    "sequence_pattern_match": 12,
    "setop_dropduplicates_subset": 12,
    "setop_except": 12,
    "setop_except_all": 13,
    "setop_intersect": 12,
    "setop_intersect_all": 12,
    "setop_union_all_counts": 13,
    "setop_union_by_name": 12,
    "setop_union_distinct": 13,
    "similarity_ivf_ann": 13,
    "similarity_label_cohesion": 12,
    "similarity_lsh_ann": 13,
    "similarity_topk_bruteforce": 12,
    "sink_compact_small_files": 12,
    "sink_managed_table_roundtrip": 12,
    "sink_merge_upsert": 12,
    "sink_parquet_roundtrip": 12,
    "sink_partitioned_pruning": 12,
    "sink_sorted_data_skipping": 13,
    "sink_zorder_2d_skipping": 13,
    "skyline_pareto_frontier": 12,
    "sort_global_topk": 13,
    "sort_multi_key": 13,
    "sort_nulls_ordering": 12,
    "split_train_valid_test": 12,
    "sql_local_supplier_volume": 13,
    "sql_recursive_closure": 12,
    "sql_shipping_priority": 13,
    "stats_chi_square_contingency": 12,
    "stats_corr_moments": 13,
    "stats_histogram_bins": 13,
    "stats_percentiles_exact": 12,
    "stream_dedup_stateful": 13,
    "stream_dedup_within_watermark": 13,
    "stream_foreach_batch_sink": 13,
    "stream_late_data_drop": 13,
    "stream_session_window": 13,
    "stream_sliding_window": 13,
    "stream_stateful_user_stats": 13,
    "stream_static_join": 13,
    "stream_stream_join": 13,
    "stream_stream_outer_join": 13,
    "stream_transform_with_state": 13,
    "stream_tumbling_window": 13,
    "stream_watermark_append": 13,
    "subq_exists_correlated": 12,
    "subq_in_uncorrelated": 12,
    "subq_lateral_topn": 12,
    "subq_not_exists_anti": 12,
    "subq_quantified_all": 12,
    "subq_scalar_correlated": 12,
    "subq_scalar_uncorrelated": 13,
    "text_fingerprint": 12,
    "text_lang_id": 13,
    "text_quality_score": 12,
    "text_tfidf_topterms": 12,
    "text_token_count": 12,
    "text_unigram_surprisal": 12,
    "timeseries_resample_ffill": 13,
    "trend_week_over_week": 12,
    "udaf_apply_in_pandas": 12,
    "udf_cogroup_apply_in_pandas": 12,
    "udf_map_in_arrow": 12,
    "udf_pandas_vectorized": 12,
    "udf_scalar_python": 13,
    "udtf_sentence_split": 12,
    "window_first_last_nth": 12,
    "window_lag_lead": 12,
    "window_moving_avg_frame": 12,
    "window_ntile_buckets": 12,
    "window_range_frame": 12,
    "window_rank_dense_rank": 12,
    "window_rank_distribution": 12,
    "window_rolling_median": 12,
    "window_running_sum": 12,
    "window_sessionize_gaps": 12,
    "window_share_of_group": 12,
    "window_topk_per_group": 13,
}



def _last_verified_round() -> dict[str, tuple[int, int]]:
    """Per-query round of the most recent SUCCESSFUL external verification,
    parsed from the committed ``CORRECTNESS_r*.json`` driver artifacts.

    A query counts as verified in round N if its record there is a hash
    match, or — for rows-only queries (no oracle by driver contract) — it
    ran and produced rows. A query whose LATEST record is a failure is
    treated as never-verified (round 0), so rewritten or previously
    crashing implementations are always re-queued for external checking.
    Queries absent from every artifact are round 0 too.

    This replaces the hand-maintained ``_DRIVER_CHECKED`` frozenset (stale
    at r5 close — VERDICT r5 item 1) with a set that can't go stale, and
    it addresses the r5 ADVICE objection that a one-way fresh/seen split
    permanently shields already-checked queries from re-verification:
    ordering is least-recently-verified FIRST, so once every query has
    been covered the driver's prefix window rotates back over the oldest
    verifications — every implementation gets periodically re-checked.
    """
    import glob
    import json
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    last: dict[str, tuple[int, int]] = {}
    # Sort by the PARSED round number, not the filename: last-write-wins
    # below assumes round order, and lexicographic order only matches it
    # for zero-padded 2-digit rounds (an unpadded CORRECTNESS_r7.json or
    # round >= 100 would let an older record overwrite a newer one).
    found: list[tuple[int, str]] = []
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if m:
            found.append((int(m.group(1)), path))
    for rnd, path in sorted(found):
        try:
            with open(path) as fh:
                records = json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(records, dict):
            continue
        for name, rec in records.items():
            if not isinstance(rec, dict):
                continue
            hash_ok = rec.get("hash_match") is True
            rows_only_ran = (
                rec.get("err") == "no_oracle" and rec.get("spark_rows") is not None
            )
            # Tiers (files are processed in round order: last write wins):
            #   0 — latest record is a failure (or never checked at all):
            #       full never-verified priority;
            #   1 — ran rows-only but the query HAS an oracle today, i.e.
            #       the value contract was added after the last external
            #       check and has never been externally run: first in
            #       line AFTER the never-verified set (it has at least a
            #       rows-level external pass, a true zero has nothing);
            #   2 — (assigned below) implementation rewritten AFTER the
            #       latest external pass: that pass verified old code;
            #   3 — externally verified at its current contract level
            #       and implementation.
            if not (hash_ok or rows_only_ran):
                last[name] = (0, 0)
            elif rows_only_ran and name in _ORACLES:
                last[name] = (1, rnd)
            else:
                last[name] = (3, rnd)
    # Demote verified records that predate a rewrite of the query's
    # implementation (see _REWRITTEN_IN_ROUND). Once the driver re-checks
    # the rewritten code, the new record's round >= the rewrite round and
    # the query returns to the verified tier automatically.
    for name, (tier, rnd) in list(last.items()):
        if tier == 3 and _REWRITTEN_IN_ROUND.get(name, 0) > rnd:
            last[name] = (2, rnd)
    return last


def _module_round_robin_order() -> list[str]:
    """Query names interleaved round-robin across their defining modules.

    The round driver checks a prefix of the registry in dict order; plain
    registration order front-loads whole modules and starves the rest
    (round 1: the driver's 50-query window never reached 11 of 20
    modules). Interleaving puts the first query of every module in the
    first len(modules) entries, so any prefix window samples every
    operator category.
    """
    groups: dict[str, list[str]] = {}
    for name, fn in _QUERIES.items():
        groups.setdefault(fn.__module__, []).append(name)
    order: list[str] = []
    buckets = list(groups.values())
    i = 0
    while buckets:
        buckets = [b for b in buckets if b]
        for b in buckets:
            if i < len(b):
                order.append(b[i])
        buckets = [b for b in buckets if len(b) > i + 1]
        i += 1
    # Least-recently-verified first (see _last_verified_round): the driver
    # checks a prefix window, so this maximizes fresh external coverage
    # while still cycling re-verification over old passes once coverage is
    # complete. Ties (same round, incl. never-verified) keep the
    # module-interleaved order so any window samples every category.
    last = _last_verified_round()
    pos = {n: i for i, n in enumerate(order)}
    return sorted(order, key=lambda n: (*last.get(n, (0, 0)), pos[n]))


def all_queries() -> dict[str, QueryFn]:
    load_all()
    return {name: _QUERIES[name] for name in _module_round_robin_order()}


def all_oracles() -> dict[str, str]:
    load_all()
    order = _module_round_robin_order()
    return {name: _ORACLES[name] for name in order if name in _ORACLES}
