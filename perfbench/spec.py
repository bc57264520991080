"""Workloads, the query panel and metric names, in one place. ``BENCHMARK.json``
lists the same names; ``selftest.py`` checks that the two agree."""

from __future__ import annotations

WORKLOADS = ("etl_reference", "queries")

# The ``queries`` panel, module -> query: from every module, the query
# with the lowest reference time (``ref_s`` in expected.json), so a run
# covers every layer. The graph module's one query, graph_pagerank_fixed, is left out:
# it takes 12-14 s cold, a third of a pass. A pass over this panel takes
# about 35 s cold on a 4-core host; one over all 186 queries about 150 s.
PANEL = {
    "aggregation": "agg_grouping_sets",
    "array_json": "map_lookup_remap",
    "behavior": "sequence_pattern_match",
    "chunking_splits": "sample_per_source_quota",
    "flagship": "flagship_revenue_by_nation",
    "functions_extra": "scalar_regexp_extract",
    "geo": "geo_distance_join_grid",
    "joins": "join_left_anti",
    "pii_safety": "pii_quarantine_split",
    "projection": "filter_rlike",
    "quality": "quality_length_band_filter",
    "relational_extras": "project_posexplode",
    "scalar_fns": "scalar_string_fns",
    "scans": "scan_csv_roundtrip",
    "search_index": "index_posting_lists",
    "setops": "setop_intersect",
    "sort_limit": "sort_nulls_ordering",
    "sql_api": "agg_string_agg_ordered",
    "stats_profile": "stats_corr_moments",
    "subqueries": "subq_in_uncorrelated",
    "textanalysis": "text_token_count",
    "timeseries": "scd2_from_changelog",
    "windows": "window_range_frame",
    "streaming_windows": "stream_tumbling_window",
    "dedup": "pipeline_training_data_prep",
    "similarity": "similarity_label_cohesion",
    "udf_surface": "udtf_sentence_split",
    "multimodal": "multimodal_metadata",
    "sketches": "heavy_hitters_two_pass",
    "rdf_graph": "rdf_rest_source_scan",
}

# Untimed warm-up at set-up, outside the panel: the session's first
# query, which pays for class loading and code generation set-up.
WARM_UP = ("join_right_outer",)

END_TO_END = (
    ("setup_s", "s"),
    ("wall_s", "s"),
    ("op_geomean_s", "s"),
)

PER_LAYER = (
    ("session.start_s", "s"),
    ("registry.load_s", "s"),
    ("tables.t_calls", "count"),
    ("tables.t_s", "s"),
    ("queries.build_s", "s"),
    ("queries.plan_s", "s"),
    ("queries.exec_s", "s"),
    *((f"queries.{m}.s", "s") for m in PANEL),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.single_task_stages", "count"),
    ("spark.failed_tasks", "count"),
    ("streaming.micro_batches", "count"),
    ("streaming.batch_ms_p50", "ms"),
    ("streaming.run_to_memory_s", "s"),
    ("rdf.source.scan_s", "s"),
    ("rdf.source.pages", "count"),
    ("rdf.source.bytes_in", "bytes"),
    ("rdf.turtle.parse_s", "s"),
    ("rdf.turtle.triples_parsed", "count"),
    ("rdf.turtle.docs_quarantined", "count"),
    ("rdf.turtle.write_s", "s"),
    ("rdf.turtle.auto_prefixes_s", "s"),
    ("rdf.turtle.bytes_out", "bytes"),
    ("rdf.cleanup.clean_s", "s"),
    ("rdf.cleanup.triples_dropped", "count"),
    ("rdf.transform.enrich_s", "s"),
    ("rdf.transform.fetch_calls", "count"),
    ("rdf.transform.keys_distinct", "count"),
    ("rdf.transform.fetch_useful_ratio", "ratio"),
    ("rdf.transform.triples_enriched", "count"),
    ("rdf.transform.same_as_added", "count"),
    ("rdf.transform.triples_filtered", "count"),
    ("rdf.pipeline.export_s", "s"),
    ("rdf.pipeline.export_jobs", "count"),
    ("rdf.pipeline.transform_s", "s"),
    ("rdf.pipeline.transform_jobs", "count"),
    ("host.calib_s", "s"),
    ("host.steal_cores", "cores"),
    ("host.other_cores", "cores"),
    ("process.peak_rss_mb", "MB"),
    ("trace.overhead_ratio", "ratio"),
)
