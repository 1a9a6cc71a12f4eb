"""The benchmark's metric catalogue (mirrored in BENCHMARK.json).

End-to-end metrics are workload-generic, because every workload prints
every one: each workload has one set-up, one latency-bound operation and
one throughput-bound operation. ``NAMED`` gives the workload-specific
name of each (the names the README and the per-layer map use).

Per-layer metrics are printed by every traced run. A layer a workload
does not call reads 0 there (see the README's layer map for where each
one is exercised).
"""

from __future__ import annotations

from perfbench.tracing import PHASE_FIELDS

END_TO_END = (
    # name, unit, better, bound (share of the median it may worsen by)
    ("setup_s", "s", "lower", 0.25),
    ("latency_p50_ms", "ms", "lower", 0.24),
    ("throughput_per_s", "1/s", "higher", 0.24),
)

#: the workloads BENCHMARK.json lists. dashboard_rollups and
#: hybrid_retrieval run by hand only (see the README: a run of either
#: would not fit the run budget); their layers are traced from the
#: listed workloads' traced runs
LISTED = ("reference_ranges", "stream_ingest")

#: workload → (latency metric, throughput metric) under their own names
NAMED = {
    "reference_ranges": (
        ("fallback_sql_p50_ms", "ms"),
        ("index_sql_qps", "queries/s"),
    ),
    "dashboard_rollups": (
        ("panel_p50_ms", "ms"),
        ("dashboard_panels_per_s", "panels/s"),
    ),
    "stream_ingest": (
        ("freshness_p50_ms", "ms"),
        ("stream_rows_per_s", "rows/s"),
    ),
    "hybrid_retrieval": (
        ("retrieve_p50_ms", "ms"),
        ("dedup_docs_per_s", "docs/s"),
    ),
}

#: phases every workload has; per-phase counters are named <phase>.<field>
PHASES = ("setup", "latency", "throughput")

LAYER_METRICS = (
    # driver_index / sql_router / Spark SQL scan — reference_ranges
    ("driver_index.query_ns", "ns", "lower"),
    ("driver_index.size_bytes", "bytes", "lower"),
    ("sql_router.explain_us", "us", "lower"),
    ("sql_router.routed.index", "count", "higher"),
    ("sql_router.routed.sql", "count", "lower"),
    ("spark_sql.scan_ms", "ms", "lower"),
    ("spark.input_bytes_per_scan", "bytes", "lower"),
    ("spark.tasks_per_scan", "count", "lower"),
    # wheel build — reference_ranges, dashboard_rollups
    ("wheel.build_s", "s", "lower"),
    ("wheel.to_driver_index_s", "s", "lower"),
    ("spark.build_shuffle_bytes", "bytes", "lower"),
    # rollup family builds — dashboard_rollups, traced from reference_ranges
    ("quantile_rollup.build_s", "s", "lower"),
    ("ohlc.build_s", "s", "lower"),
    ("distinct.build_s", "s", "lower"),
    ("keyed_wheel.build_s", "s", "lower"),
    ("count_pairs.build_s", "s", "lower"),
    # serving — dashboard_rollups, traced from reference_ranges
    ("sql_router.serve_ms.quantile_rollup", "ms", "lower"),
    ("sql_router.serve_ms.ohlc_rollup", "ms", "lower"),
    ("sql_router.serve_ms.index", "ms", "lower"),
    ("sql_router.serve_ms.count_rollup", "ms", "lower"),
    ("sql_router.serve_ms.distinct_rollup", "ms", "lower"),
    ("spark.jobs_per_panel", "count", "lower"),
    ("spark.tasks_per_panel", "count", "lower"),
    ("engine.batch_ms.quantile", "ms", "lower"),
    ("engine.batch_ms.ohlc", "ms", "lower"),
    ("range_plan.decompose_us", "us", "lower"),
    ("wheel.probe_ms", "ms", "lower"),
    ("wheel.range_agg_batch_ms", "ms", "lower"),
    ("spark.jobs_per_dashboard", "count", "lower"),
    # streaming — stream_ingest
    ("wheel_stream.process_available_ms", "ms", "lower"),
    ("wheel_stream.snapshot_index_ms", "ms", "lower"),
    ("spark.state_rows", "count", "lower"),
    ("spark.state_memory_bytes", "bytes", "lower"),
    ("wheel_stream.late_rows_reported", "count", "lower"),
    ("wheel_stream.late_rows_true", "count", "lower"),
    # dedup / index builds / retrieval — hybrid_retrieval, traced from
    # stream_ingest
    ("dedup.candidates_s", "s", "lower"),
    ("dedup.components_s", "s", "lower"),
    ("dedup.canonicalize_s", "s", "lower"),
    ("spark.shuffle_bytes.dedup", "bytes", "lower"),
    ("similarity.ivf_build_s", "s", "lower"),
    ("similarity.pq_build_s", "s", "lower"),
    ("ann_serving.save_s", "s", "lower"),
    ("textops.keyword_build_s", "s", "lower"),
    ("textops.bm25_probe_ms", "ms", "lower"),
    ("ann_serving.rerank_served_ms", "ms", "lower"),
    ("retrieval.rrf_fuse_ms", "ms", "lower"),
    ("spark.jobs_per_retrieve", "count", "lower"),
    ("dedup.false_merges", "count", "lower"),
    ("ann_serving.recall_at_10", "ratio", "higher"),
    # tracing overhead: traced minus untraced, as % of untraced
    ("trace.overhead.latency_pct", "%", "lower"),
    ("trace.overhead.throughput_pct", "%", "lower"),
)

PER_LAYER = LAYER_METRICS + tuple(
    (f"{phase}.{field}", unit, "lower")
    for phase in PHASES
    for field, unit in PHASE_FIELDS
)

