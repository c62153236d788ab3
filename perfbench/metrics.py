"""The benchmark's metric names and units, kept equal to
``BENCHMARK.json`` (``test_checks.py`` compares them).

Every workload reports every metric.  End-to-end metrics mean the same
thing on each workload, applied to its own operations (README.md has
the table).  A per-layer metric of a layer that a workload does not
call reads 0 there."""

from __future__ import annotations

QUERY_NAMES = (
    "flo_consume_vv",
    "flo_glob_recursive",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_regional_revenue",
    "q6_forecast_revenue",
    "q9_product_profit",
    "q18_large_volume_customers",
    "top3_customers_per_nation",
    "asof_last_click_before_purchase",
    "dedup_exact",
    "dedup_minhash_lsh",
    "token_count",
    "embedding_topk_bruteforce",
    "stream_tumbling_counts",
    "multimodal_features",
)

STREAM_PHASES = ("latestOffset", "queryPlanning", "addBatch", "triggerExecution")

LAYERS = (
    "protocol",
    "sources.flo_segment",
    "functions.glob",
    "queries",
    "streaming",
    "sources.event_table",
    "sources.flo_datasource",
    "session",
)

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "warm_pass_s": "s",
    "write_eps": "events/s",
    "op_ms": "ms",
}


def _per_layer() -> dict[str, str]:
    m = {
        # tcp_log phases
        "consume_eps": "events/s",
        "server_peak_rss_mb": "MB",
        "protocol.client.produce_many_ms": "ms",
        "protocol.client.produce_us.p50": "us",
        "protocol.client.produce_us.p99": "us",
        "protocol.client.first_event_ms": "ms",
        "protocol.server.cpu_s.produce": "s",
        "protocol.server.cpu_s.consume": "s",
        "protocol.server.cpu_s.glob_consume": "s",
        "protocol.server.cpu_s.tail": "s",
        "protocol.server.idle_in_round_ms": "ms",
        "sources.flo_segment.decode_mb_s": "MB/s",
        "sources.flo_segment.encode_us": "us",
        "sources.flo_segment.bytes_per_event": "B",
        "sources.flo_segment.segments": "count",
        "functions.glob.match_us": "us",
        # spark: catalog
        "jvm_peak_rss_mb": "MB",
        "catalog_warm_s": "s",
        "catalog_cold_s": "s",
    }
    for q in QUERY_NAMES:
        m[f"queries.{q}.build_s"] = "s"
        m[f"queries.{q}.execute_s"] = "s"
    m.update(
        {
            "queries.build_s": "s",
            "queries.execute_s": "s",
            "queries.build_jobs": "count",
            "queries.execute_jobs": "count",
            "queries.execute_stages": "count",
        }
    )
    for p in STREAM_PHASES:
        m[f"streaming.stream_tumbling_counts.{p}_ms"] = "ms"
    for p in STREAM_PHASES:
        m[f"streaming.flo_drain.{p}_ms"] = "ms"
    m.update(
        {
            # spark: event log
            "log_produce_eps": "events/s",
            "native_write_eps": "events/s",
            "native_drain_eps": "events/s",
            "sources.event_table.produce_ms": "ms",
            "sources.event_table.produce_jobs": "count",
            "sources.event_table.consume_ms": "ms",
            "sources.event_table.head_ms": "ms",
            "sources.event_table.files": "count",
            "sources.flo_datasource.write_s": "s",
            "sources.flo_datasource.files_planned": "count",
            "sources.flo_datasource.files_total": "count",
            "session.start_s": "s",
        }
    )
    for layer in LAYERS:
        m[f"{layer}.self_s"] = "s"
    m["trace.spans"] = "count"
    m["trace.warm_pass_s"] = "s"
    return m


PER_LAYER = _per_layer()
