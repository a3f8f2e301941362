"""Which workloads exist, which queries a dashboard refresh runs, and which
workloads measure each per-layer metric. Metric units and directions are
in BENCHMARK.json only; `run.py` prints from there."""

WORKLOADS = ["absa_live", "vehicle_drain", "curation_live", "dashboard_queries"]

DASHBOARDS = ["q21_absa_scores", "q22_absa_histogram",
              "q23_absa_sentiment_totals", "q26_vehicle_counts_by_camera",
              "q27_vehicle_trend", "q28_vehicle_global", "q29_latest_frames",
              "q30_deterministic_sample"]
STATISTICS = ["q205_ks_drift", "q289_kuiper", "q269_cramer_von_mises",
              "q278_anderson_darling", "q162_chisq_independence",
              "q252_cramers_v", "q261_mantel_haenszel", "q284_breslow_day",
              "q277_dunning_keyness"]

# per-layer metric -> the workloads whose traced run measures it; on the
# others it reads 0. One not listed (the overhead.* ones) is measured on
# every workload. A traced absa_live run also makes one traced dashboard
# refresh (the query layer), a traced vehicle_drain run drains a fixed
# backlog of docs through the curation loop (the curation layer).
_STREAMS = ["absa_live", "vehicle_drain", "curation_live"]
_OPEN = ["absa_live", "curation_live"]
_SINK = ["absa_live", "vehicle_drain"]
_CURATION = ["vehicle_drain", "curation_live"]
_QUERY = ["absa_live", "dashboard_queries"]
MEASURED_ON = {
    "log.rows_admitted": _STREAMS,
    "log.bytes_read": _STREAMS,
    "log.latest_offset_ms_p50": _STREAMS,
    "log.backlog_max": _STREAMS,
    "gen.late_ms_max": _OPEN,
    "engine.batches": _STREAMS,
    "engine.rows_per_batch_p50": _STREAMS,
    "engine.queue_wait_ms_p50": _STREAMS,
    "engine.trigger_ms_p50": _STREAMS,
    "engine.planning_ms_p50": _STREAMS,
    "engine.wal_commit_ms_p50": _STREAMS,
    "engine.commit_offsets_ms_p50": _STREAMS,
    "engine.add_batch_ms_p50": _STREAMS,
    "engine.jobs_per_batch": WORKLOADS,
    "engine.tasks_per_batch": WORKLOADS,
    "engine.codegen_compiles_per_batch": WORKLOADS,
    "engine.codegen_ms_per_batch": WORKLOADS,
    "engine.rows_reported_ratio": _STREAMS,
    "engine.cpu_util": WORKLOADS,
    "engine.gc_ms": WORKLOADS,
    "engine.heap_peak_mb": WORKLOADS,
    "engine.sustained_rate_local1": ["vehicle_drain"],
    "absa.score_ns_per_row": ["absa_live"],
    "vehicle.transform_ns_per_frame": ["vehicle_drain"],
    "sink.write_ms_p50": _SINK,
    "sink.rows_written": _SINK,
    "sink.fallbacks": _SINK,
    "curation.step_ms_p50": _CURATION,
    "curation.jobs_per_batch": _CURATION,
    "curation.checkpoints_per_batch": _CURATION,
    "curation.bytes_written_per_batch": _CURATION,
    "curation.storage_mb_end": _CURATION,
    "curation.gated": _CURATION,
    "curation.dups_dropped": _CURATION,
    "curation.kept": _CURATION,
    "query.build_ms_p50": _QUERY,
    "query.plan_ms_p50": _QUERY,
    "query.exec_ms_p50": _QUERY,
    "query.jobs_per_refresh": _QUERY,
    "query.scan_bytes_per_refresh": _QUERY,
    "query.shuffle_bytes_per_refresh": _QUERY,
    "query.spill_bytes_per_refresh": _QUERY,
}
for _q in DASHBOARDS + STATISTICS:
    MEASURED_ON[f"query.{_q}.ms_p50"] = _QUERY
