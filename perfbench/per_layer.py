"""The per-layer metrics of the traced run: name, unit, and the
end-to-end metric each one should move.  ``BENCHMARK.json`` lists the
same names; ``smoke.py`` checks that the two agree."""

from __future__ import annotations

PLUGINS = ("lowercase_keys", "event_shell", "ensure_eventid", "timestamps", "ip_addresses", "gsuite_login")
DETECTIONS = ("failed_login_bursts", "password_spray", "beaconing_candidates",
              "first_seen_ips", "account_activity_profiles", "rare_event_scores")

_INGEST = "history: ingest_events_per_s, freshness_p50_s, stored_bytes_per_input_byte"
_FRESH = "live: freshness_p50_s, ingest_events_per_s"

#: (name, unit, end-to-end metrics it should move)
METRICS = [
    ("session.start_s", "s", "setup_s (outside the median; paid once per process)"),
    ("session.first_python_job_s", "s", "setup_s (outside the median; paid once per process)"),
    *[(f"plugins.{p}_us_per_event", "us/event", "history: ingest_events_per_s; live: a little freshness_p50_s")
      for p in PLUGINS],
    ("pipeline.run_pipeline_us_per_event", "us/event", "history: ingest_events_per_s; live: a little freshness_p50_s"),
    ("intake.ndjson_s", "s", _INGEST),
    ("intake.blob_s", "s", _INGEST),
    ("pipeline.normalize_self_s", "s", _INGEST),
    ("lake.insert_self_s", "s", _INGEST + "; live: freshness_p50_s"),
    ("lake.files_written_per_batch", "count", _INGEST),
    ("lake.bytes_per_event", "B/event", "history and live: stored_bytes_per_input_byte"),
    ("stream.trigger_ms_p50", "ms", _FRESH),
    ("stream.addBatch_ms_p50", "ms", _FRESH),
    ("stream.latestOffset_ms_p50", "ms", _FRESH),
    ("stream.walCommit_ms_p50", "ms", _FRESH),
    ("stream.rows_per_batch", "count", _FRESH),
    ("stream.batches", "count", _FRESH),
    ("stream.backlog_files_end", "count", _FRESH),
    ("stream.generator_late_s_p90", "s", "none: a late generator makes freshness read low"),
    ("stream.freshness_p90_s", "s", "live: freshness_p50_s (the tail of the same samples)"),
    ("stream.live_query_s_p50", "s", "live: query_p50_s"),
    ("scan.partitions_read_per_query", "count", "history: query_p50_s"),
    ("scan.files_read_per_query", "count", "history: query_p50_s"),
    ("scan.rows_read_per_row_returned", "ratio", "history: query_p50_s"),
    ("compat.json_extract_scalar_query_s_p50", "s", "history and live: query_p50_s"),
    ("compat.json_array_contains_query_s_p50", "s", "history: query_p50_s"),
    ("variant.projection_s", "s", "history: query_p50_s"),
    *[(f"detections.{d}_s_p50", "s", "history: query_p50_s, queries_per_s") for d in DETECTIONS],
    ("file_index.candidate_file_ratio", "ratio", "history: query_p50_s"),
    ("file_index.lookup_s_p50", "s", "history: query_p50_s"),
    ("maintenance.compact_s", "s", "live: query_p50_s (reads after compaction)"),
    ("maintenance.files_before", "count", "live: query_p50_s"),
    ("maintenance.files_after", "count", "live: query_p50_s"),
    ("curate.pass_s", "s", "none end to end: curation runs in the traced run only"),
    ("dedup.exact_s", "s", "curate.pass_s"),
    ("dedup.minhash_bucket_s", "s", "curate.pass_s"),
    ("dedup.jaccard_pairs_s", "s", "curate.pass_s"),
    ("dedup.minhash_candidate_precision", "ratio", "curate.pass_s (wasted verify work)"),
    ("similarity.cosine_topk_s", "s", "curate.pass_s"),
    ("similarity.ivf_topk_s", "s", "curate.pass_s"),
    ("similarity.ivf_recall_at_10", "ratio", "none: result quality of ivf_topk"),
    ("pq.train_s", "s", "curate.pass_s"),
    ("pq.topk_s", "s", "curate.pass_s"),
    *[(f"spark.{phase}.{kind}_per_op", "count", target)
      for phase, target in (("query", "history: query_p50_s"),
                            ("ingest", "history: ingest_events_per_s, freshness_p50_s"),
                            ("live", "live: query_p50_s"), ("curate", "curate.pass_s"))
      for kind in ("jobs", "stages", "tasks")],
    ("proc.python_cpu_s", "s", "all: Python workers and driver busy time"),
    ("proc.jvm_cpu_s", "s", "all: JVM busy time"),
    ("proc.cpu_util", "ratio", "all: share of the cores kept busy"),
    ("jvm.gc_s", "s", "all"),
    ("trace.overhead_s", "s", "none: wall time of trace-only work in this run"),
]

UNITS = {name: unit for name, unit, _ in METRICS}


def names() -> list:
    return [name for name, _, _ in METRICS]
