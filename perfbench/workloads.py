"""The benchmark's workloads. Which end-to-end metric each layer metric
should move, and on which workload, is recorded in ``NOTES.md``.

Query names are entries of the engine's registry (``QUERIES``); the
harness calls each as ``QUERIES[name](spark, sf_dir)`` and writes the
result to the ``noop`` sink, exactly as a pipeline scheduler would.
"""

from __future__ import annotations

WORKLOADS: dict[str, dict] = {
    "serving_rollups": {
        "why": (
            "read-only dashboard rollups plus TPC-H joins and windows: no "
            "commits, no Python workers, no materialization; the bypass "
            "case for commit and materialization changes"
        ),
        "queries": [
            "daily_weather_rollup",
            "monthly_weather_rollup",
            "hourly_dedup_agg",
            "station_enrichment",
            "unit_conversions",
            "json_props_extract",
            "pricing_summary",
            "regional_revenue",
            "top_orders_per_customer",
        ],
        "warm_passes": 2,
    },
    "llm_curation": {
        "why": (
            "dedup, LM-scoring and multimodal-decode operators: Python "
            "workers take about 60% of executor task time and construction "
            "takes eager localCheckpoints; no versioned writes"
        ),
        "queries": [
            "exact_dedup_docs",
            "simhash_fingerprints",
            "cdc_chunk_dedup",
            "bigram_lm_scores",
            "multimodal_jpeg_decode",
            "multimodal_adpcm_decode",
        ],
        "warm_passes": 2,
    },
    "versioned_lifecycle": {
        "why": (
            "commits, version reads, compaction, artifact epochs and the "
            "exactly-once sink body on the versioned table: construction is "
            "about 90% of each pass (72 of 87 jobs)"
        ),
        "queries": [
            "versioned_exactly_once_sink",
            "bloom_artifact_lifecycle",
            "versioned_pruned_compaction",
        ],
        "warm_passes": 2,
    },
}

ALL = ("serving_rollups", "llm_curation", "versioned_lifecycle")
