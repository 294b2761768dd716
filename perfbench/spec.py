"""What the benchmark runs and what it reports: workloads, catalog
keys, spans and metric names. ``BENCHMARK.json`` lists the same
metrics; ``test_perfbench.py`` keeps the two in step."""

from __future__ import annotations

import os

# local[N] with N <= nproc; four cores is the reference host
CORES = min(4, os.cpu_count() or 1)
# The daily run's landing zone: 15k orders over 150 day files (~18 MB).
DAILY_SF = 0.01
# Catalog tables of the analytics session, at the scale the engine's
# tests use; every session key passes its DuckDB oracle there.
SESSION_SF = 0.001

WORKLOADS = ("daily_etl", "analytics_session")
# Set-up samples per untraced run: one worker runs the timed body and the
# others stop at the first timed call; setup_s is their median. The
# session's set-up includes a ~30 s warm-up pass, so it takes one sample.
SETUP_SAMPLES = {"daily_etl": 2, "analytics_session": 1}

# The daily check's reference, fixed at the engine state the benchmark was
# defined on: tree digest of the DAILY_SF tables, and [row count, sum of
# row xxhash64] of run_daily over them. `python3 perfbench/run.py
# --reference` prints both.
DAILY_TABLES_DIGEST = "f06cc02225b49f6d286174b14ec8efd5e5026fd20e2ee7467a4cb5fe1d6b981d"
DAILY_REFERENCE = [15000, "-134330934283640860602"]

# key -> query module of the analytics session. Two driver-looped keys
# (many small jobs, lineage cuts) and two consumers of the shared IVF
# codebook; ivf_nprobe_plan also runs jobs from driver threads.
SESSION_KEYS = {
    "pagerank_suppliers": "queries.graph",
    "logreg_label_model": "queries.analytics",
    "ann_topk_ivf": "queries.vector",
    "ivf_nprobe_plan": "queries.vector",
}
# A run times at least MIN_PASSES warm passes over the session keys, and
# more while under --seconds, up to MAX_PASSES. wall_s adds up each key's
# median over the passes, so a burst of host load in one call of one key
# does not move it. A traced run times TRACE_PASSES passes in each of its
# two workers, which keeps it within its time limit.
MIN_PASSES = 3
MAX_PASSES = 5
TRACE_PASSES = 2

INGEST = "sources.json_ingest"
EXPLODE = "operators.explode"
RUNNER = "plans.runner"

UNITS = {
    "wall_s": "s",
    "cold_s": "s",
    "start_s": "s",
    "warmup_s": "s",
    "task_cpu_s": "s",
    "driver_gap_s": "s",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "rows_out": "count",
    "corrupt_rows": "count",
    "unattributed_jobs": "count",
    "input_mb": "MB",
    "output_mb": "MB",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "peak_rss_mb": "MB",
    "attributed_pct": "%",
    "overhead_pct": "%",
}

LAYER_METRICS = {
    INGEST: [
        "wall_s", "jobs", "tasks", "task_cpu_s", "driver_gap_s",
        "input_mb", "spill_mb", "rows_out", "corrupt_rows",
    ],
    EXPLODE: ["wall_s", "jobs", "task_cpu_s", "driver_gap_s", "output_mb", "rows_out"],
    RUNNER: [
        "wall_s", "jobs", "stages", "task_cpu_s", "driver_gap_s",
        "shuffle_write_mb", "spill_mb", "output_mb",
    ],
}
# per session key: cold_s is the warm-up call; the rest are medians over timed passes
KEY_METRICS = ["wall_s", "jobs", "task_cpu_s", "driver_gap_s", "shuffle_write_mb"]
SESSION_METRICS = ["start_s", "warmup_s", "peak_rss_mb"]
TRACE_METRICS = ["unattributed_jobs", "attributed_pct", "overhead_pct"]

END_TO_END = [("wall_s", "s"), ("setup_s", "s")]


def key_span(key: str, n: int = 1) -> str:
    """Span of the ``n``-th timed call of a session key."""
    name = f"{SESSION_KEYS[key]}.{key}"
    return name if n == 1 else f"{name}#{n}"


def per_layer_metrics() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, in report order."""
    out = []
    for layer, names in LAYER_METRICS.items():
        out += [(f"{layer}.{m}", UNITS[m]) for m in names]
    for key in SESSION_KEYS:
        out += [(f"{key_span(key)}.{m}", UNITS[m]) for m in ["cold_s", *KEY_METRICS]]
    out += [(f"session.{m}", UNITS[m]) for m in SESSION_METRICS]
    out += [(f"trace.{m}", UNITS[m]) for m in TRACE_METRICS]
    return out
