"""Workload definitions shared by the harness (run.py) and the engine
process (worker.py)."""

from __future__ import annotations

# Headline queries (registry ``headline=True``) of two kinds. Text
# plans, where Python-side plan building, py4j traffic and eager barriers
# inside ``build()`` are a large share of the wall ...
TEXT = (
    "text_minhash_lsh_pairs",
    "text_vocab_coverage",
)
# ... and fact-bound plans, whose time is per-row scan, aggregate and
# join work over lineitem / orders (outputs small enough to check
# quickly).
FACTS = (
    "q1_pricing_summary",
    "q5_local_supplier_volume",
)

WORKLOADS = {
    "headline_mixed": {
        "kind": "queries",
        "queries": TEXT + FACTS,
        # sf0.1 star corpus with lineitem / orders grown by 3
        # key-shifted copies; documents at sf0.01
        "data": {"sf": 0.1, "copies": 3, "text_sf": 0.01},
    },
    "ingest_incremental": {
        "kind": "ingest",
        "data": {
            "batches": 2,
            "files_per_batch": 3,
            "rows_per_file": 4000,
            "redeliver": 1,
        },
    },
}

# Timed passes per run: at least MIN_PASSES, more while the run's
# --seconds last, at most MAX_PASSES.
MIN_PASSES = 3
MAX_PASSES = 12

# name -> (unit, better). run.py prints exactly these names: the
# end-to-end ones with --trace 0, the per-layer ones with --trace 1.
END_TO_END = {
    "pass_s": ("s", "lower"),
    "op_geomean_s": ("s", "lower"),
    "setup_s": ("s", "lower"),
}
PER_LAYER = {
    "plans.import_s": ("s", "lower"),
    "session.start_s": ("s", "lower"),
    "trace.pass_s": ("s", "lower"),
    "plans.build_s": ("s", "lower"),
    "plans.py4j_calls": ("count", "lower"),
    "plans.build_jobs": ("count", "lower"),
    "catalyst.analysis_ms": ("ms", "lower"),
    "catalyst.optimization_ms": ("ms", "lower"),
    "catalyst.planning_ms": ("ms", "lower"),
    "catalyst.plan_s": ("s", "lower"),
    "exec.s": ("s", "lower"),
    "exec.stages": ("count", "lower"),
    "exec.tasks": ("count", "lower"),
    "exec.executor_run_s": ("s", "lower"),
    "exec.executor_cpu_s": ("s", "lower"),
    "exec.jvm_gc_s": ("s", "lower"),
    "exec.shuffle_read_bytes": ("bytes", "lower"),
    "exec.shuffle_write_bytes": ("bytes", "lower"),
    "exec.spill_bytes": ("bytes", "lower"),
    "io.scan_rows": ("count", "lower"),
    "session.persisted_rdds": ("count", "lower"),
    "proc.cpu_s": ("s", "lower"),
    "proc.peak_rss_mb": ("MB", "lower"),
    "ingest.run_ingest_s": ("s", "lower"),
    "sinks.append_s": ("s", "lower"),
    "sinks.key_scan_s": ("s", "lower"),
    "sinks.jobs_per_append": ("count", "lower"),
    "sinks.key_scan_rows": ("count", "lower"),
    "sinks.bytes_written": ("bytes", "lower"),
    "sinks.files_written": ("count", "lower"),
    "sinks.stored_bytes_per_input_byte": ("ratio", "lower"),
    "incremental.new_ratio": ("ratio", "higher"),
}
