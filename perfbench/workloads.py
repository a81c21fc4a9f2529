"""The benchmark's workloads: which operations each one issues.

An operation is one registered query (its construction call plus the final
``noop`` write) or one ``pipeline_job.run_pipeline`` call. ``--seed``
shuffles the order of the operations within each pass; the input data are
always the committed seed-42 fixtures under ``perfbench/fixtures``. Why each
workload exists is in BENCHMARK.json and README.md.
"""

from __future__ import annotations

PIPELINE = "run_pipeline"

WORKLOADS: dict[str, list[str]] = {
    # the paper's daily job plus one-shot queries whose time sits
    # mostly in the final action (Catalyst and executors)
    "single_pass": [
        PIPELINE,
        "q1_pricing_summary",
        "q21_waiting_suppliers",
        "events_sessionization",
        "events_pairwise_correlation",
    ],
    # time sits before the final action: fixpoint rounds with their
    # convergence-check jobs, and stream drains run inside the query
    # function (staging, micro-batches, state store, commits)
    "loops_streams": [
        "parts_copurchase_sssp_converged",
        "orders_sql_script_threshold",
        "events_stream_late_data",
    ],
}
