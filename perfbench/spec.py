"""What the benchmark reports: workloads, metrics, units, and the map from
each per-layer metric to the end-to-end metric it should move.

``BENCHMARK.json`` at the repository root is generated from these tables
(``python3 perfbench/spec.py > BENCHMARK.json``); ``selftest.py`` checks
that the two agree. Every per-layer metric is better lower.
"""

from __future__ import annotations

import json

RUN_SECONDS = 3

WORKLOADS = {
    "sql_ra_tpch": (
        "Reference queries as RA and SQL text plus TPC-H joins and windows: "
        "Catalyst planning, JVM joins and shuffles, no Python stages; control "
        "for build-time and Python-stage changes"
    ),
    "curation_ingest": (
        "ANN search, MinHash dedup and WARC write/read/decode ops: build-time "
        "jobs, Arrow Python stages and file writes dominate; control for "
        "planning and shuffle changes"
    ),
}

# name -> (unit, better, bound). setup_s: process start to ready
# (imports, get_spark, register_all). cold_pass_s: the first pass after
# set-up. Over the measured warm passes: ops_per_s = ops per pass / the
# sum of each op's median latency; slowest_op_s = the largest per-op
# median latency. A run has 10-24 warm samples: too few for a percentile
# beyond the median to be a tail, and the median itself jumps between
# the latency clusters of the ops, so it is in the report only.
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "cold_pass_s": ("s", "lower", 0.25),
    "ops_per_s": ("op/s", "higher", 0.25),
    "slowest_op_s": ("s", "lower", 0.25),
}

# Ops of each workload, in the order a pass lists them before the
# seeded shuffle. ``ra.*`` / ``sql.*`` are the four reference queries
# sent as RA text and as SQL text; ``warc_roundtrip`` writes a seeded
# ``documents`` subset with the WARC writer and reads it back; every
# other name is a registry query from ``queries()``.
TEXT_QUERIES = ("q1_point", "q2_cnr", "q3_filters", "q4_reversed")
OPS = {
    "sql_ra_tpch": tuple(
        f"{front}.{q}" for q in TEXT_QUERIES for front in ("ra", "sql")
    ) + (
        "tpch_q3_shipping_priority",
        "tpch_q18_large_volume",
        "tpch_q21_suppliers_kept_waiting",
        "stream_session_windows",
    ),
    "curation_ingest": (
        "warc_roundtrip",
        "src_warc_gz_scan",
        "src_warc_request_log",
        "sim_ann_topk",
        "dedup_minhash_lsh",
    ),
}


def op_metric(op: str) -> str:
    return "op." + op.replace(".", "_") + "_s"


# name -> (unit, end-to-end metric it should move, where the work is)
LAYERS = {
    "process.peak_rss_mb": ("MB", "none: peak VmHWM of the driver JVM plus the Python driver", "all"),
    "session.get_spark_s": ("s", "setup_s", "all alike"),
    "catalog.register_all_s": ("s", "setup_s", "all alike"),
    "catalog.jobs": ("count", "setup_s", "all alike"),
    "ra.parse_s": ("s", "ops_per_s", "sql_ra_tpch; none elsewhere"),
    "ra.resolve_s": ("s", "ops_per_s", "sql_ra_tpch; none elsewhere"),
    "engine.sql_s": ("s", "ops_per_s", "sql_ra_tpch; none elsewhere"),
    "catalyst.analysis_s": ("s", "ops_per_s", "sql_ra_tpch -> curation_ingest"),
    "catalyst.optimization_s": ("s", "ops_per_s", "sql_ra_tpch -> curation_ingest"),
    "catalyst.planning_s": ("s", "ops_per_s", "sql_ra_tpch -> curation_ingest"),
    "queries.build_s": ("s", "ops_per_s", "curation_ingest -> sql_ra_tpch"),
    "queries.build_jobs": ("count", "ops_per_s", "curation_ingest -> sql_ra_tpch (0)"),
    "queries.cold_build_jobs": ("count", "cold_pass_s", "curation_ingest -> sql_ra_tpch"),
    "queries.build_share": ("ratio", "ops_per_s", "curation_ingest -> sql_ra_tpch"),
    "exec.collect_s": ("s", "ops_per_s", "all"),
    "exec.jobs": ("count", "ops_per_s", "sql_ra_tpch"),
    "exec.stages": ("count", "ops_per_s", "sql_ra_tpch"),
    "exec.tasks": ("count", "ops_per_s", "sql_ra_tpch"),
    "exec.scheduler_delay_s": ("s", "ops_per_s", "sql_ra_tpch"),
    "exec.run_s": ("s", "ops_per_s", "all"),
    "exec.cpu_s": ("s", "ops_per_s", "all"),
    "exec.gc_s": ("s", "ops_per_s", "all"),
    "exec.shuffle_write_mb": ("MB", "slowest_op_s", "sql_ra_tpch, curation_ingest"),
    "exec.spill_mb": ("MB", "slowest_op_s", "sql_ra_tpch, curation_ingest"),
    "exec.python_stages": ("count", "ops_per_s", "curation_ingest -> sql_ra_tpch (0)"),
    "exec.python_mb": ("MB", "ops_per_s", "curation_ingest -> sql_ra_tpch (0)"),
    "exec.result_mb": ("MB", "ops_per_s", "sql_ra_tpch"),
    "exec.failed_tasks": ("count", "failed_ops_ratio", "all"),
    "sources.write_s": ("s", "cold_pass_s", "curation_ingest -> sql_ra_tpch (0)"),
    "sources.write_mb": ("MB", "ops_per_s", "curation_ingest -> sql_ra_tpch (0)"),
    "sources.write_amp": ("ratio", "ops_per_s", "curation_ingest -> sql_ra_tpch (0)"),
    "sources.read_s": ("s", "ops_per_s", "curation_ingest -> sql_ra_tpch (0)"),
    "sources.null_reject_ratio": ("ratio", "none: a rise is data silently dropped", "curation_ingest"),
    "failed_ops_ratio": ("ratio", "failed_ops_ratio", "all"),
    "trace.uncovered_share": ("ratio", "none: op time no span covers", "all"),
    "trace.overhead_s": ("s", "none: traced minus untraced warm pass", "all"),
    "trace.overhead_share": ("ratio", "none: overhead over untraced warm pass", "all"),
}
for _w, _ops in OPS.items():
    for _op in _ops:
        LAYERS[op_metric(_op)] = ("s", "ops_per_s", _w)


def benchmark_json() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": w, "why": why} for w, why in WORKLOADS.items()],
        "end_to_end": [
            {"name": k, "unit": u, "better": b, "bound": bound}
            for k, (u, b, bound) in END_TO_END.items()
        ],
        "per_layer": [
            {"name": k, "unit": u, "better": "lower"} for k, (u, _m, _w) in LAYERS.items()
        ],
    }


if __name__ == "__main__":
    print(json.dumps(benchmark_json(), indent=2))
