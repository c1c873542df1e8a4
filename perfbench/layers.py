"""Per-layer metrics of a traced run, and which end-to-end metric each
one should move.

Times are per timed operation (self time, so the ``_s`` layers of one
operation add up to its wall time); counts are per timed operation too.
Job, stage and task figures come from Spark's event log, where every job
carries the ``"<op>|<span>"`` group the tracer set when it was submitted.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

# name -> (unit, better, module, what it should move)
PER_LAYER = {
    "session.launch_s": ("s", "lower", "session (JVM and SparkContext start)",
                         "nothing bounded; paid once per process, before set-up"),
    "session.start_s": ("s", "lower", "session (SparkSession over the context)",
                        "setup_s on every workload"),
    "catalog.register_s": ("s", "lower", "catalog / sources.remote_engine",
                           "setup_s on every workload"),
    "engine.rewrite_s": ("s/op", "lower", "engine, functions.rewrite",
                         "op_p50_s on sql_pipeline, read_p50_s on federated_rw"),
    "engine.sql_s": ("s/op", "lower", "engine (front door, gate, routing)",
                     "op_p50_s on sql_pipeline, read_p50_s on federated_rw"),
    "build_s": ("s/op", "lower", "queries, operators (driver construction)",
                "op_p50_s and ops_per_s on sql_pipeline"),
    "build.eager_jobs": ("count/op", "lower", "queries, operators",
                         "op_p50_s and ops_per_s on sql_pipeline"),
    "py4j.round_trips": ("count/op", "lower", "queries, operators",
                         "op_p50_s and ops_per_s on sql_pipeline"),
    "catalyst.analysis_ms": ("ms/op", "lower", "Spark Catalyst",
                             "op_p50_s on sql_pipeline"),
    "catalyst.optimization_ms": ("ms/op", "lower", "Spark Catalyst",
                                 "op_p50_s on sql_pipeline"),
    "catalyst.planning_ms": ("ms/op", "lower", "Spark Catalyst",
                             "op_p50_s on sql_pipeline"),
    "exec.action_s": ("s/op", "lower", "execution",
                      "ops_per_s and op_p90_s on sql_pipeline"),
    "collect.arrow_s": ("s/op", "lower", "execution (Arrow hand-back)",
                        "ops_per_s and op_p90_s on sql_pipeline"),
    "exec.jobs": ("count/op", "lower", "execution",
                  "ops_per_s and op_p90_s on sql_pipeline"),
    "exec.stages": ("count/op", "lower", "execution",
                    "ops_per_s and op_p90_s on sql_pipeline"),
    "exec.tasks": ("count/op", "lower", "execution",
                   "ops_per_s and op_p90_s on sql_pipeline"),
    "exec.failed_tasks": ("count/op", "lower", "execution",
                          "op_p90_s on every workload"),
    "exec.executor_cpu_s": ("s/op", "lower", "execution",
                            "ops_per_s and op_p90_s on sql_pipeline"),
    "exec.shuffle_write_bytes": ("B/op", "lower", "execution",
                                 "ops_per_s and op_p90_s on sql_pipeline"),
    "exec.spill_bytes": ("B/op", "lower", "execution",
                         "op_p90_s and driver_peak_rss_mb on sql_pipeline"),
    "remote.execute_s": ("s/op", "lower", "sources.remote_engine",
                         "read_p50_s on federated_rw"),
    "remote.execute_calls": ("count/op", "higher", "sources.remote_engine",
                             "read_p50_s on federated_rw"),
    "remote.stream_s": ("s/op", "lower", "sources.remote_engine",
                        "read_p50_s on federated_rw"),
    "remote.stream_batches": ("count/op", "lower", "sources.remote_engine",
                              "read_p50_s on federated_rw"),
    "remote.insert_s": ("s/op", "lower", "sources.remote_engine, engine write plane",
                        "write_rows_per_s and ops_per_s on federated_rw"),
    "remote.insert_rows": ("rows/op", "higher", "sources.remote_engine",
                           "write_rows_per_s on federated_rw"),
    "remote.fallbacks": ("count/op", "lower", "engine federation gate",
                         "read_p50_s on federated_rw"),
    "remote.ship_ratio": ("ratio", "higher", "engine federation gate",
                          "read_p50_s on federated_rw"),
    "sink.insert_s": ("s/op", "lower", "sink",
                      "write_rows_per_s and ops_per_s on federated_rw"),
    "sink.rows": ("rows/op", "higher", "sink",
                  "write_rows_per_s on federated_rw"),
    "sink.jobs": ("count/op", "lower", "sink",
                  "write_rows_per_s on federated_rw"),
    "jvm.gc_s": ("s", "lower", "JVM",
                 "driver_peak_rss_mb and op_p90_s on every workload"),
    "jvm.heap_used_mb": ("MB", "lower", "JVM",
                         "driver_peak_rss_mb on every workload"),
    "unattributed_s": ("s/op", "lower", "benchmark harness (outside every layer)",
                       "nothing; must stay under 5% of op wall time"),
    "trace.coverage": ("ratio", "higher", "benchmark harness",
                       "nothing; layer self times over op wall time, >= 0.95"),
    "trace.ops_per_s": ("1/s", "higher", "benchmark harness",
                        "nothing; ops_per_s minus this is the tracing overhead"),
}

# spans in which a Spark job counts as fired during construction
BUILD_SPANS = {"build", "engine.sql", "engine.rewrite", "remote.execute",
               "remote.stream", "remote.insert"}


def per_layer(tracer, timed, setups, launch_s, remote_stats, gc_s, heap_mb,
              ops_per_s, groups) -> dict[str, tuple[float, str]]:
    n = max(len(timed), 1)
    ids = {r.op_id for r in timed}
    selft = tracer.self_times()
    self_sum: dict[str, float] = defaultdict(float)
    for i in ids:
        for k, v in selft.get(i, {}).items():
            self_sum[k] += v
    ev: dict[str, float] = defaultdict(float)
    for group, m in groups.items():
        op, _, span = group.partition("|")
        if op not in ids:
            continue
        for k, v in m.items():
            ev[k] += v
        if span in BUILD_SPANS:
            ev["eager_jobs"] += m["jobs"]
        if span == "sink.insert":
            ev["sink_jobs"] += m["jobs"]
    phases = [r.phases for r in timed if r.phases]
    shippable = [r for r in timed if r.op.shippable]
    reached = [r for r in shippable if r.route]
    fallbacks = [r for r in timed if r.op.route is not None
                 and r.op.target != "sink" and not r.route]
    wall = self_sum["wall_s"] or 1e-9

    def phase(name):
        return statistics.fmean(p[name] for p in phases) if phases else 0.0

    values = {
        "session.launch_s": launch_s,
        "session.start_s": statistics.median(s[1] for s in setups),
        "catalog.register_s": statistics.median(s[2] for s in setups),
        "catalyst.analysis_ms": phase("analysis"),
        "catalyst.optimization_ms": phase("optimization"),
        "catalyst.planning_ms": phase("planning"),
        "build.eager_jobs": ev["eager_jobs"] / n,
        "py4j.round_trips": sum(tracer.round_trips.get(i, 0) for i in ids) / n,
        "exec.jobs": ev["jobs"] / n,
        "exec.stages": ev["stages"] / n,
        "exec.tasks": ev["tasks"] / n,
        "exec.failed_tasks": ev["failed_tasks"] / n,
        "exec.executor_cpu_s": ev["cpu_s"] / n,
        "exec.shuffle_write_bytes": ev["shuffle_write_bytes"] / n,
        "exec.spill_bytes": ev["spill_bytes"] / n,
        "remote.execute_calls": remote_stats.get("execute_calls", 0) / n,
        "remote.stream_batches": remote_stats.get("stream_batches", 0) / n,
        "remote.insert_rows": remote_stats.get("insert_rows", 0) / n,
        "remote.fallbacks": len(fallbacks) / n,
        "remote.ship_ratio": len(reached) / len(shippable) if shippable else 0.0,
        "sink.rows": sum(r.op.rows for r in timed
                         if r.ok and r.op.target == "sink") / n,
        "sink.jobs": ev["sink_jobs"] / n,
        "jvm.gc_s": gc_s,
        "jvm.heap_used_mb": heap_mb,
        "trace.coverage": 1.0 - self_sum["unattributed_s"] / wall,
        "trace.ops_per_s": ops_per_s,
    }
    for span_metric in ("build_s", "engine.sql_s", "engine.rewrite_s",
                        "remote.execute_s", "remote.stream_s", "remote.insert_s",
                        "sink.insert_s", "exec.action_s", "collect.arrow_s",
                        "unattributed_s"):
        values[span_metric] = self_sum[span_metric] / n
    return {k: (values[k], PER_LAYER[k][0]) for k in PER_LAYER}
