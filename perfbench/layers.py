"""Metric definitions of the benchmark, and per-layer metrics from a
traced run's spans.

``END_TO_END`` and ``PER_LAYER`` are the one source of every metric's
name, unit and direction; ``run.py`` refuses to run if ``BENCHMARK.json``
lists anything else. ``LAYER_MAP`` says which end-to-end metric each
per-layer metric should move, and on which workload.

Every per-layer value is per measured pass (the mean over the traced
passes) unless it is a ratio. Ratios name their bases in ``PER_LAYER``.
"""

from __future__ import annotations

import json

# name -> (unit, better, definition)
END_TO_END = {
    "setup_s": ("s", "lower", "wall time from the worker process's spawn until the session is ready "
                "and the warm-up is finished (interpreter, imports, JVM, SparkSession, "
                "tune_for_session, warm-up); input generation runs before the spawn and is excluded"),
    "wall_s": ("s", "lower", "time for one measured pass (the sum of its operation latencies); "
               "the median over the run's measured passes"),
    "op_geomean_s": ("s", "lower", "geometric mean of the latency of every measured operation"),
    "rows_per_s": ("1/s", "higher", "rows handled per second of operation time: analytics result rows "
                   "collected, ingest rows landed (both paths), corpus_pipeline input documents"),
    "live_heap_mb": ("MB", "lower", "driver JVM heap still in use after a full GC at the end of the run: "
                     "what the run left cached (persisted blocks, broadcasts, catalog state)"),
}

# name -> (unit, better, definition)
PER_LAYER = {
    "catalog.load_table.calls": ("count", "lower", "catalog.load_table calls"),
    "catalog.load_table.s": ("s", "lower", "time inside catalog.load_table"),
    "queries.build_s": ("s", "lower", "time building query DataFrames (registry call)"),
    "queries.build_jobs": ("count", "lower", "Spark jobs fired while building (eager side jobs)"),
    "queries.build_share": ("ratio", "lower", "queries.build_s / trace.wall_s"),
    "spark.plan_s": ("s", "lower", "optimization + physical planning of the built plan (executedPlan); analytics only"),
    "spark.exec_s": ("s", "lower", "union of the op's Spark job run intervals"),
    "spark.jobs": ("count", "lower", "Spark jobs in the ops' job groups"),
    "spark.stages": ("count", "lower", "stages run (skipped stages excluded)"),
    "spark.tasks": ("count", "lower", "tasks of those stages"),
    "spark.failed_tasks": ("count", "lower", "failed tasks"),
    "spark.task_run_s": ("s", "lower", "executor run time summed over tasks"),
    "spark.task_cpu_s": ("s", "lower", "executor CPU time summed over tasks"),
    "spark.gc_s": ("s", "lower", "JVM GC time summed over tasks"),
    "spark.shuffle_write_bytes": ("bytes", "lower", "shuffle bytes written"),
    "spark.spill_bytes": ("bytes", "lower", "memory + disk bytes spilled"),
    "spark.core_util": ("ratio", "higher", "spark.task_run_s / (trace.wall_s * cores)"),
    "pipeline.rows_exported": ("count", "higher", "sum of the export manifest's n_samples"),
    "pipeline.export_bytes": ("bytes", "lower", "sum of the export manifest's n_bytes"),
    "sources.export.download_s": ("s", "lower", "ExportClient.download_results time"),
    "sources.export.bytes": ("bytes", "lower", "bytes downloaded into staging"),
    "sources.checkpoint.lookup_s": ("s", "lower", "JobIdCheckpoint.find_previous_job_id time"),
    "sources.checkpoint.append_s": ("s", "lower", "JobIdCheckpoint.append time"),
    "sources.sink_s": ("s", "lower", "parquet_sink time"),
    "sources.sink.rows": ("count", "higher", "rows the sink reports landed"),
    "sources.sink.bytes_out": ("bytes", "lower", "parquet bytes the sink wrote"),
    "sources.jobs_per_drop": ("count", "lower", "Spark jobs per process_raw_dump call (ingest batch ops)"),
    "streaming.drain_s": ("s", "lower", "stream_feed start to termination"),
    "streaming.batches": ("count", "lower", "micro-batches that ran addBatch"),
    "streaming.latest_offset_ms": ("ms", "lower", "recentProgress durationMs.latestOffset"),
    "streaming.query_planning_ms": ("ms", "lower", "recentProgress durationMs.queryPlanning"),
    "streaming.add_batch_ms": ("ms", "lower", "recentProgress durationMs.addBatch"),
    "streaming.wal_commit_ms": ("ms", "lower", "recentProgress durationMs.walCommit"),
    "streaming.trigger_ms": ("ms", "lower", "recentProgress durationMs.triggerExecution"),
    "streaming.fixed_share": ("ratio", "lower", "(trigger_ms - add_batch_ms) / trigger_ms"),
    "process.cpu_s": ("s", "lower", "CPU time during operations of every process of the run's session: "
                      "the worker, the Spark JVM, the pyspark daemon and its Python workers"),
    "jvm.peak_rss_mb": ("MB", "lower", "VmHWM of the Spark driver JVM at the end of the run (whole run, not per pass)"),
    "trace.wall_s": ("s", "lower", "traced pass wall (sum of op latencies)"),
    "trace.untraced_wall_s": ("s", "lower", "untraced pass wall in the same process"),
    "trace.overhead_s": ("s", "lower", "trace.wall_s - trace.untraced_wall_s"),
    "trace.overhead_share": ("ratio", "lower", "trace.overhead_s / trace.untraced_wall_s"),
}

# (per-layer metrics, end-to-end metrics they should move, workload, note)
LAYER_MAP = (
    (("catalog.load_table.calls", "catalog.load_table.s"), "wall_s, op_geomean_s", "analytics",
     "1 call per corpus_pipeline op, 0 on ingest"),
    (("queries.build_s", "queries.build_jobs", "queries.build_share"), "wall_s, op_geomean_s",
     "analytics", "eager side jobs in x96 and x174"),
    (("spark.plan_s",), "op_geomean_s", "analytics", ""),
    (("spark.exec_s", "spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
      "spark.task_run_s", "spark.task_cpu_s", "spark.gc_s", "spark.shuffle_write_bytes",
      "spark.spill_bytes", "spark.core_util"), "wall_s", "analytics, corpus_pipeline",
     "spark.jobs also moves ingest op_geomean_s (fixed per-job cost of small drops)"),
    (("pipeline.rows_exported", "pipeline.export_bytes"), "rows_per_s, wall_s", "corpus_pipeline",
     "an observe()-based stage funnel should lower spark.jobs here"),
    (("sources.checkpoint.lookup_s", "sources.checkpoint.append_s", "sources.jobs_per_drop"),
     "op_geomean_s", "ingest (batch ops, incremental drops)", ""),
    (("sources.export.download_s", "sources.export.bytes", "sources.sink_s", "sources.sink.rows",
      "sources.sink.bytes_out"), "rows_per_s", "ingest (backfill drops)", ""),
    (("streaming.drain_s", "streaming.batches", "streaming.latest_offset_ms",
      "streaming.query_planning_ms", "streaming.add_batch_ms", "streaming.wal_commit_ms",
      "streaming.trigger_ms", "streaming.fixed_share"), "op_geomean_s, rows_per_s",
     "ingest (stream ops)", "a StreamingQueryListener must leave these unmoved"),
    (("process.cpu_s", "jvm.peak_rss_mb"), "wall_s, live_heap_mb", "all", ""),
    (("trace.wall_s", "trace.untraced_wall_s", "trace.overhead_s", "trace.overhead_share"),
     "none (tracing overhead)", "all", "traced pass minus an untraced pass of the same process"),
)
MOVES = {m: (moves, wl) for names, moves, wl, _note in LAYER_MAP for m in names}
assert sorted(MOVES) == sorted(PER_LAYER), "LAYER_MAP must name every per-layer metric once"


def check_benchmark(path: str) -> list[str]:
    """Where ``BENCHMARK.json`` disagrees with ``END_TO_END``/``PER_LAYER``
    on a metric's name, unit or direction (empty if it agrees)."""
    with open(path) as fh:
        bench = json.load(fh)
    errors = []
    for key, defs in (("end_to_end", END_TO_END), ("per_layer", PER_LAYER)):
        listed = {m["name"]: (m["unit"], m["better"]) for m in bench[key]}
        want = {name: d[:2] for name, d in defs.items()}
        if listed != want:
            diff = sorted(set(listed.items()) ^ set(want.items()))
            errors.append(f"BENCHMARK.json {key} differs from layers.py: {diff}")
    return errors


_PROGRESS = {
    "streaming.latest_offset_ms": "latestOffset",
    "streaming.query_planning_ms": "queryPlanning",
    "streaming.add_batch_ms": "addBatch",
    "streaming.wal_commit_ms": "walCommit",
    "streaming.trigger_ms": "triggerExecution",
}


def _dur(span) -> float:
    return span["end"] - span["start"]


def self_times(spans: list[dict]) -> dict[str, float]:
    """Each span name's self time: its duration minus its direct
    children's durations, summed over all spans of that name."""
    child = [0.0] * len(spans)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += _dur(s)
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        out[s["name"]] = out.get(s["name"], 0.0) + _dur(s) - child[i]
    return out


def per_layer(workload: str, spans, traced_walls, untraced_wall, cores, peak_rss_mb) -> dict:
    n_pass = len(traced_walls)
    wall = sum(traced_walls) / n_pass
    by_name: dict[str, list[dict]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)

    def total(name, key=None):
        return sum((s.get(key) or 0) if key else _dur(s) for s in by_name.get(name, ()))

    ops = by_name.get("op", [])
    spark = {}
    for o in ops:
        for k, v in o["spark"].items():
            spark[k] = spark.get(k, 0) + v
    progress = [p for s in by_name.get("streaming.drain", []) for p in s.get("progress", ())]
    prog = {m: sum(p.get(k, 0) for p in progress) for m, k in _PROGRESS.items()}

    v = {
        "catalog.load_table.calls": len(by_name.get("catalog.load_table", ())),
        "catalog.load_table.s": total("catalog.load_table"),
        "queries.build_s": total("queries.build"),
        "queries.build_jobs": total("queries.build", "jobs"),
        "spark.plan_s": total("spark.plan"),
        "pipeline.rows_exported": total("pipeline.run", "rows_exported"),
        "pipeline.export_bytes": total("pipeline.run", "export_bytes"),
        "sources.export.download_s": total("sources.export.download"),
        "sources.export.bytes": total("sources.export.download", "bytes"),
        "sources.checkpoint.lookup_s": total("sources.checkpoint.lookup"),
        "sources.checkpoint.append_s": total("sources.checkpoint.append"),
        "sources.sink_s": total("sources.sink"),
        "sources.sink.rows": total("sources.sink", "rows"),
        "sources.sink.bytes_out": total("sources.sink", "bytes_out"),
        "streaming.drain_s": total("streaming.drain"),
        "streaming.batches": sum(1 for p in progress if "addBatch" in p),
        "process.cpu_s": total("op", "cpu_s"),
        **prog,
    }
    for k in ("exec_s", "jobs", "stages", "tasks", "failed_tasks", "task_run_s",
              "task_cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes"):
        v[f"spark.{k}"] = spark.get(k, 0)
    v = {k: x / n_pass for k, x in v.items()}
    v["queries.build_share"] = v["queries.build_s"] / wall
    v["spark.core_util"] = v["spark.task_run_s"] / (wall * cores)
    drops = [o for o in ops if o["kind"].startswith("batch:")]
    v["sources.jobs_per_drop"] = (
        sum(o["spark"]["jobs"] for o in drops) / len(drops) if drops else 0.0
    )
    trig = prog["streaming.trigger_ms"]
    v["streaming.fixed_share"] = (trig - prog["streaming.add_batch_ms"]) / trig if trig else 0.0
    v["jvm.peak_rss_mb"] = peak_rss_mb
    v["trace.wall_s"] = wall
    v["trace.untraced_wall_s"] = untraced_wall
    v["trace.overhead_s"] = wall - untraced_wall
    v["trace.overhead_share"] = (wall - untraced_wall) / untraced_wall
    return {k: (v[k], PER_LAYER[k][0]) for k in PER_LAYER}
