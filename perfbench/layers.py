"""Per-layer metrics: which spans they come from, how they aggregate and
which end-to-end metric each should move.

Each entry is ``(name, unit, better, span, field, per, target)``:

- ``span``: the span name the value is read from (``bench.op`` is the
  benchmark's own span around one op);
- ``field``: ``duration``, ``self`` (duration minus the time child spans
  cover) or a count recorded on the span;
- ``per``: ``call`` takes the median over span occurrences, ``op``
  first sums the occurrences inside one op, then takes the median over
  ops;
- ``target``: the end-to-end metric and workload the value should move
  (documentation, also printed by ``steady.py --layers``).

Only spans of FULL (traced) ops contribute. A layer a workload does not
load reports 0.
"""

from __future__ import annotations

T_LOAD = "latency_s on full_reload"
T_MERGE = "latency_s on incremental_merge"
T_READ = "latency_s on versioned_read_write"
T_COMMIT = "commit_s.p50 on versioned_read_write"

SPANS = {
    # span name -> (module attribute path, method) wrapped by run.py
    "functions.apply": ("functions.engine", "TransformationEngine.apply"),
    "operators.dedup_latest": ("pipeline.driver", "dedup_latest"),
    "sources.read": ("sources.files", "read_raw_parquet"),
    "sources.scan": ("sources.jdbc", "ParquetTableSource.scan"),
    "sources.land": ("sources.files", "write_raw_parquet"),
    "plans.strategy": ("plans.strategy", "determine_load_strategy"),
    "plans.watermark": ("plans.watermark", "WatermarkStore.get|begin|confirm|rollback|reset"),
    "streaming.run": ("streaming.incremental", "IncrementalRunner.run"),
    "pipeline.run_group": ("pipeline.driver", "PipelineDriver.run_group"),
    "pipeline.process_table": ("pipeline.driver", "TableProcessor.process_table"),
    "operators.stage_overwrite": ("operators.stage_writer", "StageTable.overwrite"),
    "operators.stage_merge": ("operators.stage_writer", "StageTable.merge"),
    "operators.stage_read": ("operators.stage_writer", "StageTable.read"),
    "versioned.lookup": ("operators.versioned", "VersionedStageTable.lookup"),
    "versioned.read": ("operators.versioned", "VersionedStageTable.read"),
    "versioned.merge": ("operators.versioned", "VersionedStageTable.merge"),
}

# spans whose Spark jobs and tasks are reported per layer
JOB_SPANS = [
    "bench.op", "pipeline.process_table", "pipeline.run_group", "streaming.run",
    "sources.land", "sources.read", "operators.stage_overwrite", "operators.stage_merge",
    "operators.stage_read_count", "versioned.lookup", "versioned.read", "versioned.merge",
]

PER_LAYER = [
    ("functions.apply_s", "s", "lower", "functions.apply", "duration", "call", T_LOAD),
    ("functions.columns", "count", "higher", "functions.apply", "functions.columns", "call", T_LOAD),
    ("functions.errors", "count", "lower", "functions.apply", "functions.errors", "call", T_LOAD),
    ("operators.dedup_latest_s", "s", "lower", "operators.dedup_latest", "duration", "call", T_LOAD),
    ("sources.read_s", "s", "lower", "sources.read", "duration", "op", f"{T_LOAD}; {T_MERGE}"),
    ("sources.scan_s", "s", "lower", "sources.scan", "duration", "op", f"{T_LOAD}; {T_MERGE}"),
    ("sources.land_s", "s", "lower", "sources.land", "duration", "op", f"{T_LOAD}; {T_MERGE}"),
    ("sources.bytes_landed", "bytes", "lower", "sources.land", "bytes", "op", f"{T_LOAD}; {T_MERGE}"),
    ("plans.strategy_s", "s", "lower", "plans.strategy", "duration", "op", T_MERGE),
    ("plans.watermark_s", "s", "lower", "plans.watermark", "duration", "op", T_MERGE),
    ("streaming.run_self_s", "s", "lower", "streaming.run", "self", "call", T_MERGE),
    ("pipeline.process_table_self_s", "s", "lower", "pipeline.process_table", "self", "call", T_LOAD),
    ("pipeline.run_group_self_s", "s", "lower", "pipeline.run_group", "self", "call", T_LOAD),
    ("operators.stage_overwrite_s", "s", "lower", "operators.stage_overwrite", "duration", "call", T_LOAD),
    ("operators.stage_merge_s", "s", "lower", "operators.stage_merge", "duration", "call", T_MERGE),
    ("operators.stage_read_count_s", "s", "lower", "operators.stage_read_count", "duration", "call",
     f"{T_LOAD}; {T_MERGE}"),
    ("operators.stage_files", "count", "lower", "bench.op", "operators.stage_files", "op",
     f"{T_MERGE}; write_amp"),
    ("operators.stage_bytes_written", "bytes", "lower", "bench.op", "operators.stage_bytes_written", "op",
     f"{T_MERGE}; write_amp"),
    ("versioned.lookup_s", "s", "lower", "versioned.lookup", "duration", "call", T_READ),
    ("versioned.read_s", "s", "lower", "versioned.read", "duration", "call", T_READ),
    ("versioned.files_scanned", "count", "lower", "bench.op", "versioned.files_scanned", "op", T_READ),
    ("versioned.rows_per_file_scanned", "1/file", "higher", "bench.op", "versioned.rows_per_file_scanned",
     "op", T_READ),
    ("versioned.files_live", "count", "lower", "bench.op", "versioned.files_live", "op", T_READ),
    ("versioned.merge_s", "s", "lower", "versioned.merge", "duration", "call", T_COMMIT),
    ("versioned.files_rewritten", "count", "lower", "bench.op", "versioned.files_rewritten", "op", T_COMMIT),
    ("config.load_s", "s", "lower", None, "setup", "run", "setup_s"),
    ("session.get_spark_s", "s", "lower", None, "setup", "run", "setup_s"),
    ("spark.jobs_per_op", "count", "lower", "*", "spark.jobs", "op", "latency_s"),
    ("spark.tasks_per_op", "count", "lower", "*", "spark.tasks", "op", "latency_s"),
    *[
        (f"spark.{kind}.{span}", "count", "lower", span, f"spark.{kind}", "call", "latency_s")
        for span in JOB_SPANS
        for kind in ("jobs", "tasks")
    ],
    ("trace.spans_per_op", "count", "lower", "*", "spans", "op", "tracing overhead"),
    ("trace.overhead_s", "s", "lower", None, "overhead", "run", "tracing overhead"),
    ("trace.overhead_frac", "ratio", "lower", None, "overhead", "run", "tracing overhead"),
]

# versioned_read_write is runnable but not in BENCHMARK.json (README,
# "Workloads"); the versioned layer's metrics are reported only on it
VERSIONED_WORKLOAD = "versioned_read_write"


def metrics_for(workload: str) -> list:
    """The PER_LAYER entries a ``--trace 1`` run of ``workload`` reports."""
    return [m for m in PER_LAYER if workload == VERSIONED_WORKLOAD or "versioned." not in m[0]]
