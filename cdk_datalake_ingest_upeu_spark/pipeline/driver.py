"""End-to-end pipeline driver — replaces the reference's orchestration.

The reference drives extract -> light-transform -> crawler through Step
Functions Maps with per-job 30 s polling
(``stacks/cdk_datalake_ingest_upeu_group_stack.py:288-566``). Inside one
Spark application those become plain loops/thread pools over table
specs; Spark actions are synchronous, so the polling layer disappears.

``TableProcessor.process_table`` is the light-transform lifecycle
(``light_transform.py:1423-1564``): read raw -> (empty? schema-only
stage + warning) -> single-select transforms with severity thresholds ->
latest-row dedup -> orderBy -> MERGE or overwrite -> compaction.
It adds no count pass of its own: the empty check reads the first split
only, ``rows_in`` is an ``Observation`` that the write's own pass over
the batch (or a partitioned MERGE's partition-value collect) fills in,
and ``rows_out`` sums the stage's parquet footers (driver-side, no Spark
job).

``RunLog`` replaces the DynamoDB run-log records
(``light_transform.py:278-339``) with a JSONL sink.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import traceback
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cdk_datalake_ingest_upeu_spark.config.models import ColumnSpec, TableSpec
from cdk_datalake_ingest_upeu_spark.functions.engine import TransformationEngine
from cdk_datalake_ingest_upeu_spark.functions.registry import spark_type_for
from cdk_datalake_ingest_upeu_spark.operators.stage_writer import StageTable, dedup_latest


def _process_type_for(status: str) -> str:
    """Status -> ops process-type label (light_transform.py:423-432)."""
    status = status.upper()
    if status == "RUNNING":
        return "incremental"
    if status == "SUCCESS":
        return "completed"
    if status == "WARNING":
        return "incremental_with_warnings"
    return "error_handling"


def _truncate_context(data, max_length: int = 1000, _depth: int = 0):
    """Bound context payload size (light_transform.py:387-421): strings
    clipped, dicts capped at 10 keys, lists at 10 items."""
    if isinstance(data, str):
        return data[:max_length] + "...[TRUNCATED]" if len(data) > max_length else data
    if isinstance(data, dict):
        out = {k: _truncate_context(v, 500, _depth + 1) for k, v in list(data.items())[:10]}
        if len(data) > 10:
            out["_truncated_items"] = f"...and {len(data) - 10} more items"
        return out
    if isinstance(data, (list, tuple)):
        out = [_truncate_context(v, 500, _depth + 1) for v in data[:10]]
        if len(data) > 10:
            out.append(f"...and {len(data) - 10} more items")
        return out
    return data


class RunLog:
    """Structured run log (JSONL sink replacing the reference's DynamoDB
    table, field structure per ``light_transform.py:278-339``): every
    record carries PROCESS_ID (team-datasource-endpoint-table), a
    run-stable PROCESS_GUID, STATUS, PROCESS_TYPE, and a size-bounded
    CONTEXT — the fields the reference's ops alerting keys on."""

    def __init__(
        self,
        path: str | None,
        *,
        team: str = "",
        data_source: str = "",
        endpoint_name: str = "",
        environment: str = "",
        resource_name: str = "",
    ):
        self.path = path
        self.team = team
        self.data_source = data_source
        self.endpoint_name = endpoint_name
        self.environment = environment
        self.resource_name = resource_name
        self.process_guid = uuid.uuid4().hex

    def record(self, *, table: str = "", status: str = "", context=None, **fields) -> str:
        """Append one structured record; returns its PROCESS_ID."""
        process_id = "-".join(
            p for p in (self.team, self.data_source, self.endpoint_name, table) if p
        ).lower()
        if not self.path:
            return process_id
        now = dt.datetime.now(dt.timezone.utc)
        rec = {
            "PROCESS_ID": process_id,
            "PROCESS_GUID": self.process_guid,
            "DATE_SYSTEM": now.strftime("%Y%m%d_%H%M%S_%f"),
            "RESOURCE_NAME": self.resource_name or "unknown_job",
            "RESOURCE_TYPE": "spark_job",
            "STATUS": (status or "").upper(),
            "PROCESS_TYPE": _process_type_for(status or ""),
            "CONTEXT": _truncate_context(context or {}),
            "TEAM": self.team,
            "DATASOURCE": self.data_source,
            "ENDPOINT_NAME": self.endpoint_name,
            "TABLE_NAME": table,
            "ENVIRONMENT": self.environment,
            "LOG_CREATED_AT": now.strftime("%Y-%m-%d %H:%M:%S"),
            **{k.upper(): v for k, v in fields.items()},
        }
        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        with open(self.path, "a", encoding="utf-8") as fh:
            fh.write(json.dumps(rec) + "\n")
        return process_id


@dataclass
class ProcessOutcome:
    table: str
    status: str  # SUCCESS | WARNING | FAILED
    rows_in: int = 0
    rows_out: int = 0
    warnings: int = 0
    error: str = ""
    retryable: bool = False  # FAILED only: transient (re-run may succeed)


# Deterministic failures: re-running the identical Spark job cannot
# change the outcome, so the driver must not burn retries (and cluster
# time) on them. Everything else — executor loss, I/O, throttling — is
# presumed transient.
def _is_retryable(exc: BaseException) -> bool:
    from cdk_datalake_ingest_upeu_spark.functions.engine import TransformError

    deterministic: tuple[type[BaseException], ...] = (
        TransformError,
        ValueError,
        KeyError,
        TypeError,
    )
    try:
        from pyspark.errors import AnalysisException, ParseException

        deterministic = deterministic + (AnalysisException, ParseException)
    except ImportError:  # pragma: no cover - pyspark always present here
        pass
    return not isinstance(exc, deterministic)


class TableProcessor:
    def __init__(
        self,
        spark: SparkSession,
        stage_root: str,
        run_log: RunLog | None = None,
    ):
        self.spark = spark
        self.stage_root = os.fspath(stage_root)
        self.engine = TransformationEngine()
        self.run_log = run_log or RunLog(None)

    def stage_table(self, spec: TableSpec, columns: list[ColumnSpec]) -> StageTable:
        partition_cols = [c.name for c in columns if c.is_partition]
        path = os.path.join(self.stage_root, spec.stage_table_name)
        return StageTable(self.spark, path, partition_cols)

    def empty_schema(self, columns: list[ColumnSpec]) -> T.StructType:
        return T.StructType(
            [
                T.StructField(c.name, spark_type_for(c.data_type), True)
                for c in sorted(columns, key=lambda x: x.column_id)
            ]
        )

    def process_table(
        self,
        raw_df: DataFrame,
        spec: TableSpec,
        columns: list[ColumnSpec],
        *,
        optimize: bool = False,
    ) -> ProcessOutcome:
        table = spec.stage_table_name
        stage = self.stage_table(spec, columns)
        try:
            # one job over the first split, not a full count
            if raw_df.isEmpty():
                # Empty source: materialize a schema-only stage table once,
                # report WARNING (reference light_transform.py:1444-1462).
                if not stage.exists():
                    stage.write_empty(
                        self.spark.createDataFrame([], self.empty_schema(columns))
                    )
                outcome = ProcessOutcome(table, "WARNING", 0, 0, 0, "no data to process")
                self.run_log.record(table=table, status=outcome.status, message=outcome.error)
                return outcome

            id_cols = [c.name for c in columns if c.is_id]
            date_cols = [c.name for c in columns if c.is_filter_date]
            order_cols = [c.name for c in columns if c.is_order_by]

            # rows_in is counted by the write's own pass over the batch, at
            # a plan node no other job of the load re-runs. With a dedup,
            # that is the raw scan below the dedup's shuffle. Without one
            # the rows are the raw rows, and the count goes above the
            # orderBy: the range-sampling job of a global sort re-runs the
            # plan under it. The count is exact unless Spark re-runs a task
            # of that stage (stage retry, speculation), which overcounts.
            rows_seen = Observation()
            dedups = bool(id_cols and date_cols)

            def observed(df: DataFrame) -> DataFrame:
                return df.observe(rows_seen, F.count(F.lit(1)).alias("rows"))

            result = self.engine.apply(observed(raw_df) if dedups else raw_df, columns)
            final = dedup_latest(result.df, id_cols, date_cols)
            if order_cols:
                final = final.orderBy(*order_cols)
            if not dedups:
                final = observed(final)

            # days_off joins the MERGE set deliberately: its trailing
            # NUM_DAYS window re-extracts overlapping data every run, so
            # upsert is the only semantics that preserves older rows (the
            # reference's stage writer, light_transform.py:1554, merges
            # only incremental/between-date — overwriting a days_off
            # table with a 10-day slice would drop its history). merge
            # creates a missing table itself, so neither branch has to
            # look at the stage first.
            if spec.load_type in ("incremental", "between-date", "days_off") and id_cols:
                stage.merge(final, id_cols)
            else:
                stage.overwrite(final)
            if optimize:
                stage.optimize()

            # rows_seen.get blocks until the observed plan has run. Every
            # path that gets here ran it: the write itself, or, for a
            # partitioned MERGE, the collect of partition values over the
            # persisted source (which runs even when no write follows).
            rows_in = rows_seen.get["rows"]
            rows_out = stage.num_rows()
            status = "WARNING" if result.warnings else "SUCCESS"
            outcome = ProcessOutcome(table, status, rows_in, rows_out, len(result.warnings))
            self.run_log.record(
                table=table,
                status=status,
                context={
                    "rows_in": rows_in,
                    "rows_out": rows_out,
                    "warnings": result.warnings,
                    "load_type": spec.load_type,
                },
            )
            return outcome
        except Exception as exc:
            self.run_log.record(table=table, status="FAILED", message=str(exc))
            return ProcessOutcome(
                table,
                "FAILED",
                error=f"{exc}\n{traceback.format_exc()}",
                retryable=_is_retryable(exc),
            )


class PipelineDriver:
    """Process groups of tables (the reference's PROCESS_ID grouping) with
    bounded concurrency and simple retries (Step Functions Map analog).

    ``on_alert`` is the SNS-notification analog (reference
    ``light_transform.py:434-481``): called once per table whose final
    outcome is FAILED — after retries are exhausted, never per attempt —
    with the ProcessOutcome. Alert failures are swallowed (an alerting
    outage must not fail the pipeline, same stance as the reference's
    try/except around SNS publish)."""

    def __init__(
        self,
        processor: TableProcessor,
        *,
        max_parallel_tables: int = 4,
        retries: int = 2,
        on_alert=None,
    ):
        self.processor = processor
        self.max_parallel_tables = max_parallel_tables
        self.retries = retries
        self.on_alert = on_alert

    def run_group(
        self,
        jobs: list[tuple[DataFrame, TableSpec, list[ColumnSpec]]],
    ) -> list[ProcessOutcome]:
        def run_one(job):
            raw_df, spec, columns = job
            outcome = None
            for _ in range(self.retries + 1):
                outcome = self.processor.process_table(raw_df, spec, columns)
                if outcome.status != "FAILED":
                    return outcome
                if not outcome.retryable:
                    # deterministic failure (bad transform expression,
                    # missing column): identical re-runs cannot succeed
                    break
            if self.on_alert is not None:
                try:
                    self.on_alert(outcome)
                except Exception:  # noqa: BLE001 - alerting must not fail the run
                    pass
            return outcome

        with ThreadPoolExecutor(max_workers=self.max_parallel_tables) as pool:
            return list(pool.map(run_one, jobs))
