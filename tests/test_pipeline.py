import os

import pytest

from pyspark.sql import functions as F

from cdk_datalake_ingest_upeu_spark.config.models import ColumnSpec, TableSpec
from cdk_datalake_ingest_upeu_spark.pipeline.driver import RunLog, TableProcessor
from cdk_datalake_ingest_upeu_spark.plans.strategy import LoadMode
from cdk_datalake_ingest_upeu_spark.plans.watermark import WatermarkStore
from cdk_datalake_ingest_upeu_spark.streaming.incremental import IncrementalRunner

COLS = [
    ColumnSpec("id", 1, "int", "fn_transform_Integer(id)", is_id=True, is_order_by=True),
    ColumnSpec("name", 2, "string", "fn_transform_ClearString(name,$NN)"),
    ColumnSpec("updated", 3, "timestamp", "fn_transform_Datetime(updated)", is_filter_date=True),
]


def spec(load_type="full"):
    return TableSpec(stage_table_name="t1", source_table="t1", load_type=load_type)


def raw(spark, rows):
    return spark.createDataFrame(rows, "id string, name string, updated string")


def test_full_load_then_incremental_merge(spark, tmp_path):
    p = TableProcessor(spark, os.path.join(tmp_path, "stage"))
    r1 = raw(
        spark,
        [("1", "a", "2024-01-01 00:00:00"), ("2", "None", "2024-01-01 00:00:00")],
    )
    out = p.process_table(r1, spec("full"), COLS)
    assert out.status == "SUCCESS" and out.rows_out == 2

    stage = p.stage_table(spec(), COLS)
    got = {r.id: r.name for r in stage.read().collect()}
    assert got == {1: "a", 2: "NN"}  # ClearString default applied

    # incremental batch updates id=2, inserts id=3
    r2 = raw(spark, [("2", "bb", "2024-02-01 00:00:00"), ("3", "c", "2024-02-01 00:00:00")])
    out2 = p.process_table(r2, spec("incremental"), COLS)
    assert out2.status == "SUCCESS" and out2.rows_out == 3
    got2 = {r.id: r.name for r in stage.read().collect()}
    assert got2 == {1: "a", 2: "bb", 3: "c"}


def test_dedup_window_keeps_latest_version(spark, tmp_path):
    p = TableProcessor(spark, os.path.join(tmp_path, "stage"))
    r1 = raw(
        spark,
        [
            ("1", "old", "2024-01-01 00:00:00"),
            ("1", "new", "2024-03-01 00:00:00"),
        ],
    )
    out = p.process_table(r1, spec("full"), COLS)
    assert out.rows_out == 1
    got = p.stage_table(spec(), COLS).read().collect()
    assert got[0].name == "new"


def test_empty_source_creates_schema_only_stage(spark, tmp_path):
    p = TableProcessor(spark, os.path.join(tmp_path, "stage"))
    empty = raw(spark, []).limit(0)
    out = p.process_table(empty, spec("full"), COLS)
    assert out.status == "WARNING"
    stage = p.stage_table(spec(), COLS)
    got = stage.read()
    assert got.count() == 0
    assert [f.name for f in got.schema.fields] == ["id", "name", "updated"]


def test_run_log_records(spark, tmp_path):
    """Structured record parity with the reference's DynamoDB log
    (light_transform.py:278-339): PROCESS_ID from
    team-datasource-endpoint-table, STATUS/PROCESS_TYPE mapping, bounded
    CONTEXT."""
    import json

    log_path = os.path.join(tmp_path, "log.jsonl")
    log = RunLog(
        log_path,
        team="bi",
        data_source="erp",
        endpoint_name="PEUPEU",
        environment="DEV",
        resource_name="stage_job",
    )
    p = TableProcessor(spark, os.path.join(tmp_path, "stage"), log)
    p.process_table(raw(spark, [("1", "a", "2024-01-01 00:00:00")]), spec(), COLS)
    rec = json.loads(open(log_path).read().splitlines()[-1])
    assert rec["PROCESS_ID"] == "bi-erp-peupeu-t1"
    assert rec["STATUS"] == "SUCCESS" and rec["PROCESS_TYPE"] == "completed"
    assert rec["CONTEXT"]["rows_in"] == 1 and rec["TABLE_NAME"] == "t1"
    assert rec["RESOURCE_NAME"] == "stage_job" and rec["ENVIRONMENT"] == "DEV"
    assert len(rec["PROCESS_GUID"]) == 32

    # oversized context is truncated, not rejected
    pid = log.record(table="t1", status="FAILED", context={"blob": "x" * 5000})
    assert pid == "bi-erp-peupeu-t1"
    rec2 = json.loads(open(log_path).read().splitlines()[-1])
    assert rec2["CONTEXT"]["blob"].endswith("...[TRUNCATED]")
    assert rec2["PROCESS_TYPE"] == "error_handling"


def test_driver_does_not_retry_deterministic_failures(spark, tmp_path):
    """A bad transform expression fails identically every run; the group
    driver must not re-run the full Spark job for it. Transient failures
    still get retried."""
    from cdk_datalake_ingest_upeu_spark.pipeline.driver import PipelineDriver

    p = TableProcessor(spark, os.path.join(tmp_path, "stage"))
    calls = {"n": 0}
    orig = p.process_table

    def counting(raw_df, spec_, columns, **kw):
        calls["n"] += 1
        return orig(raw_df, spec_, columns, **kw)

    p.process_table = counting
    bad_cols = [ColumnSpec("id", 1, "int", "fn_transform_NoSuchFunction(id)", is_id=True)]
    driver = PipelineDriver(p, retries=2)
    out = driver.run_group([(raw(spark, [("1", "a", "2024-01-01 00:00:00")]), spec(), bad_cols)])
    assert out[0].status == "FAILED" and not out[0].retryable
    assert calls["n"] == 1  # no retry burned on a deterministic error

    # transient failure (generic RuntimeError) retries up to the limit
    def flaky(raw_df, spec_, columns, **kw):
        calls["n"] += 1
        raise_if = calls["n"] < 3
        if raise_if:
            from cdk_datalake_ingest_upeu_spark.pipeline.driver import ProcessOutcome

            return ProcessOutcome("t1", "FAILED", error="boom", retryable=True)
        return orig(raw_df, spec_, columns, **kw)

    calls["n"] = 0
    p.process_table = flaky
    out2 = driver.run_group([(raw(spark, [("1", "a", "2024-01-01 00:00:00")]), spec(), COLS)])
    assert out2[0].status == "SUCCESS" and calls["n"] == 3


def test_incremental_runner_watermark_flow(spark, tmp_path):
    ev = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "id int, seq int"
    )
    store = WatermarkStore(os.path.join(tmp_path, "wm.json"))
    runner = IncrementalRunner(store, table="ev", column="seq")
    landed = []

    n1 = runner.run(lambda: ev.filter(F.col("seq") <= 20), lambda df: landed.append(df.count()))
    assert n1 == 2 and store.get("ev", "seq") == 20

    # second run sees the full table but only ingests above the mark
    n2 = runner.run(lambda: ev, lambda df: landed.append(df.count()))
    assert n2 == 1 and store.get("ev", "seq") == 30

    # nothing new -> no-op, mark unchanged
    n3 = runner.run(lambda: ev, lambda df: landed.append(df.count()))
    assert n3 == 0 and store.get("ev", "seq") == 30


def test_incremental_runner_rolls_back_on_sink_failure(spark, tmp_path):
    ev = spark.createDataFrame([(1, 10)], "id int, seq int")
    store = WatermarkStore(os.path.join(tmp_path, "wm.json"))
    runner = IncrementalRunner(store, table="ev", column="seq")

    def bad_sink(df):
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError):
        runner.run(lambda: ev, bad_sink)
    assert store.get("ev", "seq") is None  # rolled back

    runner.run(lambda: ev, lambda df: None)
    assert store.get("ev", "seq") == 10


def test_incremental_runner_reset_mode(spark, tmp_path):
    ev = spark.createDataFrame([(1, 10), (2, 20)], "id int, seq int")
    store = WatermarkStore(os.path.join(tmp_path, "wm.json"))
    runner = IncrementalRunner(store, table="ev", column="seq")
    runner.run(lambda: ev, lambda df: None)
    assert store.get("ev", "seq") == 20
    # RESET re-ingests everything
    n = runner.run(lambda: ev, lambda df: None, mode=LoadMode.RESET)
    assert n == 2


def test_incremental_runner_reprocess_keeps_watermark(spark, tmp_path):
    """REPROCESS re-lands rows above the mark WITHOUT advancing it, so
    the next NORMAL run sees the same window again (reference I3)."""
    store = WatermarkStore(os.path.join(tmp_path, "wm.json"))
    runner = IncrementalRunner(store, table="ev", column="seq")
    ev1 = spark.createDataFrame([(1, 10), (2, 20)], "id int, seq int")
    runner.run(lambda: ev1, lambda df: None)
    assert store.get("ev", "seq") == 20

    ev2 = spark.createDataFrame([(1, 10), (2, 20), (3, 25), (4, 30)], "id int, seq int")
    n = runner.run(lambda: ev2, lambda df: None, mode=LoadMode.REPROCESS)
    assert n == 2  # rows above the mark land again
    assert store.get("ev", "seq") == 20  # mark unchanged

    n2 = runner.run(lambda: ev2, lambda df: None)  # NORMAL advances
    assert n2 == 2 and store.get("ev", "seq") == 30


def test_on_alert_fires_once_per_failed_table(spark, tmp_path):
    """The SNS analog: one alert per FAILED final outcome (not per retry
    attempt), none for successes, and an alert exception never fails the
    run."""
    import os as _os

    from cdk_datalake_ingest_upeu_spark.pipeline.driver import PipelineDriver

    alerts = []

    def boom_alert(outcome):
        alerts.append(outcome.table)
        raise RuntimeError("alert channel down")

    p = TableProcessor(spark, _os.path.join(tmp_path, "stage"))
    bad_cols = [
        ColumnSpec("id", 1, "int", "fn_transform_NoSuchFunction(id)", is_id=True)
    ]
    driver = PipelineDriver(p, max_parallel_tables=2, retries=1, on_alert=boom_alert)
    rows = [("1", "a", "2024-01-01 00:00:00")]
    good = TableSpec(stage_table_name="good_t", source_table="good_t", load_type="full")
    bad = TableSpec(stage_table_name="bad_t", source_table="bad_t", load_type="full")
    outcomes = driver.run_group(
        [(raw(spark, rows), good, COLS), (raw(spark, rows), bad, bad_cols)]
    )
    by_status = {o.table: o.status for o in outcomes}
    assert by_status["good_t"] == "SUCCESS"
    assert by_status["bad_t"] == "FAILED"
    assert alerts == ["bad_t"]


PCOLS = COLS + [ColumnSpec("dt", 4, "string", "dt", is_partition=True)]


def parquet_raw(spark, path, rows):
    """A raw batch read back from parquet, as the pipeline lands it."""
    schema = "id string, name string, updated string, dt string"
    spark.createDataFrame(rows, schema).write.parquet(str(path))
    return spark.read.parquet(str(path))


# three raw rows, two ids after the latest-row dedup
BATCH = [
    ("1", "a", "2024-01-01 00:00:00", "d1"),
    ("1", "b", "2024-02-01 00:00:00", "d1"),
    ("2", "c", "2024-02-01 00:00:00", "d2"),
]


# no filter-date column, so no dedup: the orderBy sorts the raw rows
UNDEDUPED = [c for c in COLS if not c.is_filter_date]


@pytest.mark.parametrize(
    "load_type,cols,preload,optimize",
    [
        ("full", COLS, False, False),
        ("full", PCOLS, False, False),
        ("full", UNDEDUPED, False, False),
        ("incremental", COLS, False, False),
        ("incremental", PCOLS, True, False),
        ("incremental", COLS, True, False),
        ("full", COLS, False, True),
    ],
    ids=[
        "overwrite",
        "overwrite_partitioned",
        "overwrite_sorted_without_dedup",
        "merge_into_missing_table",
        "merge_partitioned",
        "merge_unpartitioned",
        "optimize",
    ],
)
def test_row_counts_match_the_stage(spark, tmp_path, load_type, cols, preload, optimize):
    """rows_in is the raw batch's row count and rows_out the stage's,
    in the outcome and in the run log, on every write path."""
    import json

    log_path = os.path.join(tmp_path, "log.jsonl")
    p = TableProcessor(spark, os.path.join(tmp_path, "stage"), RunLog(log_path))
    if preload:
        old = parquet_raw(
            spark,
            tmp_path / "old",
            [("1", "z", "2023-01-01 00:00:00", "d1"), ("5", "y", "2023-01-01 00:00:00", "d3")],
        )
        assert p.process_table(old, spec("full"), cols).status == "SUCCESS"
    out = p.process_table(
        parquet_raw(spark, tmp_path / "raw", BATCH), spec(load_type), cols, optimize=optimize
    )
    rows_out = p.stage_table(spec(), cols).read().count()
    assert out.status == "SUCCESS"
    assert (out.rows_in, out.rows_out) == (3, rows_out)
    assert rows_out == (3 if preload or cols is UNDEDUPED else 2)
    context = json.loads(open(log_path).read().splitlines()[-1])["CONTEXT"]
    assert (context["rows_in"], context["rows_out"]) == (3, rows_out)


def test_empty_batch_leaves_existing_table_alone(spark, tmp_path):
    p = TableProcessor(spark, os.path.join(tmp_path, "stage"))
    p.process_table(parquet_raw(spark, tmp_path / "raw", BATCH), spec("full"), PCOLS)
    stage = p.stage_table(spec(), PCOLS)

    def files():
        return sorted(os.path.join(d, f) for d, _s, fs in os.walk(stage.path) for f in fs)

    before = (files(), sorted(stage.read().collect()))
    out = p.process_table(parquet_raw(spark, tmp_path / "empty", []), spec("full"), PCOLS)
    assert (out.status, out.rows_in, out.rows_out) == ("WARNING", 0, 0)
    assert (files(), sorted(stage.read().collect())) == before


def test_process_table_reads_the_stage_at_most_once(spark, tmp_path, monkeypatch):
    """An overwrite never reads the stage; a MERGE reads it once, for
    its target. Neither reads it again to count rows."""
    from cdk_datalake_ingest_upeu_spark.operators.stage_writer import StageTable

    reads = []
    orig = StageTable.read

    def counting_read(self):
        reads.append(self.path)
        return orig(self)

    monkeypatch.setattr(StageTable, "read", counting_read)
    p = TableProcessor(spark, os.path.join(tmp_path, "stage"))
    p.process_table(parquet_raw(spark, tmp_path / "raw", BATCH), spec("full"), COLS)
    assert len(reads) == 0
    p.process_table(parquet_raw(spark, tmp_path / "raw2", BATCH[:1]), spec("incremental"), COLS)
    assert len(reads) == 1
