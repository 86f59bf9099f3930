import os

import pytest
from pyspark.sql import functions as F

from cdk_datalake_ingest_upeu_spark.operators.stage_writer import (
    StageTable,
    dedup_latest,
    merge_upsert,
)


def test_dedup_latest_keeps_newest(spark):
    df = spark.createDataFrame(
        [(1, "2024-01-01", "old"), (1, "2024-02-01", "new"), (2, "2024-01-15", "only")],
        "id int, updated string, payload string",
    )
    out = dedup_latest(df, ["id"], ["updated"]).orderBy("id").collect()
    assert [(r.id, r.payload) for r in out] == [(1, "new"), (2, "only")]


def test_dedup_latest_noop_without_keys(spark):
    df = spark.createDataFrame([(1,), (1,)], "id int")
    assert dedup_latest(df, [], ["id"]).count() == 2


def test_merge_upsert_semantics(spark):
    target = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id int, v string"
    )
    source = spark.createDataFrame([(2, "B"), (4, "D")], "id int, v string")
    out = {r.id: r.v for r in merge_upsert(target, source, ["id"]).collect()}
    assert out == {1: "a", 2: "B", 3: "c", 4: "D"}


def _data_files(path):
    """relative path -> mtime (ns) of every parquet data file under path"""
    return {
        os.path.relpath(os.path.join(root, f), path): os.stat(
            os.path.join(root, f)
        ).st_mtime_ns
        for root, _dirs, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    }


def test_stage_table_overwrite_and_merge(spark, tmp_path):
    path = os.path.join(tmp_path, "tbl")
    stage = StageTable(spark, path)
    assert not stage.exists()

    t0 = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    stage.overwrite(t0)
    assert stage.exists()
    assert stage.read().count() == 2

    # unpartitioned: every file replaced; exact duplicate source rows
    # collapse to one
    batch = spark.createDataFrame(
        [(2, "B"), (3, "C"), (3, "C")], "id int, v string"
    )
    stage.merge(batch, ["id"])
    out = sorted((r.id, r.v) for r in stage.read().collect())
    assert out == [(1, "a"), (2, "B"), (3, "C")]
    assert os.listdir(tmp_path) == ["tbl"]  # no staged copy


def test_stage_table_partitioned_merge_rewrites_only_touched(spark, tmp_path):
    path = os.path.join(tmp_path, "ptbl")
    stage = StageTable(spark, path, partition_columns=["dt"])
    t0 = spark.createDataFrame(
        [(1, "a", "d1"), (2, "b", "d1"), (3, "c", "d2"), (4, "d", "d3")],
        "id int, v string, dt string",
    )
    stage.overwrite(t0)
    before = _data_files(path)
    # the batch touches d1 (late updates to an older partition, one
    # sent twice verbatim) and a new partition d4; d2 and d3 are untouched
    batch = spark.createDataFrame(
        [
            (2, "B", "d1"),
            (2, "B", "d1"),
            (9, "X", "d1"),
            (5, "e", "d4"),
            (6, "f", "d4"),
        ],
        "id int, v string, dt string",
    )
    stage.merge(batch, ["id"])
    out = sorted((r.id, r.v, r.dt) for r in stage.read().collect())
    assert out == [
        (1, "a", "d1"),
        (2, "B", "d1"),
        (3, "c", "d2"),
        (4, "d", "d3"),
        (5, "e", "d4"),
        (6, "f", "d4"),
        (9, "X", "d1"),
    ]
    after = _data_files(path)
    untouched = {f: m for f, m in before.items() if not f.startswith("dt=d1")}
    assert untouched and all(after.get(f) == m for f, m in untouched.items())
    # written once, straight onto the table: no staged sibling, and one
    # file per rewritten partition
    assert os.listdir(tmp_path) == ["ptbl"]
    for part in ("dt=d1", "dt=d4"):
        written = [f for f in after if f.startswith(part + os.sep)]
        assert len(written) == 1, (part, written)
        assert written[0] not in before


def test_stage_table_merge_on_missing_table_creates(spark, tmp_path):
    # a missing path and an empty directory both read as "no table yet"
    empty = os.path.join(tmp_path, "empty")
    os.makedirs(empty)
    for path in (os.path.join(tmp_path, "fresh"), empty):
        stage = StageTable(spark, path)
        assert not stage.exists()
        stage.merge(spark.createDataFrame([(1, "a")], "id int, v string"), ["id"])
        assert stage.read().count() == 1


def test_merge_propagates_read_errors_and_keeps_table(spark, tmp_path, monkeypatch):
    """Only a missing or empty table reads as absent. Any other read
    error must fail the MERGE, not turn it into an overwrite that
    replaces the table's history with one batch."""
    path = os.path.join(tmp_path, "kept")
    stage = StageTable(spark, path, partition_columns=["dt"])
    stage.overwrite(
        spark.createDataFrame([(1, "a", "d1"), (2, "b", "d2")], "id int, v string, dt string")
    )
    before = _data_files(path)

    def failing_read():
        raise OSError("Input/output error")

    monkeypatch.setattr(stage, "read", failing_read)
    with pytest.raises(OSError):
        stage.exists()
    with pytest.raises(OSError):
        stage.merge(
            spark.createDataFrame([(3, "c", "d3")], "id int, v string, dt string"), ["id"]
        )
    assert _data_files(path) == before


def test_delete_keys_drops_emptied_partitions(spark, tmp_path):
    """The full-table delete rewrite replaces every file of the table,
    whatever the session's partition-overwrite default: a partition whose
    every row is deleted disappears instead of keeping its old files."""
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") == "dynamic"
    path = os.path.join(tmp_path, "del")
    stage = StageTable(spark, path, partition_columns=["dt"])
    stage.overwrite(
        spark.createDataFrame(
            [(1, "a", "d1"), (2, "b", "d2"), (3, "c", "d2")], "id int, v string, dt string"
        )
    )
    assert stage.delete_keys(spark.createDataFrame([(1,)], "id int"), ["id"]) == -1
    assert sorted(r.id for r in stage.read().collect()) == [2, 3]
    assert not os.path.exists(os.path.join(path, "dt=d1"))


@pytest.mark.parametrize("partition_columns", [[], ["dt"]])
def test_failed_write_keeps_previous_table(spark, tmp_path, partition_columns):
    """Nothing is unlinked before the write job commits: a full load or a
    MERGE whose job fails leaves the previous table readable."""
    path = os.path.join(tmp_path, "kept")
    stage = StageTable(spark, path, partition_columns=partition_columns)
    stage.overwrite(
        spark.createDataFrame([(1, "a", "d1"), (2, "b", "d1")], "id int, v string, dt string")
    )
    batch = spark.createDataFrame(
        [(2, "B", "d1"), (3, "C", "d1")], "id int, v string, dt string"
    ).withColumn(
        "v", F.when(F.col("id") == 3, F.raise_error(F.lit("boom"))).otherwise(F.col("v"))
    )
    with pytest.raises(Exception, match="boom"):
        stage.overwrite(batch)
    with pytest.raises(Exception, match="boom"):
        stage.merge(batch, ["id"])
    assert sorted(r.id for r in stage.read().collect()) == [1, 2]


def test_full_reload_drops_partitions_the_load_lacks(spark, tmp_path):
    """A full load replaces the table even though the session's partition
    overwrite default is dynamic."""
    path = os.path.join(tmp_path, "reload")
    stage = StageTable(spark, path, partition_columns=["dt"])
    stage.overwrite(
        spark.createDataFrame([(1, "a", "d1"), (2, "b", "d2")], "id int, v string, dt string")
    )
    stage.overwrite(spark.createDataFrame([(3, "c", "d2")], "id int, v string, dt string"))
    assert [r.id for r in stage.read().collect()] == [3]
    assert not os.path.exists(os.path.join(path, "dt=d1"))


@pytest.mark.parametrize("partition_columns", [[], ["dt"]])
def test_uri_root_replaces_instead_of_appending(spark, tmp_path, partition_columns):
    """A ``file:`` URI root is the local table it names: a reload and a
    MERGE replace rows, they do not pile up next to the old files."""
    local = os.path.join(tmp_path, "uri")
    stage = StageTable(spark, "file://" + local, partition_columns=partition_columns)
    schema = "id int, v string, dt string"
    load = spark.createDataFrame([(1, "a", "d1"), (2, "b", "d2")], schema)
    stage.overwrite(load)
    stage.overwrite(load)
    stage.merge(spark.createDataFrame([(2, "B", "d2"), (3, "c", "d2")], schema), ["id"])
    got = sorted((r.id, r.v) for r in stage.read().collect())
    assert got == [(1, "a"), (2, "B"), (3, "c")]
    if partition_columns:
        assert stage.drop_partitions("dt", before="d2") == 1
        assert sorted(os.listdir(local)) == ["._SUCCESS.crc", "_SUCCESS", "dt=d2"]


@pytest.mark.parametrize("where", ["path", "bloom_index_dir"])
def test_non_local_root_is_refused(spark, tmp_path, where):
    """Listing an ``s3a://`` root with ``os`` would find no files, so
    every replace would append; the table refuses such a root instead."""
    kwargs = {"path": os.path.join(tmp_path, "t"), where: "s3a://bucket/stage"}
    with pytest.raises(ValueError, match="'s3a'"):
        StageTable(spark, **kwargs)


def test_bloom_bounded_delete_in_escaped_partition(spark, tmp_path):
    """The Bloom index names files by percent-encoded URI; a partition
    value Spark escapes in its directory name must still be found."""
    stage = StageTable(
        spark, os.path.join(tmp_path, "esc"), partition_columns=["dt"], bloom_index_keys=["id"]
    )
    stage.overwrite(spark.createDataFrame([(1, "a b:c"), (2, "a b:c"), (3, "x")], "id int, dt string"))
    assert stage.delete_keys(spark.createDataFrame([(1,)], "id int"), ["id"]) == 1
    assert sorted((r.id, r.dt) for r in stage.read().collect()) == [(2, "a b:c"), (3, "x")]


def test_lookup_in_partitioned_table_returns_partition_column(spark, tmp_path):
    """lookup opens the index's percent-encoded URIs as local files under
    the table root, so an escaped partition value is found and every
    hit keeps its partition column."""
    stage = StageTable(
        spark, os.path.join(tmp_path, "lk"), partition_columns=["dt"], bloom_index_keys=["id"]
    )
    stage.overwrite(spark.createDataFrame([(1, "a b:c"), (2, "x")], "id int, dt string"))
    for key, dt in ((1, "a b:c"), (2, "x")):
        rows, _scanned, _total = stage.lookup(spark.createDataFrame([(key,)], "id int"), "id")
        assert [(r.id, r.dt) for r in rows.collect()] == [(key, dt)]


def test_write_empty_preserves_schema(spark, tmp_path):
    path = os.path.join(tmp_path, "empty")
    stage = StageTable(spark, path)
    df = spark.createDataFrame([(1, 2.0)], "id int, v double")
    stage.write_empty(df)
    got = stage.read()
    assert got.count() == 0
    assert [f.name for f in got.schema.fields] == ["id", "v"]


def test_optimize_compacts_files(spark, tmp_path):
    path = os.path.join(tmp_path, "opt")
    stage = StageTable(spark, path)
    stage.overwrite(spark.range(1000).repartition(16).withColumn("v", F.rand(42)))
    n_before = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    stage.optimize(target_partitions=2)
    n_after = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    assert n_after <= 2 < n_before
    assert stage.read().count() == 1000


def test_optimize_partitioned_table_writes_one_file_per_partition(spark, tmp_path):
    path = os.path.join(tmp_path, "optp")
    stage = StageTable(spark, path, partition_columns=["dt"])
    rows = spark.range(100).selectExpr("id", "CAST(id % 2 AS STRING) AS dt")
    # four small files per partition, as appends from outside would leave
    rows.repartition(4).write.partitionBy("dt").parquet(path)
    with pytest.raises(ValueError, match="target_partitions"):
        stage.optimize(target_partitions=1)
    stage.optimize()
    for dt in ("0", "1"):
        files = os.listdir(os.path.join(path, f"dt={dt}"))
        assert len([f for f in files if f.endswith(".parquet")]) == 1
    assert stage.read().count() == 100


def test_register_creates_catalog_table(spark, tmp_path):
    path = os.path.join(tmp_path, "reg")
    stage = StageTable(spark, path)
    stage.overwrite(spark.createDataFrame([(1, "a"), (2, "b")], "id int, name string"))
    stage.register("reg_stage_tbl")
    try:
        got = spark.sql("SELECT id, name FROM reg_stage_tbl ORDER BY id").collect()
        assert [(r.id, r.name) for r in got] == [(1, "a"), (2, "b")]
        assert spark.catalog.tableExists("reg_stage_tbl")
    finally:
        spark.sql("DROP TABLE IF EXISTS reg_stage_tbl")


def test_dedupe_column_names(spark):
    from cdk_datalake_ingest_upeu_spark.sources.files import dedupe_column_names

    df = spark.createDataFrame([(1, 2, 3, 4)], "a int, b int, c int, d int").toDF(
        "id", "id", "v", "id"
    )
    fixed = dedupe_column_names(df)
    assert fixed.columns == ["id", "id_1", "v", "id_2"]
    # no duplicates -> untouched object
    clean = spark.createDataFrame([(1,)], "x int")
    assert dedupe_column_names(clean) is clean


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    import re

    from cdk_datalake_ingest_upeu_spark.sources.files import write_bucketed_table

    left = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    right = spark.range(500).select(F.col("id").alias("k"), (F.col("id") % 7).alias("w"))
    try:
        write_bucketed_table(left, "bk_left", ["k"], num_buckets=4)
        write_bucketed_table(right, "bk_right", ["k"], num_buckets=4)
        # disable broadcast so only bucketing can remove the exchanges
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("bk_left").join(spark.table("bk_right"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert not re.search(r"Exchange hashpartitioning", plan), plan
        assert joined.count() == 500
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS bk_left")
        spark.sql("DROP TABLE IF EXISTS bk_right")


def test_parquet_column_bounds_matches_scan():
    """Footer-stats bounds equal a full-scan MIN/MAX (no data read)."""
    import duckdb

    from cdk_datalake_ingest_upeu_spark.sources.files import parquet_column_bounds

    path = "/root/testdata/sf0.001/events.parquet"
    got = parquet_column_bounds(path, "event_id")
    lo, hi = duckdb.sql(
        f"SELECT min(event_id), max(event_id) FROM '{path}'"
    ).fetchone()
    assert got == (lo, hi)
    assert parquet_column_bounds(path, "no_such_column") is None


def test_range_clustered_write_gives_disjoint_file_envelopes(spark, tmp_path):
    """repartitionByRange + sortWithinPartitions -> per-file min/max
    envelopes that don't overlap, so a filtered read can skip files on
    footer stats alone."""
    import glob

    import pyarrow.parquet as pq

    from cdk_datalake_ingest_upeu_spark.sources.files import write_range_clustered

    df = spark.range(0, 10_000).withColumnRenamed("id", "k")
    out = str(tmp_path / "clustered")
    write_range_clustered(df, out, ["k"], num_files=8)
    envelopes = []
    for f in glob.glob(out + "/*.parquet"):
        meta = pq.ParquetFile(f).metadata
        st = meta.row_group(0).column(0).statistics
        lo, hi = st.min, st.max
        for rg in range(meta.num_row_groups):
            s = meta.row_group(rg).column(0).statistics
            lo, hi = min(lo, s.min), max(hi, s.max)
        envelopes.append((lo, hi))
    envelopes.sort()
    assert len(envelopes) == 8
    for (a_lo, a_hi), (b_lo, b_hi) in zip(envelopes, envelopes[1:]):
        assert a_hi < b_lo  # strictly disjoint


def test_zorder_write_gives_locality_on_both_columns(spark, tmp_path):
    """Z-order layout: every file covers a small hyper-rectangle, so
    BOTH clustered columns get tight per-file min/max envelopes — a
    lexicographic sort would leave the second column's envelopes
    spanning the full range in every file."""
    import glob

    import pyarrow.parquet as pq

    from cdk_datalake_ingest_upeu_spark.sources.files import write_zorder_clustered

    n = 64_000
    df = spark.range(n).select(
        (F.col("id") % 1000).alias("a"),
        ((F.col("id") * 48271) % 1000).alias("b"),
    )
    out = str(tmp_path / "zorder")
    write_zorder_clustered(df, out, ["a", "b"], num_files=16)

    def envelopes(col):
        spans = []
        for f in glob.glob(out + "/*.parquet"):
            md = pq.ParquetFile(f).metadata
            lo = min(
                md.row_group(i).column(
                    [c for c in range(md.num_columns)
                     if md.row_group(i).column(c).path_in_schema == col][0]
                ).statistics.min
                for i in range(md.num_row_groups)
            )
            hi = max(
                md.row_group(i).column(
                    [c for c in range(md.num_columns)
                     if md.row_group(i).column(c).path_in_schema == col][0]
                ).statistics.max
                for i in range(md.num_row_groups)
            )
            spans.append((lo, hi))
        return spans

    for col in ("a", "b"):
        spans = envelopes(col)
        assert len(spans) >= 8
        avg_width = sum(hi - lo for lo, hi in spans) / len(spans)
        # each file covers a small slab of the 0..999 range on BOTH axes
        assert avg_width < 600, (col, avg_width)
        # a point predicate touches a minority of files
        hits = sum(1 for lo, hi in spans if lo <= 500 <= hi)
        assert hits <= len(spans) // 2, (col, hits)


def test_apply_change_feed_iud_semantics(spark, tmp_path):
    """Latest op per key wins: delete removes, update replaces, insert
    adds, and a U-after-D within one feed resurrects the key."""
    from cdk_datalake_ingest_upeu_spark.operators.stage_writer import StageTable

    stage = StageTable(spark, str(tmp_path / "cdc"))
    stage.overwrite(
        spark.createDataFrame(
            [(1, 10.0), (2, 20.0), (3, 30.0)], "k long, v double"
        )
    )
    feed = spark.createDataFrame(
        [
            (1, 0.0, "D", 1),    # delete 1
            (2, 25.0, "U", 1),   # update 2
            (4, 40.0, "I", 1),   # insert 4
            (3, 0.0, "D", 1),    # delete 3 ...
            (3, 33.0, "U", 2),   # ... but a later update wins
        ],
        "k long, v double, op string, seq int",
    )
    stage.apply_change_feed(feed, ["k"], seq_column="seq")
    got = {r.k: r.v for r in stage.read().collect()}
    assert got == {2: 25.0, 3: 33.0, 4: 40.0}


def test_merge_upsert_evolve_schema(spark):
    target = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    source = spark.createDataFrame(
        [(2, "B", "x"), (3, "C", "y")], "id int, v string, extra string"
    )
    # default: strict contract, extra source column dropped
    strict = merge_upsert(target, source, ["id"])
    assert strict.columns == ["id", "v"]
    # evolve: column added, untouched target rows null-backfilled
    out = {
        r.id: (r.v, r.extra)
        for r in merge_upsert(target, source, ["id"], evolve_schema=True).collect()
    }
    assert out == {1: ("a", None), 2: ("B", "x"), 3: ("C", "y")}


def test_apply_change_feed_schema_evolution(spark, tmp_path):
    path = os.path.join(tmp_path, "cdc_evo")
    stage = StageTable(spark, path)
    stage.overwrite(
        spark.createDataFrame([(1, 10.0), (2, 20.0), (3, 30.0)], "id int, bal double")
    )
    feed = spark.createDataFrame(
        [
            (2, 25.0, "gold", "U", 1),
            (3, None, None, "D", 1),
            (4, 40.0, "new", "I", 1),
        ],
        "id int, bal double, segment string, op string, seq int",
    )
    stage.apply_change_feed(feed, ["id"], seq_column="seq", evolve_schema=True)
    out = {r.id: (r.bal, r.segment) for r in stage.read().collect()}
    assert out == {1: (10.0, None), 2: (25.0, "gold"), 4: (40.0, "new")}


def test_dpp_join_plans_runtime_pruning(spark, tmp_path):
    """The partitioned-fact x filtered-dim join must carry a dynamic
    partition pruning subquery into the fact scan — the runtime scan
    reduction stage_dpp_pruned_join exists to demonstrate."""
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("day"), (F.col("id") * 1.0).alias("v")
    )
    path = os.path.join(tmp_path, "fact")
    df.repartition(F.col("day")).write.partitionBy("day").parquet(path)
    fact = spark.read.parquet(path)
    dim = fact.select("day").distinct().filter(F.col("day") % 3 == 0)
    j = fact.join(dim, "day").groupBy("day").count()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()


def test_drop_partitions_is_metadata_only(spark, tmp_path):
    path = os.path.join(tmp_path, "ttl")
    stage = StageTable(spark, path, partition_columns=["day"])
    df = spark.createDataFrame(
        [(i, f"2024-01-{d:02d}") for i in range(40) for d in (5, 10, 15, 20)],
        "id long, day string",
    )
    stage.overwrite(df)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not a partition column"):
        stage.drop_partitions("id", before="x")
    dropped = stage.drop_partitions("day", before="2024-01-12")
    assert dropped == 2  # 05 and 10 expired
    # partition-column inference reads the ISO dir names back as dates
    left = sorted(str(r.day) for r in stage.read().select("day").distinct().collect())
    assert left == ["2024-01-15", "2024-01-20"]
    assert stage.read().count() == 80
    # idempotent: nothing left below the cutoff
    assert stage.drop_partitions("day", before="2024-01-12") == 0


def test_stage_table_bloom_index_maintained_by_writes(spark, tmp_path):
    """bloom_index_keys: every write path rebuilds the per-file index,
    and lookup() prunes through the CURRENT generation's index."""
    path = os.path.join(tmp_path, "btbl")
    st = StageTable(spark, path, bloom_index_keys=["id"])
    df = spark.createDataFrame(
        [(i, i * 10.0) for i in range(2000)], "id long, v double"
    )
    st.overwrite(df.repartition(8, "id"))
    idx_path = os.path.join(str(path) + "__bloom", "id")
    assert spark.read.parquet(idx_path).count() > 0

    keys = spark.createDataFrame([(7,), (1999,)], "id long")
    rows, scanned, total = st.lookup(keys, "id")
    got = {r.id: r.v for r in rows.collect()}
    assert got == {7: 70.0, 1999: 19990.0}
    assert 0 < scanned <= total and total >= 8

    # MERGE rewrites the table -> the index must follow the new files
    src = spark.createDataFrame([(7, -1.0), (5000, 5.0)], "id long, v double")
    st.merge(src, ["id"])
    rows2, scanned2, total2 = st.lookup(
        spark.createDataFrame([(7,), (5000,)], "id long"), "id"
    )
    got2 = {r.id: r.v for r in rows2.collect()}
    assert got2 == {7: -1.0, 5000: 5.0}
    assert scanned2 <= total2

    import pytest as _pytest

    with _pytest.raises(ValueError, match="not bloom-indexed"):
        st.lookup(keys, "v")


def test_bloom_bounded_delete_rewrites_candidate_files_only(spark, tmp_path):
    """A delete on a bloom-indexed key must rewrite ONLY the candidate
    files the index names (O(candidates), not O(table) — the 100 TB
    takedown shape), splice the index incrementally, and keep lookups
    working against the spliced index."""
    import os as _os

    from cdk_datalake_ingest_upeu_spark.operators.stage_writer import StageTable

    path = str(tmp_path / "bounded")
    st = StageTable(spark, path, bloom_index_keys=["k"])
    df = spark.range(0, 2000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    st.overwrite(df.repartition(16, "k"))

    def n_files():
        return sum(
            1
            for _r, _d, fs in _os.walk(path)
            for f in fs
            if f.endswith(".parquet")
        )

    total_before = n_files()
    assert total_before >= 8
    untouched = {
        _os.path.join(r, f)
        for r, _d, fs in _os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    }
    deletes = spark.createDataFrame([(7,), (1234,)], "k long")
    n_rewritten = st.delete_keys(deletes, ["k"])
    # bounded: strictly fewer files than the table holds (2 keys can
    # occupy at most 2 of 16 files, plus negligible bloom FPs)
    assert 0 < n_rewritten < total_before
    # rows gone, everything else intact
    got = st.read()
    assert got.filter(F.col("k").isin(7, 1234)).count() == 0
    assert got.count() == 1998
    # files NOT holding a delete key were never touched
    still_there = {
        _os.path.join(r, f)
        for r, _d, fs in _os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    }
    assert len(untouched & still_there) == total_before - n_rewritten
    # the spliced index still answers point lookups (no full rebuild)
    rows, scanned, total = st.lookup(
        spark.createDataFrame([(8,), (7,)], "k long"), "k"
    )
    assert {r.k for r in rows.collect()} == {8}
    assert 0 < scanned < total
    # a key absent from every file prunes to zero candidate files
    assert st.delete_keys(
        spark.createDataFrame([(999999,)], "k long"), ["k"]
    ) == 0
