"""Bloom filter build/probe: no false negatives, bounded false
positives, literal- and join-mode probe agreement, persistence
round-trip, and exact semi-join equivalence."""

import os

import pytest
from pyspark.sql import functions as F

from cdk_datalake_ingest_upeu_spark.operators.bloom import (
    BloomFilter,
    bloom_build,
    bloom_load,
    bloom_semi_join,
)


@pytest.fixture(scope="module")
def member_keys(spark):
    # 1000 member keys 0..999; probes extend to 20k so ~19k non-members
    return spark.range(1000).select(F.col("id").alias("k"))


@pytest.fixture(scope="module")
def bf(spark, member_keys):
    return bloom_build(member_keys, "k", n_bits=1 << 14, n_hashes=5)


def test_no_false_negatives(spark, member_keys, bf):
    n = member_keys.filter(bf.might_contain(F.col("k"))).count()
    assert n == 1000


def test_false_positive_rate_bounded(spark, bf):
    probes = spark.range(1000, 20000).select(F.col("id").alias("k"))
    fp = probes.filter(bf.might_contain(F.col("k"))).count()
    # m/n = 16.4, k = 5 -> theoretical fpr ~0.06%; allow 10x headroom
    assert fp / 19000 < 0.006, fp


def test_join_mode_agrees_with_literal(spark, member_keys, bf):
    probes = spark.range(0, 5000).select(F.col("id").alias("k"))
    lit_keys = {
        r.k for r in probes.filter(bf.might_contain(F.col("k"))).collect()
    }
    join_keys = {
        r.k
        for r in bf.prefilter_join(probes, F.col("k"), spark).collect()
    }
    assert lit_keys == join_keys


def test_bit63_round_trip(spark):
    # a key whose bucket lands on bit 63 makes the word negative as a
    # signed long; getbit must still see it (two's complement)
    keys = spark.range(0, 3000).select(F.col("id").alias("k"))
    small = bloom_build(keys, "k", n_bits=64, n_hashes=1)
    # 3000 keys over 64 bits: every bit set, incl. 63 -> word == -1
    assert small.words == [-1]
    assert keys.filter(small.might_contain(F.col("k"))).count() == 3000


def test_persistence_round_trip(spark, bf, tmp_path):
    path = os.path.join(str(tmp_path), "bf.parquet")
    bf.to_df(spark).write.mode("overwrite").parquet(path)
    loaded = bloom_load(spark.read.parquet(path))
    assert loaded.n_bits == bf.n_bits
    assert loaded.seeds == bf.seeds
    assert loaded.words == bf.words


def test_semi_join_exact(spark, sf_dir):
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    lineitem = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    got = bloom_semi_join(
        lineitem,
        urgent,
        probe_key="l_orderkey",
        build_key="o_orderkey",
        n_bits=1 << 16,
    ).count()
    want = lineitem.join(
        urgent.select(F.col("o_orderkey").alias("l_orderkey")).distinct(),
        "l_orderkey",
        "leftsemi",
    ).count()
    assert got == want


def test_inexact_superset_and_prunes(spark, sf_dir):
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    lineitem = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    total = lineitem.count()
    exact = lineitem.join(
        urgent.select(F.col("o_orderkey").alias("l_orderkey")).distinct(),
        "l_orderkey",
        "leftsemi",
    ).count()
    approx = bloom_semi_join(
        lineitem,
        urgent,
        probe_key="l_orderkey",
        build_key="o_orderkey",
        n_bits=1 << 16,
        exact=False,
    ).count()
    assert exact <= approx  # no false negatives
    assert approx < total  # and it actually prunes


def test_bloom_merge_union(spark):
    from cdk_datalake_ingest_upeu_spark.operators.bloom import bloom_merge

    a_keys = spark.range(0, 500).select(F.col("id").alias("k"))
    b_keys = spark.range(500, 1000).select(F.col("id").alias("k"))
    a = bloom_build(a_keys, "k", n_bits=1 << 13, n_hashes=4)
    b = bloom_build(b_keys, "k", n_bits=1 << 13, n_hashes=4)
    merged = bloom_merge(a, b)
    both = spark.range(0, 1000).select(F.col("id").alias("k"))
    # no false negatives on the union
    assert both.filter(merged.might_contain(F.col("k"))).count() == 1000
    # merged == filter built directly over the union (bitwise identical)
    direct = bloom_build(both, "k", n_bits=1 << 13, n_hashes=4)
    assert merged.words == direct.words


def test_bloom_merge_rejects_mismatched_params(spark):
    import pytest as _pytest

    from cdk_datalake_ingest_upeu_spark.operators.bloom import bloom_merge

    keys = spark.range(10).select(F.col("id").alias("k"))
    a = bloom_build(keys, "k", n_bits=1 << 10)
    b = bloom_build(keys, "k", n_bits=1 << 11)
    with _pytest.raises(ValueError):
        bloom_merge(a, b)


def test_stream_bloom_dedup_and_epoch_replay(spark, sf_dir, tmp_path):
    """End-to-end: duplicates across drops are dropped; a replayed epoch
    (foreachBatch at-least-once) must not clobber committed output."""
    from cdk_datalake_ingest_upeu_spark.operators.bloom import _seeds
    from cdk_datalake_ingest_upeu_spark.streaming.bloom_dedup import (
        _latest_version,
        _novel_rows,
        stream_bloom_dedup,
    )

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    # two drops with a 50% overlap: second drop re-delivers half of the first
    first = ev.limit(200)
    overlap = first.limit(100)
    rest = ev.subtract(first).limit(100)
    src = os.path.join(str(tmp_path), "in")
    first.coalesce(1).write.parquet(os.path.join(src, "d0"))
    overlap.unionByName(rest).coalesce(1).write.parquet(os.path.join(src, "d1"))

    out_dir = os.path.join(str(tmp_path), "out")
    filter_dir = os.path.join(str(tmp_path), "bloom")
    q = stream_bloom_dedup(
        spark,
        src + "/*",
        ev.schema,
        out_dir,
        key_col="event_id",
        filter_dir=filter_dir,
        checkpoint_dir=os.path.join(str(tmp_path), "ckpt"),
        n_bits=1 << 16,
        query_name="t_bloomsd",
    )
    q.processAllAvailable()
    q.stop()

    kept = spark.read.parquet(out_dir)
    assert kept.count() == 300  # 200 + 100 novel; 100 re-deliveries dropped
    assert kept.select("event_id").distinct().count() == 300

    # replay epoch 0 against the committed filter: the epoch marker must
    # short-circuit — without it the probe calls every row a duplicate
    # and overwrites the epoch directory with an empty frame
    latest = _latest_version(filter_dir)
    assert latest is not None
    path, epoch = latest
    words = spark.read.parquet(path)
    # the directory name carries the commit epoch (what the replay
    # short-circuit now reads) and must agree with the data column
    assert epoch >= 1
    assert int(words.select("last_epoch").first().last_epoch) == epoch
    pre = spark.read.parquet(os.path.join(out_dir, "epoch=0")).count()
    assert pre > 0
    # the filter now contains epoch 0's keys — a fresh probe finds no
    # novel rows among them
    novel_again = _novel_rows(
        first, "event_id", words, 1 << 16, _seeds(5)
    ).count()
    assert novel_again == 0


def test_file_bloom_index_prunes_and_finds(spark, sf_dir, tmp_path):
    from cdk_datalake_ingest_upeu_spark.sources.file_index import (
        bloom_index_candidate_files,
        bloom_pruned_read,
        build_file_bloom_index,
    )

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    data_dir = os.path.join(str(tmp_path), "d")
    ev.repartition(8, "event_id").write.parquet(data_dir)
    index = build_file_bloom_index(spark, data_dir, "event_id", n_bits=1 << 14)

    keys = ev.orderBy("event_id").limit(3).select("event_id")
    rows, scanned, total = bloom_pruned_read(spark, index, keys, "event_id")
    assert total == 8
    assert 1 <= scanned < total  # actually pruned
    got = {r.event_id for r in rows.select("event_id").collect()}
    want = {r.event_id for r in keys.collect()}
    assert got == want  # exact despite the approximate index

    # a key that exists nowhere: candidate set is (almost surely) empty
    # and the read returns no rows either way
    missing = spark.createDataFrame([(-(10**15),)], ["event_id"])
    cand = bloom_index_candidate_files(index, missing, "event_id")
    rows2, scanned2, _ = bloom_pruned_read(spark, index, missing, "event_id")
    assert rows2.count() == 0
    assert scanned2 <= 1  # at most a false-positive file
    assert cand.count() <= 1

    # a partition value Spark escapes in its directory name: the index's
    # percent-encoded URIs still open, and basePath keeps the column
    esc_dir = os.path.join(str(tmp_path), "esc")
    spark.createDataFrame([(1, "a b:c"), (2, "x")], "event_id long, dt string").write.partitionBy(
        "dt"
    ).parquet(esc_dir)
    esc_index = build_file_bloom_index(spark, esc_dir, "event_id", n_bits=1 << 10)
    one = spark.createDataFrame([(1,)], "event_id long")
    rows3, _, _ = bloom_pruned_read(spark, esc_index, one, "event_id")
    assert [tuple(r) for r in rows3.collect()] == [(1,)]
    rows4, _, _ = bloom_pruned_read(spark, esc_index, one, "event_id", base_path=esc_dir)
    assert [(r.event_id, r.dt) for r in rows4.collect()] == [(1, "a b:c")]


def test_bloom_pruned_read_empty_index_raises(spark):
    from cdk_datalake_ingest_upeu_spark.sources.file_index import (
        bloom_pruned_read,
    )

    empty_index = spark.createDataFrame(
        [], "file string, word_idx int, word long, n_bits long, n_hashes int"
    )
    keys = spark.createDataFrame([(1,)], "event_id long")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="index is empty"):
        bloom_pruned_read(spark, empty_index, keys, "event_id")
