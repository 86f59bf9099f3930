"""Per-file Bloom index — point-lookup file pruning for a parquet lake.

Parquet min/max stats (and the z-order layout in sources/files.py)
prune RANGE predicates; they do nothing for a point lookup on a
high-cardinality, unclustered key — "fetch document 4711055" still
scans every file. Lakehouse formats answer this with per-file bloom
filters (Delta file skipping, Parquet column bloom filters); this
module is that capability as a plain, persistable index table the
engine fully controls:

- **build** (one scan): every row tags itself with its file via the
  ``_metadata.file_path`` column, each key sets ``n_hashes`` bits, and
  one ``groupBy(file, word_idx)`` + ``bit_or`` yields the sparse index
  relation ``(file, word_idx, word)`` — at most n_bits/64 rows per
  file, independent of row count. Persist it next to the data.
- **probe** (index-only): candidate keys expand to their (word_idx,
  bit) probes, join the index on ``word_idx``, and a file survives for
  a key only if ALL ``n_hashes`` bits are set. No data file is touched.
- **read**: only surviving files are opened, with the exact key filter
  applied on top — false positives cost one extra file read, never a
  wrong row.

At 100 TB with 25k 4-GB files and n_bits=2^17, the index is ≤ 50M
sparse rows (a few hundred MB) probed as one small join — versus a
100 TB scan.
"""

from __future__ import annotations

from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdk_datalake_ingest_upeu_spark.operators.bloom import _buckets, _seeds


def build_file_bloom_index(
    spark: SparkSession,
    path: str | list[str],
    key: str,
    *,
    n_bits: int = 1 << 17,
    n_hashes: int = 5,
) -> DataFrame:
    """One scan of ``path`` (a table dir, or an explicit file list for
    incremental maintenance — the stage writer's delete splice indexes
    only the files it rewrote) -> sparse (file, word_idx, word) index
    over ``key``, plus the filter parameters on every row so the probe
    side never has to guess them."""
    if n_bits % 64:
        raise ValueError("n_bits must be a multiple of 64")
    seeds = _seeds(n_hashes)
    paths = [path] if isinstance(path, str) else list(path)
    rows = spark.read.parquet(*paths).select(
        F.col("_metadata.file_path").alias("file"), F.col(key)
    )
    return (
        rows.select(
            "file",
            F.explode(F.array(*_buckets(F.col(key), n_bits, seeds))).alias("bucket"),
        )
        .select(
            "file",
            F.floor(F.col("bucket") / F.lit(64)).cast("int").alias("word_idx"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(bucket % 64 AS INT))"
            ).alias("mask"),
        )
        .groupBy("file", "word_idx")
        .agg(F.bit_or("mask").alias("word"))
        .withColumn("n_bits", F.lit(n_bits).cast("long"))
        .withColumn("n_hashes", F.lit(n_hashes).cast("int"))
    )


def bloom_index_candidate_files(
    index: DataFrame, values_df: DataFrame, value_col: str
) -> DataFrame:
    """Files that may contain any of the candidate key values —
    an index-only join, no data file touched.

    ``values_df`` holds the lookup keys (typically a handful of rows —
    broadcast); a (file, value) pair survives iff every one of the
    filter's hash bits is set in that file's words."""
    params = index.select("n_bits", "n_hashes").first()
    n_bits, n_hashes = int(params.n_bits), int(params.n_hashes)
    seeds = _seeds(n_hashes)
    probes = values_df.select(
        F.col(value_col).alias("__v"),
        F.explode(
            F.array(*_buckets(F.col(value_col), n_bits, seeds))
        ).alias("bucket"),
    ).select(
        "__v",
        F.floor(F.col("bucket") / F.lit(64)).cast("int").alias("word_idx"),
        (F.col("bucket") % 64).cast("int").alias("bit"),
    )
    hits = (
        index.join(F.broadcast(probes), "word_idx")
        .filter(F.getbit(F.col("word"), F.col("bit")) == F.lit(1))
        .groupBy("file", "__v")
        .agg(F.count(F.lit(1)).alias("n_set"))
        .filter(F.col("n_set") >= F.lit(n_hashes))
    )
    return hits.select("file", F.col("__v").alias(value_col)).distinct()


def bloom_pruned_read(
    spark: SparkSession,
    index: DataFrame,
    values_df: DataFrame,
    key: str,
    *,
    base_path: str | None = None,
) -> tuple[DataFrame, int, int]:
    """Point lookup through the index: returns (matching rows read from
    ONLY the surviving files, files_scanned, files_total). The exact
    ``key IN values`` filter on top makes bloom false positives cost an
    extra file read, never a wrong row. The collected file list is
    O(candidate files) — driver-safe by construction for point
    lookups.

    The index stores ``_metadata.file_path`` URIs, which percent-encode
    the directory names Spark escaped a partition value into; they are
    decoded before the read. ``base_path`` is the root of a partitioned
    table: pass it so the partition columns come back with the rows."""
    files_total = index.select("file").distinct().count()
    if files_total == 0:
        raise ValueError(
            "bloom_pruned_read: the index is empty (no files) — build it "
            "over a non-empty dataset before probing"
        )

    def read(files):
        reader = spark.read
        if base_path is not None:
            reader = reader.option("basePath", base_path)
        return reader.parquet(*[unquote(f) for f in files])

    cand = bloom_index_candidate_files(index, values_df, key)
    files = [r.file for r in cand.select("file").distinct().collect()]
    if not files:
        empty = read(
            [r.file for r in index.select("file").distinct().limit(1).collect()]
        ).limit(0)
        return empty, 0, files_total
    rows = read(files).join(
        F.broadcast(values_df.select(F.col(key)).distinct()), key, "leftsemi"
    )
    return rows, len(files), files_total
