"""Managed stage table: typed, partitioned, deduplicated, upserted.

Re-implements the reference's Delta stage zone (write/MERGE/dedup/
maintenance — ``light_transform.py:1363-1409,1534-1564,1786-1803``) as a
Spark-native managed Parquet table, because the runtime image carries no
Delta jars.

Scale design notes (100 TB):

- Every change to a table, and to its Bloom index, takes one path,
  :func:`_replace_files`: list the data files, append the new ones in one
  Spark job, list again, then unlink the files they replace. What differs
  between operations is only which files are replaced: all of them (full
  load, unpartitioned MERGE, full-table delete, compaction, index
  writes), the ones in the partition directories the write added to
  (partitioned MERGE), or an explicit list (the Bloom-bounded delete).
- The job may read the files it replaces: its input is listed when the
  plan is built, and nothing is unlinked until the job commits. Spark's
  default (v1) file committer moves the new files into the table only at
  job commit, so a failed write leaves the table as it was. Between the
  commit and the unlinks a reader can see both file sets. A log commit
  between the append and the unlinks would close that window; it would
  go in :func:`_replace_files` alone.
- MERGE is expressed as *join-based upsert*: ``target LEFT ANTI JOIN
  source ON keys`` ∪ ``source``. Catalyst plans the anti-join
  (broadcast when the source micro-batch is small — the common
  incremental case — else sort-merge with AQE skew handling).
- With partition columns declared, only the partitions present in the
  source batch are rewritten, so a micro-batch touching 1 hour of a
  year-partitioned table rewrites 1 partition's data, not 100 TB. A
  MERGE reads the target once (that read doubles as the existence
  probe), computes the source once and writes the merged rows once.
- The listings and unlinks use ``os`` on the driver, so a table lives
  on the local filesystem (a plain path or a ``file:`` URI); other
  schemes are refused. Going through the Hadoop FileSystem instead
  costs JVM calls per directory and per file: ~15 ms per listing of a
  16-file table against 0.2 ms for ``os.walk``.
- The two listings are NOT bounded by the partitions a write touches:
  each walks the whole table (~5 µs per file, 720 files in 4 ms on a
  4-vCPU VM), on top of the whole-table listing Spark's own reader
  makes. That is fine for the tables here and slow for a million-file
  table; a log commit, or listing only the touched partition
  directories, removes it.
- :meth:`StageTable.num_rows` counts the table without a Spark job by
  summing ``num_rows`` over the footers of the listed data files. It
  reads no data pages, but it still opens one footer per live file,
  so it is O(files) (~50 µs per file on local disk, warm cache): the
  per-file stat a log commit would store.
- The latest-row dedup window (reference W1) shuffles once on the ID
  keys; the subsequent MERGE join reuses the same key, so AQE's local
  shuffle reader avoids a second full exchange.
"""

from __future__ import annotations

import os
import shutil
from urllib.parse import unquote, urlsplit

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# the read errors that mean "no table here yet": a missing path, or a
# directory with no data file to infer a schema from
_ABSENT_CONDITIONS = frozenset({"PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"})


def _visible(name: str) -> bool:
    """Whether Spark's file index lists ``name``: it skips ``.``- and
    ``_``-prefixed names (``_SUCCESS``, ``_temporary``, checksums) except
    a ``_``-prefixed partition directory such as ``_k=1``."""
    return not name.startswith(".") and (not name.startswith("_") or "=" in name)


def _local_path(path: str) -> str:
    """``path`` as a local filesystem path. The write path lists and
    unlinks files with ``os``, so a ``file:`` URI (Spark's form of a
    file path) is unwrapped and any other scheme is refused: ``os``
    would list nothing under ``s3a://`` or ``hdfs://``, and every
    replace would silently turn into an append."""
    url = urlsplit(path)
    if not url.scheme:
        return path
    if url.scheme != "file":
        raise ValueError(
            f"stage tables live on the local filesystem; {path!r} has "
            f"scheme {url.scheme!r}"
        )
    return unquote(url.path)


def _list_data_files(root: str) -> set[str]:
    found = set()
    for dirpath, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if _visible(d)]
        found.update(os.path.join(dirpath, f) for f in files if _visible(f))
    return found


def _every_file(before: set[str], added: set[str]) -> set[str]:
    return before


def _touched_partitions(before: set[str], added: set[str]) -> set[str]:
    dirs = {os.path.dirname(f) for f in added}
    return {f for f in before if os.path.dirname(f) in dirs}


def _replace_files(df: DataFrame, root: str, partition_columns: list[str], remove) -> set[str]:
    """The one write of a stage table or Bloom index: append ``df`` under
    ``root`` in one Spark job, then unlink ``remove(before, added)`` —
    a subset of the data files listed before the write, chosen with the
    files the write added — with their checksums, and remove the
    partition directories that leaves empty. Returns the added files.

    Partitioned writes shuffle rows to their partition first: without
    this, every write task emits a file into every partition directory
    (tasks x partitions small files); with it, each partition gets as
    few files as the tasks that own it."""
    root = os.path.abspath(root)
    before = _list_data_files(root)
    if partition_columns:
        df = df.repartition(*[F.col(c) for c in partition_columns])
    writer = df.write.mode("append")
    if partition_columns:
        writer = writer.partitionBy(*partition_columns)
    writer.parquet(root)
    added = _list_data_files(root) - before
    removed = remove(before, added)
    for f in removed:
        crc = os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
        for p in (f, crc):
            if os.path.exists(p):
                os.remove(p)
    for d in sorted({os.path.dirname(f) for f in removed}, key=len, reverse=True):
        while d.startswith(root + os.sep) and os.path.isdir(d) and not os.listdir(d):
            os.rmdir(d)
            d = os.path.dirname(d)
    return added


def dedup_latest(df: DataFrame, id_columns: list[str], date_columns: list[str]) -> DataFrame:
    """Keep the latest version of each ID: ``row_number() OVER (PARTITION BY
    ids ORDER BY date_cols DESC) = 1`` (reference ``light_transform.py:1786-1797``).

    Ties on the date columns are broken arbitrarily, matching the
    reference; callers needing determinism should add a tiebreaker to
    ``date_columns``.
    """
    if not id_columns or not date_columns:
        return df
    w = Window.partitionBy(*id_columns).orderBy(*[F.col(c).desc() for c in date_columns])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    key_columns: list[str],
    *,
    evolve_schema: bool = False,
) -> DataFrame:
    """Upsert semantics of Delta MERGE ``whenMatchedUpdateAll /
    whenNotMatchedInsertAll`` (reference ``light_transform.py:1382-1392``)
    as a pure DataFrame expression.

    Matched target rows are replaced by the source row; unmatched target
    rows are kept; all source rows are inserted. The source must be
    unique per key (run :func:`dedup_latest` first — same order of
    operations as the reference: transform -> window dedup -> merge).

    With ``evolve_schema=True``, source columns absent from the target
    are ADDED to the result (existing target rows null-backfilled) —
    the Delta ``schema.autoMerge`` analog for the source-added-a-column
    drift the reference handles by defensive string casts. Default
    False keeps the strict contract: extra source columns are dropped.
    """
    if evolve_schema:
        for field in source.schema.fields:
            if field.name not in target.columns:
                target = target.withColumn(
                    field.name, F.lit(None).cast(field.dataType)
                )
    cols = target.columns
    keep = target.alias("t").join(
        source.select(*key_columns).dropDuplicates(key_columns).alias("s"),
        on=key_columns,
        how="left_anti",
    )
    return keep.select(*cols).unionByName(source.select(*cols))


class StageTable:
    """A managed, partitioned stage table at a filesystem path."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        partition_columns: list[str] | None = None,
        bloom_index_keys: list[str] | None = None,
        bloom_index_dir: str | None = None,
    ):
        """``bloom_index_keys`` opts the table into per-file Bloom
        indexing (sources/file_index.py): every write path (overwrite /
        merge / change-feed / optimize) rebuilds a sparse
        (file, word_idx, word) index per key under ``bloom_index_dir``
        (default ``<path>__bloom/<key>``), and :meth:`lookup` prunes a
        point lookup through it — file skipping on unclustered
        high-cardinality keys, the capability Delta file stats provide,
        kept consistent by the writer itself."""
        self.spark = spark
        self.path = _local_path(os.fspath(path))
        self.partition_columns = partition_columns or []
        self.bloom_index_keys = list(bloom_index_keys or [])
        self.bloom_index_dir = (
            _local_path(os.fspath(bloom_index_dir))
            if bloom_index_dir
            else self.path + "__bloom"
        )

    # -- basic IO ----------------------------------------------------------

    def exists(self) -> bool:
        return self._read_existing() is not None

    def read(self) -> DataFrame:
        return self.spark.read.parquet(self.path)

    def num_rows(self) -> int:
        """Row count from the parquet footers of the live data files:
        driver-side metadata, no Spark job and no data page read."""
        import pyarrow.parquet as pq

        return sum(pq.read_metadata(f).num_rows for f in _list_data_files(self.path))

    def _read_existing(self) -> DataFrame | None:
        """:meth:`read`, or None when there is no table yet (a missing
        path or an empty directory). Any other read error propagates:
        taking a transient I/O error for "absent" would make
        :meth:`merge` overwrite the table's history with one batch."""
        try:
            return self.read()
        except AnalysisException as exc:
            if exc.getCondition() in _ABSENT_CONDITIONS:
                return None
            raise

    def overwrite(self, df: DataFrame) -> None:
        """Replace the whole table with ``df``: partitions ``df`` lacks
        disappear (a full load replaces the table, as the reference's
        Delta overwrite does)."""
        self._replace(df)

    def _replace(self, df: DataFrame, remove=_every_file) -> None:
        """Write ``df`` onto the table through :func:`_replace_files`,
        then refresh the Bloom index."""
        _replace_files(df, self.path, self.partition_columns, remove)
        self._refresh_bloom_index()

    def _refresh_bloom_index(self) -> None:
        """Rebuild the per-file Bloom index after any write that changed
        the table's file set. One extra scan of the table per indexed
        key; at 100 TB the same sparse aggregate would be emitted from
        the write job itself (the rows are already in hand), but the
        rebuild keeps the write paths untouched here and the index is
        ALWAYS consistent with the data because the writer owns both."""
        if not self.bloom_index_keys:
            return
        from cdk_datalake_ingest_upeu_spark.sources.file_index import (
            build_file_bloom_index,
        )

        for key in self.bloom_index_keys:
            _replace_files(
                build_file_bloom_index(self.spark, self.path, key),
                os.path.join(self.bloom_index_dir, key),
                [],
                _every_file,
            )

    def lookup(self, values_df: DataFrame, key: str):
        """Point lookup pruned through this table's Bloom index: returns
        ``(rows, files_scanned, files_total)`` — only candidate files
        are opened (sources/file_index.py bloom_pruned_read)."""
        if key not in self.bloom_index_keys:
            raise ValueError(
                f"{key!r} is not bloom-indexed (indexed: "
                f"{self.bloom_index_keys})"
            )
        from cdk_datalake_ingest_upeu_spark.sources.file_index import (
            bloom_pruned_read,
        )

        index = self.spark.read.parquet(os.path.join(self.bloom_index_dir, key))
        return bloom_pruned_read(self.spark, index, values_df, key, base_path=self.path)

    def write_empty(self, df: DataFrame) -> None:
        """Schema-only materialization so downstream readers see a schema
        (reference S13, ``light_transform.py:1805-1813``)."""
        self.overwrite(df.limit(0))

    # -- MERGE (upsert) ------------------------------------------------------

    def merge(
        self,
        source: DataFrame,
        key_columns: list[str],
        *,
        evolve_schema: bool = False,
    ) -> None:
        """Delta-style MERGE upsert of ``source`` into this table; a
        missing table is created from ``source`` by :meth:`overwrite`.

        ``evolve_schema=True`` lets source-added columns widen the table
        schema (existing rows null-backfilled), mirroring Delta's
        ``schema.autoMerge``; the MERGE rewrite absorbs the widening.

        The target is read once — that read is also the existence probe.
        Partitioned tables rewrite only the partitions the batch touches:
        the merged rows of those partitions are appended in one job and
        the files they replace are unlinked after it commits.
        Unpartitioned tables replace every file. The source is persisted
        because the upsert reads it twice (the key anti-join and the
        union) and a partitioned merge also collects its partition values.
        """
        target = self._read_existing()
        if target is None:
            self.overwrite(source)
            return
        source = source.dropDuplicates().persist()
        try:
            if not self.partition_columns:
                self._replace(
                    merge_upsert(target, source, key_columns, evolve_schema=evolve_schema)
                )
                return
            parts = [
                r.asDict()
                for r in source.select(*self.partition_columns).distinct().collect()
            ]
            if not parts:
                return
            pred = None
            for p in parts:
                term = None
                for c, v in p.items():
                    t = F.col(c).eqNullSafe(F.lit(v))
                    term = t if term is None else (term & t)
                pred = term if pred is None else (pred | term)
            merged = merge_upsert(
                target.filter(pred), source, key_columns, evolve_schema=evolve_schema
            )
            self._replace(merged, _touched_partitions)
        finally:
            source.unpersist()

    # -- change-feed apply (CDC with deletes) --------------------------------

    def apply_change_feed(
        self,
        feed: DataFrame,
        key_columns: list[str],
        *,
        op_column: str = "op",
        seq_column: str,
        evolve_schema: bool = False,
    ) -> int:
        """Apply an insert/update/delete change feed: the LATEST op per
        key (ordered by ``seq_column``) wins; ``D`` removes the key,
        anything else upserts the row. The reference's MERGE is
        upsert-only (``light_transform.py:1382-1392``) — rows deleted at
        the source survive in the stage zone forever; this closes that
        gap. Feed metadata columns (op, seq) are stripped before the
        upsert so the stage schema stays payload-only.

        One in-batch dedup window, one MERGE, then :meth:`delete_keys`
        for the deletes (bloom-bounded when the key is indexed).

        Returns the delete-path file-rewrite count (:meth:`delete_keys`),
        0 when the feed had no deletes, -1 when the full table was
        rewritten."""
        latest = dedup_latest(feed, key_columns, [seq_column])
        # the feed plan (often a corpus join upstream) is consumed by the
        # op-presence probe, the merge, and the delete — persist the
        # batch-scale deduped feed so it computes ONCE. The presence of
        # upserts/deletes is ONE aggregate, not two take(1)s: take(1) on
        # an op class the feed doesn't contain (e.g. a delete-only
        # takedown feed probing for upserts) scales up through EVERY
        # partition before concluding empty — a full extra feed pass.
        latest = latest.persist()
        try:
            flags = latest.agg(
                F.max((F.col(op_column) == "D").cast("int")).alias("__d"),
                F.max((F.col(op_column) != "D").cast("int")).alias("__u"),
            ).first()
            upserts = latest.filter(F.col(op_column) != "D").drop(
                op_column, seq_column
            )
            deletes = latest.filter(F.col(op_column) == "D").select(
                *key_columns
            )
            if flags["__u"]:  # delete-only feed must not rewrite the table
                self.merge(upserts, key_columns, evolve_schema=evolve_schema)
            if flags["__d"]:
                return self.delete_keys(deletes, key_columns)
            return 0
        finally:
            latest.unpersist()

    def delete_keys(self, deletes: DataFrame, key_columns: list[str]) -> int:
        """Remove every row matching a delete-key set. Returns the number
        of data files rewritten, or -1 on the full-table path.

        When the (single) key column is bloom-indexed, the table's own
        per-file index localizes exactly the files that can hold any
        delete key, and ONLY those files are rewritten — a takedown
        batch costs O(candidate files), not O(table), which is the only
        acceptable shape for right-to-be-forgotten at 100 TB (the r5
        scale soft spot: the previous path rewrote the whole table).
        Untouched files keep their index rows; rewritten files get fresh
        ones (incremental index maintenance, no full rebuild). Composite
        or un-indexed keys fall back to the full anti-join rewrite, which
        replaces every file, so partitions left without rows disappear."""
        if len(key_columns) == 1 and key_columns[0] in self.bloom_index_keys:
            return self._bloom_bounded_delete(deletes, key_columns[0])
        # AQE picks broadcast for the (typically tiny) delete set
        self._replace(self.read().join(deletes, key_columns, "left_anti"))
        return -1

    def _bloom_bounded_delete(self, deletes: DataFrame, key: str) -> int:
        from cdk_datalake_ingest_upeu_spark.sources.file_index import (
            bloom_index_candidate_files,
        )

        index = self.spark.read.parquet(
            os.path.join(self.bloom_index_dir, key)
        )
        keys_df = deletes.select(key).distinct()
        cand = bloom_index_candidate_files(index, keys_df, key)
        files = [r.file for r in cand.select("file").distinct().collect()]
        if not files:
            return 0  # no file can hold any delete key — nothing to do
        # the index holds URIs, percent-encoded where Spark escaped a
        # partition value; the reader takes them as plain paths
        candidates = {_local_path(f) for f in files}
        kept = (
            self.spark.read.option("basePath", self.path)
            .parquet(*sorted(candidates))
            .join(F.broadcast(keys_df), [key], "left_anti")
        )
        added = _replace_files(
            kept, self.path, self.partition_columns, lambda _before, _added: candidates
        )
        self._splice_bloom_index(removed=files, added=sorted(added))
        return len(files)

    def _splice_bloom_index(
        self, *, removed: list[str], added: list[str]
    ) -> None:
        """Incremental index maintenance after a candidate-file rewrite:
        drop the rows of removed files, build rows for the added files
        only (one scan of the NEW files, not the table), union, replace."""
        from cdk_datalake_ingest_upeu_spark.sources.file_index import (
            build_file_bloom_index,
        )

        for key in self.bloom_index_keys:
            idx_path = os.path.join(self.bloom_index_dir, key)
            old = self.spark.read.parquet(idx_path)
            params = old.select("n_bits", "n_hashes").first()
            kept = old.filter(~F.col("file").isin(removed))
            if added:
                fresh = build_file_bloom_index(
                    self.spark,
                    added,
                    key,
                    n_bits=int(params.n_bits),
                    n_hashes=int(params.n_hashes),
                )
                kept = kept.unionByName(fresh)
            _replace_files(kept, idx_path, [], _every_file)

    # -- maintenance ---------------------------------------------------------

    def optimize(self, target_partitions: int | None = None) -> None:
        """Small-file compaction — the reference's OPTIMIZE analog
        (``light_transform.py:1394-1409``). An unpartitioned table is
        rewritten as ``target_partitions`` files (default: a quarter of
        its current file count); a partitioned table gets one file per
        partition value, so it takes no ``target_partitions``."""
        if self.partition_columns and target_partitions is not None:
            raise ValueError(
                "target_partitions applies to unpartitioned tables; a "
                "partitioned table is compacted to one file per partition"
            )
        df = self.read()
        if not self.partition_columns:
            # 4:1 bin-packing sized from the scan's INPUT FILE count —
            # driver-side metadata, never a df.rdd materialization of the
            # analyzed plan just to read a partition count
            df = df.coalesce(target_partitions or max(1, len(df.inputFiles()) // 4))
        self._replace(df)

    def drop_partitions(self, column: str, *, before: str) -> int:
        """Partition-level retention (TTL): remove every partition of
        ``column`` whose value sorts strictly below ``before``.

        This is a METADATA operation — whole partition directories are
        unlinked; no row is ever read or rewritten, which is the only
        viable shape for expiring days out of a 100 TB date-partitioned
        table (a filtered rewrite would scan everything to delete 1%).
        Values compare as their directory strings, so ISO dates and
        zero-padded numerics order correctly. Returns the number of
        partitions dropped.
        """
        if column not in self.partition_columns:
            raise ValueError(
                f"{column!r} is not a partition column of this table "
                f"(partitioned by {self.partition_columns})"
            )
        prefix = f"{column}="
        dropped = 0
        for name in sorted(os.listdir(self.path)):
            if not name.startswith(prefix):
                continue
            # partition dir values are URL-encoded by the writer; the
            # raw string compare matches what Spark wrote for ISO dates
            # and plain numerics, the supported TTL key shapes
            value = name[len(prefix):]
            if value < before:
                shutil.rmtree(os.path.join(self.path, name))
                dropped += 1
        return dropped

    def register(self, table_name: str) -> None:
        """Catalog registration — replaces the Glue crawler (reference S14,
        ``crawler_stage.py:393-479``)."""
        self.spark.sql(
            f"CREATE TABLE IF NOT EXISTS {table_name} USING PARQUET "
            f"LOCATION '{self.path}'"
        )
