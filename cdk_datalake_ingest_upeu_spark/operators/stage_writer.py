"""Managed stage table: typed, partitioned, deduplicated, upserted.

Re-implements the reference's Delta stage zone (write/MERGE/dedup/
maintenance — ``light_transform.py:1363-1409,1534-1564,1786-1803``) as a
Spark-native managed Parquet table, because the runtime image carries no
Delta jars. When ``delta-spark`` IS importable the same class delegates
to real ``DeltaTable.merge`` (the reference's S10).

Scale design notes (100 TB):

- MERGE is expressed as *join-based upsert*: ``target LEFT ANTI JOIN
  source ON keys`` ∪ ``source``. Catalyst plans the anti-join
  (broadcast when the source micro-batch is small — the common
  incremental case — else sort-merge with AQE skew handling).
- With partition columns declared, only the partitions present in the
  source batch are rewritten (dynamic partition overwrite), so a
  micro-batch touching 1 hour of a year-partitioned table rewrites 1
  partition, not 100 TB. The merged rows are written ONCE, straight
  onto the table path: a dynamic overwrite stages its files under
  ``.spark-staging-*`` and swaps partitions in only at job commit,
  after every task has read its input, so the job may read the
  partitions it replaces. A MERGE reads the target once (that read
  doubles as the existence probe) and computes the source once.
- Unpartitioned tables (and the full-table rewrites of delete/compact)
  are static overwrites, which delete the target before the job runs;
  those still stage the result in a sibling directory first.
- The latest-row dedup window (reference W1) shuffles once on the ID
  keys; the subsequent MERGE join reuses the same key, so AQE's local
  shuffle reader avoids a second full exchange.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

try:  # pragma: no cover - exercised only when delta-spark is installed
    from delta.tables import DeltaTable

    _HAS_DELTA = True
except Exception:  # pragma: no cover
    DeltaTable = None
    _HAS_DELTA = False

# the read errors that mean "no table here yet": a missing path, or a
# directory with no data file to infer a schema from
_ABSENT_CONDITIONS = frozenset({"PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"})


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
        fmt: str | None = None,
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
        kept consistent by the writer itself. Parquet-format tables
        only (Delta carries its own file stats)."""
        self.spark = spark
        self.path = os.fspath(path)
        self.partition_columns = partition_columns or []
        self.fmt = fmt or ("delta" if _HAS_DELTA else "parquet")
        self.bloom_index_keys = list(bloom_index_keys or [])
        self.bloom_index_dir = (
            os.fspath(bloom_index_dir) if bloom_index_dir else self.path + "__bloom"
        )
        if self.bloom_index_keys and self.fmt != "parquet":
            raise ValueError(
                "bloom_index_keys is parquet-only (Delta tables carry "
                "their own per-file stats)"
            )

    # -- basic IO ----------------------------------------------------------

    def exists(self) -> bool:
        if self.fmt == "delta" and _HAS_DELTA:
            return DeltaTable.isDeltaTable(self.spark, self.path)
        return self._read_existing() is not None

    def read(self) -> DataFrame:
        return self.spark.read.format(self.fmt).load(self.path)

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
        self._write(df)

    def _write(self, df: DataFrame, **options: str) -> None:
        """Overwrite-mode write onto the table path with the given writer
        options, then refresh the Bloom index."""
        if self.partition_columns:
            # shuffle rows to their target partition first: without this,
            # every write task emits a file into every partition dir
            # (tasks x partitions small files); with it, each partition
            # gets as few files as the writing tasks that own it
            df = df.repartition(*[F.col(c) for c in self.partition_columns])
        writer = df.write.format(self.fmt).mode("overwrite").options(**options)
        if self.partition_columns:
            writer = writer.partitionBy(*self.partition_columns)
        writer.save(self.path)
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
            build_file_bloom_index(self.spark, self.path, key).write.mode(
                "overwrite"
            ).parquet(os.path.join(self.bloom_index_dir, key))

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
        return bloom_pruned_read(self.spark, index, values_df, key)

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
        ``schema.autoMerge``; the parquet path rewrites with the widened
        schema, which the MERGE rewrite pays for anyway.

        The parquet path reads the target once — that read is also the
        existence probe — and writes once; see :meth:`_merge_parquet`."""
        if self.fmt == "delta" and _HAS_DELTA:  # pragma: no cover
            if not self.exists():
                self.overwrite(source)
                return
            if evolve_schema:
                self.spark.conf.set(
                    "spark.databricks.delta.schema.autoMerge.enabled", "true"
                )
            cond = " AND ".join(f"old.{k} = new.{k}" for k in key_columns)
            (
                DeltaTable.forPath(self.spark, self.path)
                .alias("old")
                .merge(source.dropDuplicates().alias("new"), cond)
                .whenMatchedUpdateAll()
                .whenNotMatchedInsertAll()
                .execute()
            )
            return
        target = self._read_existing()
        if target is None:
            self.overwrite(source)
            return
        self._merge_parquet(
            target, source.dropDuplicates(), key_columns, evolve_schema=evolve_schema
        )

    def _merge_parquet(
        self,
        target: DataFrame,
        source: DataFrame,
        key_columns: list[str],
        *,
        evolve_schema: bool = False,
    ) -> None:
        """Upsert ``source`` into ``target``, this table as already read.

        Partitioned tables rewrite only the partitions the batch touches,
        in ONE write straight onto the table path: the merged rows of
        those partitions, shuffled by the partition columns (the
        :meth:`overwrite` file policy), under a dynamic partition
        overwrite. The job reads the partitions it replaces, which is
        safe because Spark writes them under ``.spark-staging-*`` and
        swaps them in only at job commit, after every task has read its
        input; a failed job leaves the table as it was. The source is
        persisted because the partition-value collect and the write both
        consume it.

        Unpartitioned tables are rewritten whole by a static overwrite,
        which needs the staged copy of :meth:`_checkpointed_overwrite`.
        """
        if not self.partition_columns:
            self._checkpointed_overwrite(
                merge_upsert(target, source, key_columns, evolve_schema=evolve_schema)
            )
            return
        source = source.persist()
        try:
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
            self._write(merged, partitionOverwriteMode="dynamic")
        finally:
            source.unpersist()

    def _checkpointed_overwrite(self, df: DataFrame) -> None:
        """Statically overwrite the table with a result that reads from it.

        A static overwrite deletes the table's files before its job runs,
        so a job reading the table would lose its input (and the table
        its data). The result is therefore staged in a sibling temp dir
        first, then re-read and written onto the table path: two
        sequential jobs. The mode is set to static explicitly, whatever
        the session default, so partitions the result no longer holds
        disappear. Only the partitioned MERGE, a dynamic overwrite, writes
        once (:meth:`_merge_parquet`); with Delta installed the MERGE path
        replaces this entirely.
        """
        tmp = f"{self.path}__tmp_{uuid.uuid4().hex[:8]}"
        try:
            (df.write.format(self.fmt).mode("overwrite").save(tmp))
            staged = self.spark.read.format(self.fmt).load(tmp)
            writer = (
                staged.write.format(self.fmt)
                .mode("overwrite")
                .option("partitionOverwriteMode", "static")
            )
            if self.partition_columns:
                writer = writer.partitionBy(*self.partition_columns)
            writer.save(self.path)
            self._refresh_bloom_index()
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

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

        Parquet path: one in-batch dedup window, one MERGE, then
        :meth:`delete_keys` for the deletes (bloom-bounded when the key
        is indexed). With Delta installed this is a single ``MERGE``
        with ``whenMatchedDelete`` — same semantics, one commit.

        Returns the delete-path file-rewrite count (:meth:`delete_keys`),
        0 when the feed had no deletes, -1 when the full table was
        rewritten or the Delta MERGE handled it in-log."""
        latest = dedup_latest(feed, key_columns, [seq_column])
        if self.fmt == "delta" and _HAS_DELTA:  # pragma: no cover
            if evolve_schema:
                self.spark.conf.set(
                    "spark.databricks.delta.schema.autoMerge.enabled", "true"
                )
            cond = " AND ".join(f"old.{k} = new.{k}" for k in key_columns)
            payload = [
                c for c in latest.columns if c not in (op_column, seq_column)
            ]
            (
                DeltaTable.forPath(self.spark, self.path)
                .alias("old")
                .merge(latest.alias("new"), cond)
                .whenMatchedDelete(condition=f"new.{op_column} = 'D'")
                .whenMatchedUpdate(
                    condition=f"new.{op_column} <> 'D'",
                    set={c: f"new.{c}" for c in payload},
                )
                .whenNotMatchedInsert(
                    condition=f"new.{op_column} <> 'D'",
                    values={c: f"new.{c}" for c in payload},
                )
                .execute()
            )
            return -1
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
        or un-indexed keys fall back to the full anti-join rewrite; with
        Delta installed the MERGE path above replaces both."""
        if len(key_columns) == 1 and key_columns[0] in self.bloom_index_keys:
            return self._bloom_bounded_delete(deletes, key_columns[0])
        # AQE picks broadcast for the (typically tiny) delete set
        kept = self.read().join(deletes, key_columns, "left_anti")
        self._checkpointed_overwrite(kept)
        return -1

    @staticmethod
    def _local_path(f: str) -> str:
        if f.startswith("file:"):
            return "/" + f[5:].lstrip("/")
        return f

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
        kept = (
            self.spark.read.option("basePath", self.path)
            .parquet(*files)
            .join(F.broadcast(keys_df), [key], "left_anti")
        )
        tmp = f"{self.path}__tmp_{uuid.uuid4().hex[:8]}"
        new_files: list[str] = []
        try:
            w = kept.write.format("parquet").mode("overwrite")
            if self.partition_columns:
                w = w.partitionBy(*self.partition_columns)
            w.save(tmp)
            # splice: move rewritten part files into place (unique names —
            # Spark part files embed a job UUID), then unlink the old
            # candidates. Not transactional — Delta's MERGE is the
            # transactional twin; parquet readers racing this see either
            # file set, never a torn file.
            for root, _dirs, fnames in os.walk(tmp):
                for fn in fnames:
                    if not fn.endswith(".parquet"):
                        continue
                    rel = os.path.relpath(root, tmp)
                    dest_dir = (
                        self.path
                        if rel == "."
                        else os.path.join(self.path, rel)
                    )
                    os.makedirs(dest_dir, exist_ok=True)
                    os.rename(os.path.join(root, fn), os.path.join(dest_dir, fn))
                    crc = os.path.join(root, f".{fn}.crc")
                    if os.path.exists(crc):
                        os.rename(crc, os.path.join(dest_dir, f".{fn}.crc"))
                    new_files.append(os.path.join(dest_dir, fn))
            for f in files:
                local = self._local_path(f)
                if os.path.exists(local):
                    os.remove(local)
                crc = os.path.join(
                    os.path.dirname(local), f".{os.path.basename(local)}.crc"
                )
                if os.path.exists(crc):
                    os.remove(crc)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        self._splice_bloom_index(removed=files, added=new_files)
        return len(files)

    def _splice_bloom_index(
        self, *, removed: list[str], added: list[str]
    ) -> None:
        """Incremental index maintenance after a file splice: drop the
        rows of removed files, build rows for the added files only (one
        scan of the NEW files, not the table), union, swap."""
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
            tmp = f"{idx_path}__tmp_{uuid.uuid4().hex[:8]}"
            try:
                kept.write.mode("overwrite").parquet(tmp)
                self.spark.read.parquet(tmp).write.mode("overwrite").parquet(
                    idx_path
                )
            finally:
                shutil.rmtree(tmp, ignore_errors=True)

    # -- maintenance ---------------------------------------------------------

    def optimize(self, target_partitions: int | None = None) -> None:
        """Small-file compaction — the reference's OPTIMIZE analog
        (``light_transform.py:1394-1409``). Delta: real OPTIMIZE+VACUUM."""
        if self.fmt == "delta" and _HAS_DELTA:  # pragma: no cover
            self.spark.sql(f"OPTIMIZE delta.`{self.path}`")
            DeltaTable.forPath(self.spark, self.path).vacuum(168)
            return
        df = self.read()
        # 4:1 bin-packing sized from the scan's INPUT FILE count —
        # driver-side metadata, never a df.rdd materialization of the
        # analyzed plan just to read a partition count
        n = target_partitions or max(1, len(df.inputFiles()) // 4)
        self._checkpointed_overwrite(df.coalesce(n))

    def drop_partitions(self, column: str, *, before: str) -> int:
        """Partition-level retention (TTL): remove every partition of
        ``column`` whose value sorts strictly below ``before``.

        This is a METADATA operation — whole partition directories are
        unlinked; no row is ever read or rewritten, which is the only
        viable shape for expiring days out of a 100 TB date-partitioned
        table (a filtered rewrite would scan everything to delete 1%).
        Values compare as their directory strings, so ISO dates and
        zero-padded numerics order correctly. Returns the number of
        partitions dropped. With Delta this is
        ``DELETE WHERE column < before`` + VACUUM (file-level under the
        same transaction log).
        """
        if column not in self.partition_columns:
            raise ValueError(
                f"{column!r} is not a partition column of this table "
                f"(partitioned by {self.partition_columns})"
            )
        if self.fmt == "delta" and _HAS_DELTA:  # pragma: no cover
            self.spark.sql(
                f"DELETE FROM delta.`{self.path}` WHERE {column} < '{before}'"
            )
            return -1  # Delta tracks removal in the log, not dir counts
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
            f"CREATE TABLE IF NOT EXISTS {table_name} USING {self.fmt.upper()} "
            f"LOCATION '{self.path}'"
        )
