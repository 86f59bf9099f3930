"""Incremental ingestion: batch micro-runs and Structured Streaming.

The reference's notion of streaming is watermark-driven batch micro-runs
(I2: read last CONFIRMED mark, filter ``col > wm``, extract, save max as
PENDING, confirm — ``incremental.py:257-309`` /
``orchestrator.py:556-629``), with late/updated rows handled by
re-extracting a trailing window and MERGE-upserting (I4).

``IncrementalRunner`` reproduces exactly that on any DataFrame-producing
source. ``stream_merge_ingest`` is the Spark-native upgrade path: a
Structured Streaming file source whose ``foreachBatch`` performs the
same dedup + MERGE per micro-batch, giving continuous ingestion with
identical stage-table semantics.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cdk_datalake_ingest_upeu_spark.operators.stage_writer import StageTable, dedup_latest
from cdk_datalake_ingest_upeu_spark.plans.strategy import LoadMode
from cdk_datalake_ingest_upeu_spark.plans.watermark import WatermarkStore


def _overlap(*thunks) -> None:
    """Run independent Spark actions concurrently (guide §2.6: actions
    are only sequential because driver code calls them sequentially).
    Used for the per-micro-batch sink pairs below — each batch lands an
    output write AND an index/partner write that share no dependency,
    so overlapping them cuts the per-batch serial floor roughly in
    half. Exceptions propagate (first failure wins), so a failed write
    still fails the epoch exactly as the serial form did."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(thunks)) as ex:
        futures = [ex.submit(t) for t in thunks]
        for f in futures:
            f.result()


class IncrementalRunner:
    def __init__(
        self,
        store: WatermarkStore,
        *,
        table: str,
        column: str,
    ):
        self.store = store
        self.table = table
        self.column = column

    def run(
        self,
        source: Callable[[], DataFrame],
        sink: Callable[[DataFrame], None],
        *,
        mode: LoadMode = LoadMode.NORMAL,
    ) -> int:
        """One micro-run: filter above-watermark rows, land them, 2-phase
        advance the mark. Returns rows ingested."""
        if mode == LoadMode.RESET:
            self.store.reset(self.table, self.column)

        df = source()
        wm = None
        if mode in (LoadMode.NORMAL, LoadMode.REPROCESS):
            wm = self.store.get(self.table, self.column)
        if wm is not None:
            df = df.filter(F.col(self.column) > F.lit(wm))

        df = df.cache()
        try:
            stats = df.agg(
                F.count(F.lit(1)).alias("n"), F.max(self.column).alias("mx")
            ).first()
            n, new_mark = stats["n"], stats["mx"]
            if n == 0:
                return 0
            advance = mode != LoadMode.REPROCESS
            if advance:
                self.store.begin(self.table, self.column, _to_py(new_mark))
            try:
                sink(df)
            except Exception:
                if advance:
                    self.store.rollback(self.table, self.column)
                raise
            if advance:
                self.store.confirm(self.table, self.column)
            return int(n)
        finally:
            df.unpersist()


def _to_py(value):
    try:
        return value.item()  # numpy scalars from Arrow paths
    except AttributeError:
        return value


def stream_merge_ingest(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    stage: StageTable,
    *,
    key_columns: list[str],
    event_time_column: str,
    watermark_delay: str = "10 minutes",
    checkpoint_dir: str,
    query_name: str = "stream_merge_ingest",
):
    """Continuous file ingestion with MERGE semantics per micro-batch.

    Each micro-batch is deduplicated to the latest row per key (W1) and
    MERGE-upserted into the stage table — the streaming equivalent of the
    reference's trailing-window + MERGE late-data handling (I4). The
    event-time watermark bounds streaming dedup state.
    """

    def handle_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if not batch_df.take(1):
            return
        latest = dedup_latest(batch_df, key_columns, [event_time_column])
        stage.merge(latest, key_columns)

    stream = (
        spark.readStream.schema(schema)
        .parquet(source_dir)
        .withWatermark(event_time_column, watermark_delay)
    )
    return (
        stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .start()
    )


def stream_change_feed_ingest(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    stage: StageTable,
    *,
    key_columns: list[str],
    op_column: str = "op",
    seq_column: str,
    max_files_per_trigger: int = 1,
    checkpoint_dir: str,
    query_name: str = "stream_change_feed",
):
    """Continuous CDC ingestion: each micro-batch of an
    insert/update/delete feed is applied through
    ``StageTable.apply_change_feed`` — latest op per key within the
    batch wins, deletes remove keys, and ops arriving in LATER batches
    override earlier state (cross-batch ordering comes from the feed's
    arrival order, the standard CDC-stream contract). The streaming
    twin of the batch ``stage_change_feed_apply`` query, drained
    against the same oracle."""

    def handle_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if not batch_df.take(1):
            return
        stage.apply_change_feed(
            batch_df,
            key_columns,
            op_column=op_column,
            seq_column=seq_column,
        )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("latestFirst", "false")
        .parquet(source_dir)
    )
    return (
        stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .start()
    )


def stream_quarantine_ingest(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    rules,
    *,
    good_dir: str,
    quarantine_dir: str,
    checkpoint_dir: str,
    query_name: str = "stream_quarantine_ingest",
):
    """Dead-letter-queue ingestion: per-row expectation routing.

    Every arriving micro-batch is split by the row-level expectation
    rules (operators/expectations.py — ``unique``/``foreign_key`` are
    table-grain and rejected here): rows violating ANY rule land in the
    quarantine sink tagged with the comma-joined list of failed rule
    names (the replay key for reprocessing after a fix); clean rows
    land in the good sink. One boolean expression per rule, evaluated
    once per row inside the batch scan — the split is two filtered
    writes of the same in-memory batch, no second source read, no
    shuffle.

    The pattern the reference lacks: its severity gate ABORTS the whole
    load past a threshold (light_transform.py:1471-1509); a quarantine
    keeps the pipeline flowing while preserving every bad row for
    replay — at 100 TB/day aborting on 0.1% bad rows is an outage,
    quarantining them is a Tuesday.
    """
    from cdk_datalake_ingest_upeu_spark.operators.expectations import (
        _violation_expr,
    )

    table_grain = [r.name for r in rules if r.kind in ("unique", "foreign_key")]
    if table_grain:
        raise ValueError(
            "stream_quarantine_ingest routes per-row; table-grain rules "
            f"{table_grain} belong in a batch expectations_report"
        )
    tagged_col = F.array_compact(
        F.array(
            *[
                F.when(_violation_expr(r), F.lit(r.name)).otherwise(F.lit(None))
                for r in rules
            ]
        )
    )

    def handle_batch(batch_df: DataFrame, epoch_id: int) -> None:
        import os

        # foreachBatch is at-least-once: a failed/retried epoch re-runs
        # with the SAME epoch_id. Append-mode writes would duplicate the
        # whole batch; overwriting a per-epoch partition directory makes
        # the retry idempotent (readers of the sink root see an `epoch`
        # partition column they can ignore or audit by).
        tagged = batch_df.withColumn("__failed", tagged_col)
        bad = tagged.filter(F.size("__failed") > 0).withColumn(
            "failed_rules", F.array_join("__failed", ",")
        )
        # quarantine and good sinks are independent filters of the same
        # batch — land them concurrently (§2.6)
        _overlap(
            lambda: bad.drop("__failed").write.mode("overwrite").parquet(
                os.path.join(quarantine_dir, f"epoch={epoch_id}")
            ),
            lambda: tagged.filter(F.size("__failed") == 0)
            .drop("__failed")
            .write.mode("overwrite")
            .parquet(os.path.join(good_dir, f"epoch={epoch_id}")),
        )

    stream = spark.readStream.schema(schema).parquet(source_dir)
    return (
        stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .start()
    )


def stream_rollup_maintenance_reader(rollup_dir: str):
    """Path of the current readable rollup generation (follows LATEST;
    the marker's second line is the last-applied epoch id)."""
    import os

    with open(os.path.join(rollup_dir, "LATEST")) as f:
        return f.read().strip().split("\n")[0]


def stream_rollup_maintenance(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    *,
    keys: list[str],
    rollup_dir: str,
    checkpoint_dir: str,
    partial_fn: Callable[[DataFrame], DataFrame],
    max_files_per_trigger: int | None = None,
    query_name: str = "stream_rollup_maintenance",
):
    """Continuous materialized-rollup maintenance: each micro-batch is
    aggregated to a KB-scale re-aggregatable partial (count/sum/min/max
    — ``partial_fn`` is :func:`operators.rollup.rollup_partial` bound to
    the metric spec) and additively merged into the stored rollup. The
    alternative — a streaming full aggregation — holds every group in
    state forever; the additive-merge form keeps state ON DISK in the
    rollup artifact itself and each refresh costs the new batch plus a
    rollup-sized join. Generations alternate between two directories so
    a crash mid-write never corrupts the readable rollup (with Delta the
    merge is one additive MERGE statement and the buffer disappears)."""
    import os

    from cdk_datalake_ingest_upeu_spark.operators.rollup import additive_merge

    gens = [os.path.join(rollup_dir, "a"), os.path.join(rollup_dir, "b")]

    marker = os.path.join(rollup_dir, "LATEST")
    os.makedirs(rollup_dir, exist_ok=True)

    def handle_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if not batch_df.take(1):
            return
        stored, cur, applied = None, None, -1
        if os.path.exists(marker):
            with open(marker) as f:
                cur, applied_txt = f.read().strip().split("\n")
            applied = int(applied_txt)
            # exactly-once under at-least-once retries: if this epoch's
            # merge already promoted (the retry boundary fell after the
            # marker rename), re-merging would double-count the batch
            if epoch_id <= applied:
                return
            stored = spark.read.parquet(cur)
        # write the generation the marker does NOT point to — never the
        # one being lazily read (epoch parity is unsafe: skipped empty
        # batches advance epoch_id without advancing the marker)
        nxt = gens[1] if cur == gens[0] else gens[0]
        merged = additive_merge(stored, partial_fn(batch_df), keys)
        merged.write.mode("overwrite").parquet(nxt)
        tmp = marker + ".tmp"
        with open(tmp, "w") as f:
            f.write(f"{nxt}\n{epoch_id}")
        os.replace(tmp, marker)  # atomic promote: readers never see a torn state

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)
    return (
        stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .start()
    )


def stream_paragraph_dedup(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    *,
    out_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    window_tokens: int = 20,
    max_files_per_trigger: int = 1,
    query_name: str = "stream_paragraph_dedup",
):
    """Continuous paragraph-grain dedup: every arriving micro-batch of
    documents is deduped against the persisted seen-chunk index
    (operators/dedup.paragraph_dedup ``seen=``), the surviving per-doc
    text lands in ``out_dir``, and the batch's KEPT chunks are appended
    to the index — so any unit landed by an earlier batch is dropped
    from all later ones. The streaming twin of
    ``dedup_incremental_paragraph``.

    Idempotent under foreachBatch's at-least-once retries: both sinks
    are per-epoch overwrite partition directories, and the seen index
    for epoch N reads only partitions with epoch < N — a half-written
    epoch-N index from a failed attempt is invisible to its own retry.

    Scale shape: per micro-batch cost is the batch-sized
    first-occurrence shuffle plus one join against the index; the index
    carries one row per UNIQUE unit ever kept (the canonical chunk
    set), never full history text.
    """
    import glob as _glob
    import os as _os

    from cdk_datalake_ingest_upeu_spark.operators.dedup import paragraph_dedup

    def handle_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if not batch_df.take(1):
            return
        seen = None
        prior = [
            p
            for p in _glob.glob(_os.path.join(index_dir, "epoch=*"))
            if int(_os.path.basename(p).split("=", 1)[1]) < epoch_id
        ]
        if prior:
            seen = spark.read.parquet(*prior)
        result = paragraph_dedup(
            batch_df,
            id_col,
            text_col,
            window_tokens=window_tokens,
            seen=seen,
        ).localCheckpoint(eager=True)  # compute ONCE; both sinks reuse it
        # kept chunks = units of the batch's surviving text; re-chunking
        # the deduped output is exact — every unit is exactly
        # window_tokens long except a document's final one, which stays
        # final, so concatenated survivors re-split on the same
        # boundaries
        from cdk_datalake_ingest_upeu_spark.operators.dedup import (
            paragraph_chunks,
        )

        # NOTE r15: overlapping these two sinks with _overlap was
        # measured WORSE (+6..10% on the wrapper, two interleaved A/B
        # samples) — the out write of the checkpointed result is near
        # free, so the thread fan-out only adds contention. Serial.
        result.write.mode("overwrite").parquet(
            _os.path.join(out_dir, f"epoch={epoch_id}")
        )
        paragraph_chunks(
            result.filter(F.col("n_kept") > 0).select(
                F.col(id_col), F.col("text_dedup").alias(text_col)
            ),
            id_col,
            text_col,
            window_tokens=window_tokens,
        ).select("chunk").distinct().write.mode("overwrite").parquet(
            _os.path.join(index_dir, f"epoch={epoch_id}")
        )

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.option("latestFirst", "false").parquet(source_dir)
    return (
        stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .start()
    )


def stream_span_dedup(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    *,
    out_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    window_tokens: int = 8,
    max_files_per_trigger: int = 1,
    query_name: str = "stream_span_dedup",
):
    """Continuous exact-substring dedup: every arriving micro-batch is
    span-deduped against the persisted digest index of all EARLIER
    arrivals (operators/dedup.substring_span_dedup ``seen=``), the
    surviving per-doc text lands in ``out_dir``, and the batch's RAW
    window digests append to the index. The streaming twin of
    ``incremental_substring_span_dedup``.

    The index holds digests of the raw arrivals (the immutable raw
    zone), NOT of the deduped output — deliberately different from
    :func:`stream_paragraph_dedup`, which indexes kept units: span
    dedup's contract is "a span seen in ANY earlier arrival makes
    later occurrences duplicates" (the landed raw copy is the one that
    stays), whereas re-indexing deduped text would hash spans that
    became adjacent only after token removal — digests of text that
    never existed contiguously in any document.

    Idempotent under foreachBatch's at-least-once retries (same scheme
    as the paragraph twin): per-epoch overwrite directories, and epoch
    N reads only index partitions with epoch < N.

    Scale shape: per micro-batch cost is span dedup's linear digest
    shuffles over the BATCH plus one digest-keyed semi-join against
    the stored index; history text is never re-read and the index
    carries one 32-byte digest per distinct window ever landed.
    """
    import glob as _glob
    import os as _os

    from cdk_datalake_ingest_upeu_spark.operators.dedup import (
        substring_span_dedup,
        substring_span_index,
    )

    def handle_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if not batch_df.take(1):
            return
        seen = None
        prior = [
            p
            for p in _glob.glob(_os.path.join(index_dir, "epoch=*"))
            if int(_os.path.basename(p).split("=", 1)[1]) < epoch_id
        ]
        if prior:
            seen = spark.read.parquet(*prior)
        # the deduped output and the raw-digest index share no
        # dependency — land them concurrently (one serial write each
        # was ~half this handler's wall time per batch)
        _overlap(
            lambda: substring_span_dedup(
                batch_df,
                id_col,
                text_col,
                window_tokens=window_tokens,
                seen=seen,
            ).write.mode("overwrite").parquet(
                _os.path.join(out_dir, f"epoch={epoch_id}")
            ),
            lambda: substring_span_index(
                batch_df, id_col, text_col, window_tokens=window_tokens
            ).write.mode("overwrite").parquet(
                _os.path.join(index_dir, f"epoch={epoch_id}")
            ),
        )

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.option("latestFirst", "false").parquet(source_dir)
    return (
        stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .start()
    )


def stream_dsir_scoring(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    *,
    model_path: str,
    threshold_q4: int,
    out_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 4096,
    seed: str = "dsir",
    max_files_per_trigger: int = 1,
    query_name: str = "stream_dsir_scoring",
):
    """Continuous DSIR scoring against a FROZEN stored model
    (operators/sampling — the streaming twin of
    ``dsir_incremental_scoring``): the count index at ``model_path`` is
    loaded once, its lam table broadcast to every micro-batch; each
    arriving batch is scored in one token pass, classified against the
    frozen ``threshold_q4``, and its own additive count index lands at
    ``index_dir/epoch=N`` so a later refit can fold the stream back in
    without ever re-reading its text.

    Because the model is frozen, per-document scores are INVARIANT to
    how the stream was batched — the drained output equals a single
    batch scoring of everything that arrived, which is exactly what an
    oracle can recompute. Idempotent under foreachBatch's
    at-least-once retries: per-epoch overwrite directories.

    Scale shape: per micro-batch cost is one linear token pass over
    the batch plus a broadcast join against the <= ``buckets``-row lam
    table; the per-epoch index append is a KB-scale write.
    """
    import os as _os

    from cdk_datalake_ingest_upeu_spark.operators.sampling import (
        dsir_count_index,
        dsir_lam_table,
        dsir_score_batch,
    )
    from cdk_datalake_ingest_upeu_spark.operators.scratch import (
        scratch_persist,
    )
    from pyspark.sql import functions as F

    # registered on the CALLER's scratch registry (the micro-batch
    # thread only reads it), so the wrapper's finalize() releases it
    lam = scratch_persist(
        dsir_lam_table(spark.read.parquet(model_path), buckets=buckets)
    )
    lam.count()  # materialize once, before the first micro-batch

    def handle_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if not batch_df.take(1):
            return
        # NOTE r15: overlapping these two sinks with _overlap was
        # measured WORSE (-4..5% on the wrapper, two interleaved A/B
        # samples) — both legs are shuffle-heavy over the same batch
        # and contend; kept serial deliberately.
        dsir_score_batch(
            batch_df,
            lam,
            id_col=id_col,
            text_col=text_col,
            buckets=buckets,
            seed=seed,
        ).withColumn(
            "accepted", F.col("score_q4") >= F.lit(int(threshold_q4))
        ).write.mode("overwrite").parquet(
            _os.path.join(out_dir, f"epoch={epoch_id}")
        )
        idx = dsir_count_index(
            batch_df,
            F.lit(False),
            text_col=text_col,
            buckets=buckets,
            seed=seed,
        )
        idx.write.mode("overwrite").parquet(
            _os.path.join(index_dir, f"epoch={epoch_id}")
        )
        idx.unpersist()

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.option("latestFirst", "false").parquet(source_dir)
    return (
        stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .start()
    )


def stream_versioned_append(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    *,
    table_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    query_name: str = "stream_versioned_append",
):
    """Continuous ingestion into the versioned stage table
    (``operators/versioned.VersionedStageTable``): every micro-batch
    lands as one commit, so the commit log doubles as the stream's
    ledger — downstream consumers read exact-once increments through
    :meth:`changes` (an append's feed costs only the appended files),
    and time travel reproduces the table as of any micro-batch.

    Exactly-once at the COMMIT level: the epoch id rides the manifest
    (Delta's txn-version idempotent-writes pattern), so a foreachBatch
    at-least-once retry of an already-committed epoch is a no-op
    instead of a double append.

    Scale shape: per micro-batch cost is writing the batch's files plus
    a KB manifest rename; table size never enters."""
    from cdk_datalake_ingest_upeu_spark.operators.versioned import (
        VersionedStageTable,
    )

    table = VersionedStageTable(spark, table_path)

    def handle_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if not batch_df.take(1):
            return
        table.append(batch_df, epoch=int(epoch_id))

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.option("latestFirst", "false").parquet(source_dir)
    return (
        stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .start()
    )
