"""Streaming sinks: checkpointed partitioned parquet, and a foreachBatch
bridge into the engine's incremental meta protocol.

The reference's incrementality is pull-based (meta file says which dates
to extract — meta_process.py:61-125). Structured Streaming inverts that:
the checkpoint owns exactly-once progress, and the meta file becomes a
downstream artifact other (batch) consumers can keep reading. The
``foreachBatch`` sink writes each micro-batch partitioned by date and
appends the batch's dates to the same meta file the batch ETL uses — so
batch and streaming ingestion are interchangeable behind one protocol.

Scale: partitioned append parquet + checkpointing is the standard
streaming lakehouse layout; one directory per event date keeps partition
pruning effective for every downstream batch query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..sources.connector import FileSystemConnector


def write_stream_parquet(
    df: DataFrame,
    path: str,
    checkpoint: str,
    partition_by: list[str] | None = None,
    trigger_available_now: bool = False,
) -> StreamingQuery:
    """Plain checkpointed parquet sink (append mode)."""
    writer = (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def write_stream_with_meta(
    events: DataFrame,
    connector: FileSystemConnector,
    data_key: str,
    meta_key: str,
    checkpoint: str,
    ts_col: str = "ts",
    trigger_available_now: bool = False,
) -> StreamingQuery:
    """foreachBatch sink: date-partitioned parquet append + meta-file update.

    Each micro-batch appends under ``data_key/date=YYYY-MM-DD/`` and
    records its distinct event dates in the meta file — the exact state
    the batch ETL's ``return_date_list`` consumes, so a batch job can take
    over (or audit) the stream at any point.
    """
    with_date = events.withColumn("date", F.to_date(F.col(ts_col)))
    sink = make_meta_sink(connector, data_key, meta_key)

    writer = (
        with_date.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def make_meta_sink(
    connector: FileSystemConnector, data_key: str, meta_key: str
):
    """Build the foreachBatch sink function. REPLAY-IDEMPOTENT: foreachBatch
    is at-least-once (a crash between a batch's write and the checkpoint
    commit re-runs the batch), so a plain parquet append would duplicate
    the replayed batch's rows. Each batch therefore writes under its own
    ``_batch_id`` partition with DYNAMIC partition overwrite: a replay
    overwrites exactly its own partitions and nothing else — idempotent
    without a transaction log, and downstream date pruning still works
    (``date`` stays the leading partition column). The meta update was
    already idempotent (only never-seen dates are appended).

    LAYOUT NOTE: ``_batch_id`` is an idempotency implementation detail,
    not part of the logical schema — batch consumers should read the lake
    through :func:`read_stream_table`, which hides it. Lakes written by
    the older plain-append sink (no ``_batch_id`` directories) read
    through the same helper unchanged; to migrate such a lake in place,
    rewrite it once under ``_batch_id=-1`` (any constant), after which
    replayed and historical data share one layout."""
    from ..meta import update_meta_file

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        cached = batch_df.withColumn("_batch_id", F.lit(batch_id)).persist()
        prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        try:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
            # the write's own emptiness probe: None = empty batch, no meta
            if connector.write(cached, data_key, "parquet", mode="overwrite",
                               partition_by=["date", "_batch_id"]) is None:
                return
            dates = sorted(
                r.date.isoformat() for r in cached.select("date").distinct().collect()
            )
            existing = _meta_dates(connector, meta_key)
            new_dates = [d for d in dates if d not in existing]
            if new_dates:
                update_meta_file(connector, meta_key, new_dates)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)
            cached.unpersist()

    return sink


def read_stream_table(spark, path: str) -> DataFrame:
    """Batch view over a lake written by :func:`make_meta_sink`.

    Drops the ``_batch_id`` idempotency partition column so downstream
    batch consumers see the logical schema only (``date`` remains, and
    date-filter partition pruning still applies — ``_batch_id`` is a
    sub-partition of ``date``). Also reads pre-``_batch_id`` lakes (the
    column simply isn't present to drop)."""
    df = spark.read.parquet(path)
    if "_batch_id" in df.columns:
        df = df.drop("_batch_id")
    return df


def _meta_dates(connector: FileSystemConnector, meta_key: str) -> set[str]:
    from ..meta import META_DATE_COL, _read_meta

    meta = _read_meta(connector, meta_key)
    if meta is None:
        return set()
    return set(meta[META_DATE_COL])


# --------------------------------------------------------- CDC upsert sink

def _paths(spark, *path_strs):
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    paths = [jvm.org.apache.hadoop.fs.Path(p) for p in path_strs]
    return (paths[0].getFileSystem(hconf), *paths)


def _swap_dir(spark, staging: str, final: str) -> None:
    """Publish ``staging`` as ``final`` without a data-loss window: the
    old ``final`` is RENAMED ASIDE (to ``<final>._old``), never deleted
    before the new data is in place. Crash anywhere leaves at least one
    complete copy on disk for :func:`_recover_snapshot` (or, for WAP, a
    re-run) to restore; the aside copy is removed only after the new
    snapshot is live. Also used by lake_queries.write_audit_publish —
    one publish implementation, not two."""
    trash = final + "._old"
    fs, s_path, f_path, t_path = _paths(spark, staging, final, trash)
    if fs.exists(t_path):
        fs.delete(t_path, True)  # debris from an earlier interrupted swap
    if fs.exists(f_path) and not fs.rename(f_path, t_path):
        raise IOError(f"publish: could not move {final} aside")
    if not fs.rename(s_path, f_path):
        # restore the previous state before surfacing the error
        if fs.exists(t_path):
            fs.rename(t_path, f_path)
        raise IOError(f"publish rename {staging} -> {final} failed")
    if fs.exists(t_path):
        fs.delete(t_path, True)


def _recover_snapshot(spark, final: str) -> None:
    """Heal an interrupted :func:`_swap_dir`: if ``final`` is missing but
    a complete ``._staging`` (the newer snapshot, fully written before
    the swap began) or ``._old`` (the previous snapshot) copy exists,
    rename it back. Replaying the interrupted batch on the recovered
    state is a no-op either way (the sink is replay-idempotent)."""
    fs, f_path, s_path, t_path = _paths(
        spark, final, final + "._staging", final + "._old"
    )
    if fs.exists(f_path):
        return
    if fs.exists(s_path):
        fs.rename(s_path, f_path)
    elif fs.exists(t_path):
        fs.rename(t_path, f_path)


def make_cdc_sink(path: str, key: str, order_cols: list[str], op_col: str = "op"):
    """foreachBatch sink maintaining a CURRENT-SNAPSHOT table at ``path``
    from a CDC changelog stream (the streaming twin of
    operators.lake_queries.apply_changelog).

    Each micro-batch unions the existing snapshot with the batch's
    changes and re-runs last-writer-wins per key. The stored snapshot
    KEEPS the winning row even when it is a delete — a 'D' tombstone must
    outrank any older update that arrives in a later (out-of-order or
    replayed) micro-batch, or the deleted key would resurrect; readers
    go through :func:`read_cdc_table`, which hides tombstones. (At 100 TB
    tombstones compact away after a retention window, the same rule Kafka
    compaction and Delta DELETE follow.) Properties under foreachBatch's
    at-least-once contract:

    - REPLAY-IDEMPOTENT: re-applying a batch re-unions rows the snapshot
      already reflects — the same winners win again.
    - OUT-OF-ORDER-SAFE: a late batch whose rows are older than the
      snapshot's (by ``order_cols``) changes nothing, because the
      snapshot row outranks it in the same window.
    - READ-THEN-REPLACE is staged: the new snapshot writes to a
      ``._staging`` prefix while the old one is still readable; the swap
      renames the old snapshot ASIDE rather than deleting it, so a crash
      at any point leaves a complete copy that the next batch restores
      (``_recover_snapshot``) before applying itself.

    Scale: state is the snapshot itself (one row per key), stored as a
    table — not executor memory; per batch the work is one
    rank-limit-pushed window over snapshot+delta keyed on ``key``. For a
    partitioned 100 TB snapshot the same sink narrows to the touched
    partitions via dynamic partition overwrite (the make_meta_sink
    pattern); the full-rewrite form here is the simplest correct core.
    """
    from ..operators.lake_queries import apply_changelog

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # an empty batch would still rewrite and re-swap the whole snapshot
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        _recover_snapshot(spark, path)  # heal any interrupted publish
        fs, p = _paths(spark, path)
        if fs.exists(p):
            current = spark.read.parquet(path)
            combined = current.unionByName(batch_df.select(*current.columns))
        else:
            combined = batch_df
        snapshot = apply_changelog(
            combined, key, order_cols, op_col, keep_deletes=True
        )
        staging = path + "._staging"
        snapshot.write.mode("overwrite").parquet(staging)
        _swap_dir(spark, staging, path)

    return sink


def read_cdc_table(spark, path: str, op_col: str = "op") -> DataFrame:
    """Live-row view over a make_cdc_sink snapshot (tombstones hidden)."""
    df = spark.read.parquet(path)
    return df.filter(F.col(op_col) != "D").drop(op_col)


def write_stream_cdc(
    changes: DataFrame,
    path: str,
    checkpoint: str,
    key: str,
    order_cols: list[str],
    op_col: str = "op",
    trigger_available_now: bool = False,
) -> StreamingQuery:
    """Run a CDC changelog stream into a current-snapshot table."""
    writer = (
        changes.writeStream.foreachBatch(
            make_cdc_sink(path, key, order_cols, op_col)
        )
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ------------------------------------------------------- drift monitor sink

def value_shares(df: DataFrame, buckets: int, vmax: float) -> DataFrame:
    """Per-(event_type, bucket) share of ``value`` — the histogram both
    the reference and each micro-batch are reduced to. The bucketing IS
    operators.analytics_queries.drift_bucket (imported, not copied), so
    the streaming monitor and the batch q_drift_tvd cannot diverge."""
    from ..operators.analytics_queries import drift_bucket

    counts = (
        df.select("event_type", drift_bucket("value", buckets, vmax).alias("b"))
        .groupBy("event_type", "b")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = counts.groupBy("event_type").agg(F.sum("n").alias("t"))
    return counts.join(totals, "event_type").select(
        "event_type", "b", (F.col("n") / F.col("t")).alias("p")
    )


def make_drift_monitor(
    reference: DataFrame,
    metrics_path: str,
    buckets: int | None = None,
    vmax: float | None = None,
):
    """foreachBatch sink: score each micro-batch's value distribution
    against a frozen REFERENCE histogram (training/launch window) and
    append one (batch_id, event_type, n_events, tvd) row per type to a
    metrics table — the train/serve drift monitor run inside the
    ingest stream instead of as a nightly batch.

    The reference is collected ONCE (bucket-count-sized — planning
    metadata, not data) and folded into every batch's plan as a literal
    frame. Replay-idempotent: metrics land under their ``_batch_id``
    partition with dynamic overwrite, the make_meta_sink rule. A type
    present in the reference but ABSENT from a batch still gets its row
    with n_events 0 and tvd NULL (no traffic means no serving
    distribution to compare — the zero itself is the alert condition);
    total traffic loss is the loudest drift, not a reason to go silent.
    """
    from ..operators.analytics_queries import DRIFT_BUCKETS, DRIFT_VMAX

    buckets = buckets if buckets is not None else DRIFT_BUCKETS
    vmax = vmax if vmax is not None else DRIFT_VMAX
    ref_rows = [
        (r["event_type"], int(r["b"]), float(r["p"]))
        for r in value_shares(reference, buckets, vmax).collect()
    ]

    def monitor(batch_df: DataFrame, batch_id: int) -> None:
        # an empty batch would write n_events = 0 rows for every reference type
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        batch_df = batch_df.persist()  # 3 consumers — scan the input once
        try:
            ref = spark.createDataFrame(
                ref_rows, "event_type string, b int, q double"
            )
            cur = value_shares(batch_df, buckets, vmax)
            merged = cur.join(ref, ["event_type", "b"], "full_outer").select(
                "event_type",
                F.coalesce("p", F.lit(0.0)).alias("p"),
                F.coalesce("q", F.lit(0.0)).alias("q"),
            )
            n_by_type = batch_df.groupBy("event_type").agg(
                F.count(F.lit(1)).alias("n_events")
            )
            metrics = (
                merged.groupBy("event_type")
                .agg((F.sum(F.abs(F.col("p") - F.col("q"))) / 2.0).alias("tvd"))
                # LEFT join: a reference type with zero batch traffic must
                # still report; with no serving distribution its tvd is
                # undefined (the half-mass artifact of comparing against an
                # all-zero histogram is NOT a real 1.0-drift reading)
                .join(n_by_type, "event_type", "left")
                .withColumn("n_events", F.coalesce("n_events", F.lit(0)))
                .withColumn(
                    "tvd", F.when(F.col("n_events") > 0, F.col("tvd"))
                )
                .withColumn("_batch_id", F.lit(batch_id))
            )
            prev = spark.conf.get(
                "spark.sql.sources.partitionOverwriteMode", "static"
            )
            try:
                spark.conf.set(
                    "spark.sql.sources.partitionOverwriteMode", "dynamic"
                )
                metrics.write.mode("overwrite").partitionBy("_batch_id").parquet(
                    metrics_path
                )
            finally:
                spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        finally:
            batch_df.unpersist()

    return monitor
