"""Streaming/batch equivalence for the stateful operators.

The unified-API claim this engine makes (one expression tree, batch AND
streaming) is only real if tested: each test stages the events table as a
file-source stream, runs the streaming form to completion (availableNow),
and compares against the batch form on identical input. The checks of
the price-reading streams run again over ``staged_null_events``.
"""

from __future__ import annotations

import ast
import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from trading_data_pipeline_spark.operators.windows import session_agg
from trading_data_pipeline_spark.registry import load
from trading_data_pipeline_spark.streaming.jobs import (
    session_stream,
    stream_events,
)
from trading_data_pipeline_spark.streaming.stateful import running_user_totals


@pytest.fixture(scope="module")
def staged_events(spark, sf_dir, tmp_path_factory):
    """events table rewritten as micro-batch-friendly parquet (4 files so
    availableNow exercises multiple input splits)."""
    src = str(tmp_path_factory.mktemp("stream") / "events")
    load(spark, sf_dir, "events").repartition(4).write.parquet(src)
    return src


def _null_prices(ev):
    """``ev`` with ``value`` NULL on a deterministic subset: every event_id
    divisible by 13, each type's first trade, each type's last trade of
    every day of month divisible by 4, and each type's trade that closes
    its first dollar bar at the default 10,000,000-cent size (on the
    clean prices)."""
    pdf = (
        ev.select("event_id", "ts", "event_type", "value", "props")
        .toPandas()
        .sort_values(["ts", "event_id"])
    )
    pdf["day"] = pdf["ts"].dt.date
    first = pdf.groupby("event_type").head(1)
    day_last = pdf[pdf["ts"].dt.day % 4 == 0].groupby(["event_type", "day"]).tail(1)
    k = pdf["props"].str.extract(r'"k":\s*(\d+)')[0].astype(float).fillna(0)
    dollars = np.floor(pdf["value"] * 100 + 0.5) * k
    crossed = dollars.groupby(pdf["event_type"]).cumsum() >= 10_000_000
    closing = pdf[crossed].groupby("event_type").head(1)
    ids = {int(i) for part in (first, day_last, closing) for i in part["event_id"]}
    assert len(first) == len(closing) == 5 and len(day_last) >= 5
    null = F.col("event_id").isin(sorted(ids)) | (F.col("event_id") % 13 == 0)
    return ev.withColumn("value", F.when(~null, F.col("value")))


@pytest.fixture(scope="module")
def staged_null_events(spark, staged_events, tmp_path_factory):
    """``staged_events`` through :func:`_null_prices`, staged the same way."""
    src = str(tmp_path_factory.mktemp("stream_nulls") / "events")
    _null_prices(spark.read.parquet(staged_events)).repartition(4).write.parquet(src)
    return src


def run_to_completion(stream_df, name: str, mode: str, spark):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "stream did not finish in 180s"
    return spark.table(name)


def replay_days(spark, ev, path: str, monitor, name: str, order_key=None):
    """Stage ``ev`` as one parquet file per day of month, the days sorted
    by ``order_key`` (calendar order by default), and stream the files one
    per trigger through ``monitor`` into memory table ``name``. Returns
    the emitted rows and, in micro-batch order, the files as pandas
    frames."""
    days = sorted(r.d for r in ev.select(F.dayofmonth("ts").alias("d")).distinct().collect())
    order = sorted(days, key=order_key)
    for i, d in enumerate(order):
        (
            ev.filter(F.dayofmonth("ts") == d)
            .coalesce(1)
            .write.mode("append" if i else "overwrite")
            .parquet(f"{path}/f={i:03d}")
        )
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{path}/*")
    )
    # each of the ~30 micro-batches costs about one task per state
    # partition; the monitors' rows do not depend on the partition count
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        got = run_to_completion(monitor(stream), name, "append", spark)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return got.collect(), [
        pd.read_parquet(f"{path}/f={i:03d}") for i in range(len(order))
    ]


def test_streaming_sessions_equal_batch(spark, staged_events):
    batch = session_agg(spark.read.parquet(staged_events))
    stream = session_stream(stream_events(spark, staged_events))
    got = run_to_completion(stream, "t_sessions", "complete", spark)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))


def test_stream_sink_writes_partitioned_parquet_and_meta(
    spark, staged_events, tmp_path
):
    """foreachBatch sink: date-partitioned append + meta dates visible to
    the batch ETL's incremental protocol."""
    from trading_data_pipeline_spark.meta import return_date_list
    from trading_data_pipeline_spark.sources.connector import FileSystemConnector
    from trading_data_pipeline_spark.streaming.sinks import write_stream_with_meta

    conn = FileSystemConnector(spark, str(tmp_path / "lake"))
    q = write_stream_with_meta(
        stream_events(spark, staged_events),
        conn,
        data_key="events_lake",
        meta_key="meta/events_meta.csv",
        checkpoint=str(tmp_path / "ckpt"),
        trigger_available_now=True,
    )
    assert q.awaitTermination(180)

    from trading_data_pipeline_spark.streaming.sinks import read_stream_table

    written = read_stream_table(spark, str(tmp_path / "lake" / "events_lake"))
    src = spark.read.parquet(staged_events)
    assert written.count() == src.count()
    # the _batch_id idempotency partition is hidden from batch consumers
    assert "_batch_id" not in written.columns
    assert "date" in written.columns
    # date partitioning materialized as directories (pruning-effective)
    parts = [p.name for p in (tmp_path / "lake" / "events_lake").iterdir()
             if p.name.startswith("date=")]
    assert len(parts) > 1
    # meta file records every event date → batch protocol sees no gap
    event_dates = {
        r.d.isoformat() for r in src.select(F.to_date("ts").alias("d")).distinct().collect()
    }
    from trading_data_pipeline_spark.streaming.sinks import _meta_dates

    recorded = _meta_dates(conn, "meta/events_meta.csv")
    assert event_dates <= recorded
    # and the batch protocol parses the streamed meta without error
    return_date_list(conn, min(event_dates), "meta/events_meta.csv")


def test_stream_sink_batch_replay_is_idempotent(spark, staged_events, tmp_path):
    """foreachBatch is at-least-once: re-running a batch (crash between
    write and checkpoint commit) must NOT duplicate rows — each batch
    overwrites only its own _batch_id partitions."""
    from trading_data_pipeline_spark.sources.connector import FileSystemConnector
    from trading_data_pipeline_spark.streaming.sinks import make_meta_sink

    conn = FileSystemConnector(spark, str(tmp_path / "lake"))
    sink = make_meta_sink(conn, "events_lake", "meta/events_meta.csv")
    batch = spark.read.parquet(staged_events).withColumn(
        "date", F.to_date("ts")
    )
    b0 = batch.filter(F.dayofmonth("ts") % 2 == 0)
    b1 = batch.filter(F.dayofmonth("ts") % 2 == 1)

    sink(b0, 0)
    sink(b0, 0)  # replay of batch 0 — must be a no-op net effect
    out = spark.read.parquet(str(tmp_path / "lake" / "events_lake"))
    assert out.count() == b0.count()

    sink(b1, 1)  # a NEW batch still appends
    out = spark.read.parquet(str(tmp_path / "lake" / "events_lake"))
    assert out.count() == b0.count() + b1.count()
    # replaying an old batch after later batches landed is still a no-op
    sink(b0, 0)
    out = spark.read.parquet(str(tmp_path / "lake" / "events_lake"))
    assert out.count() == b0.count() + b1.count()


def test_meta_sink_takes_emptiness_from_its_write(
    spark, staged_events, tmp_path, jobs_started
):
    """The sink runs no emptiness probe of its own: the write's probe
    decides. An empty batch writes no rows and leaves the meta file as it
    was. A non-empty batch starts JOBS_PER_BATCH jobs: the write's probe,
    the parquet write, and the distinct-dates collect, whose shuffle stage
    AQE runs as a job of its own."""
    from trading_data_pipeline_spark.sources.connector import FileSystemConnector
    from trading_data_pipeline_spark.streaming.sinks import make_meta_sink

    JOBS_PER_BATCH = 4
    lake = tmp_path / "lake"
    conn = FileSystemConnector(spark, str(lake))
    sink = make_meta_sink(conn, "events_lake", "meta/events_meta.csv")
    batch = spark.read.parquet(staged_events).withColumn(
        "date", F.to_date("ts")
    )
    assert jobs_started("meta-sink", lambda: sink(batch, 0)) == JOBS_PER_BATCH
    meta = (lake / "meta/events_meta.csv").read_bytes()

    sink(batch.limit(0), 1)
    assert (lake / "meta/events_meta.csv").read_bytes() == meta
    assert not list((lake / "events_lake").glob("*/_batch_id=1"))
    out = spark.read.parquet(str(lake / "events_lake"))
    assert out.count() == batch.count()


def test_stateful_running_totals_converge_to_batch(spark, staged_events):
    """applyInPandasWithState totals (update mode, last update per user)
    must converge to the batch groupBy aggregate."""
    events = stream_events(spark, staged_events)
    got_df = run_to_completion(
        running_user_totals(events), "t_totals", "update", spark
    )
    # update mode re-emits a row per user per micro-batch; totals grow
    # monotonically, so the final state is the row with max n_events
    final = {
        r.user_id: (r.n_events, r.total_value)
        for r in got_df.orderBy("n_events").collect()
    }
    want = {
        r.user_id: (r.n, r.total)
        for r in spark.read.parquet(staged_events)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total"),
        )
        .collect()
    }
    assert set(final) == set(want)
    for uid, (n, total) in want.items():
        assert final[uid][0] == n
        assert abs(final[uid][1] - total) < 0.05  # float fold-order tolerance


def test_streaming_quality_gate_equals_batch(spark, sf_dir, tmp_path):
    """The curation quality gate is a stateless codegen'd projection, so
    the SAME expression must run unmodified over readStream — the
    scan-speed filter a streaming ingest pipeline applies before any
    stateful stage."""
    from trading_data_pipeline_spark.functions.text import (
        punct_ratio,
        stopword_ratio,
    )

    docs = load(spark, sf_dir, "documents")
    src = str(tmp_path / "docs_stream")
    docs.write.parquet(src)

    def gate(df):
        toks = F.split("text", " ")
        n = F.size(toks)
        keep = (
            n.between(5, 5000)
            & (stopword_ratio("text") >= 0.01)
            & (punct_ratio("text") <= 0.25)
            & ((F.size(F.array_distinct(toks)) / n) >= 0.2)
        )
        return df.select("doc_id").filter(keep)

    want = {r.doc_id for r in gate(spark.read.parquet(src)).collect()}
    stream = gate(
        spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    )
    got_df = run_to_completion(stream, "t_gate", "append", spark)
    got = {r.doc_id for r in got_df.collect()}
    assert got == want and got


def test_streaming_asof_equals_batch(spark, staged_events):
    """Streaming as-of against a static right side must equal the batch
    asof_join_union on identical input — including ties (right row at the
    left ts) and left rows preceding every right row (NULL)."""
    from trading_data_pipeline_spark.operators.asof import asof_join_union
    from trading_data_pipeline_spark.streaming.jobs import asof_stream

    events = spark.read.parquet(staged_events)
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    signups = events.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", "value"
    )
    want = sorted(
        (r.event_id, r.asof_value)
        for r in asof_join_union(purchases, signups, on="user_id").collect()
    )

    stream = asof_stream(
        stream_events(spark, staged_events).filter(
            F.col("event_type") == "purchase"
        ).select("event_id", "user_id", "ts", "value"),
        signups,
        on="user_id",
    )
    got_df = run_to_completion(stream, "t_asof", "append", spark)
    got = sorted((r.event_id, r.asof_value) for r in got_df.collect())
    assert got == want


def test_asof_stream_rejects_oversized_right_side(spark, staged_events):
    """The right side ships in the task closure, so it must be STATE-SIZED:
    over the cap the job must raise with the foreachBatch/asof_join_union
    escape hatch, never silently collect a fact table to the driver."""
    import pytest

    from trading_data_pipeline_spark.streaming.jobs import asof_stream

    events = spark.read.parquet(staged_events)
    right = events.select("user_id", "ts", "value")
    with pytest.raises(ValueError, match="asof_join_union"):
        asof_stream(
            events.select("event_id", "user_id", "ts", "value"),
            right,
            on="user_id",
            max_right_rows=5,
        )


def test_stream_stream_interval_join_equals_batch(spark, staged_events):
    """Stream-stream interval join (click→purchase attribution within 1h)
    must equal the identical expression run in batch over the same files —
    watermarks bound state on the stream side and no-op in batch."""
    from trading_data_pipeline_spark.streaming.jobs import (
        interval_join_stream,
        stream_events,
    )

    def split_sides(df):
        return (
            df.filter(F.col("event_type") == "click"),
            df.filter(F.col("event_type") == "purchase"),
        )

    batch_l, batch_r = split_sides(spark.read.parquet(staged_events))
    want = sorted(
        (r.l_event, r.r_event)
        for r in interval_join_stream(batch_l, batch_r).collect()
    )
    assert want, "no attributable pairs at this SF — test is vacuous"

    stream_l, stream_r = split_sides(stream_events(spark, staged_events))
    got_df = run_to_completion(
        interval_join_stream(stream_l, stream_r), "t_interval", "append", spark
    )
    got = sorted((r.l_event, r.r_event) for r in got_df.collect())
    assert got == want


def test_streaming_dedup_equals_batch_key_set(spark, staged_events):
    """Watermarked streaming dedup must emit exactly one row per key and
    cover the same key set as batch dropDuplicates over the same files."""
    from trading_data_pipeline_spark.streaming.jobs import dedup_stream, stream_events

    stream = dedup_stream(stream_events(spark, staged_events))
    run_to_completion(stream, "t_dedup", "append", spark)
    got = spark.table("t_dedup").groupBy("user_id", "event_type").count()
    assert got.filter("count > 1").count() == 0  # one emission per key
    want = (
        spark.read.parquet(staged_events)
        .select("user_id", "event_type")
        .distinct()
    )
    got_keys = {(r.user_id, r.event_type) for r in got.collect()}
    want_keys = {(r.user_id, r.event_type) for r in want.collect()}
    assert got_keys == want_keys


def test_streaming_hopping_equals_batch(spark, staged_events):
    """Hopping windows: the streaming form (availableNow, complete mode)
    must produce exactly the batch aggregate on the same files."""
    from trading_data_pipeline_spark.operators.windows import hopping_agg
    from trading_data_pipeline_spark.streaming.jobs import hopping_stream

    batch = {
        tuple(r)
        for r in hopping_agg(
            spark.read.parquet(staged_events), "10 minutes", "5 minutes"
        ).collect()
    }
    streamed = run_to_completion(
        hopping_stream(
            stream_events(spark, staged_events), "10 minutes", "5 minutes"
        ),
        "hop_complete",
        "complete",
        spark,
    )
    assert {tuple(r) for r in streamed.collect()} == batch
    assert batch, "vacuous: no windows produced"


def test_streaming_chunking_equals_batch(spark, sf_dir, tmp_path):
    """Document chunking is stateless per-row arithmetic — the identical
    expression tree must run under readStream (append mode) and produce
    the batch chunk set."""
    from trading_data_pipeline_spark.operators.corpus_queries import (
        q_chunk_documents,
    )
    from trading_data_pipeline_spark.registry import load

    src = str(tmp_path / "docs_stream")
    load(spark, sf_dir, "documents").repartition(4).write.parquet(src)
    batch = {tuple(r) for r in q_chunk_documents(spark, sf_dir).collect()}

    # rebuild the same transform over a streaming source: chunking only
    # touches doc_id/text, so point the op at the staged directory
    stream_docs = spark.readStream.schema(
        "doc_id long, text string, lang string, source string, n_chars long"
    ).parquet(src)
    import trading_data_pipeline_spark.operators.corpus_queries as CQ
    from pyspark.sql import functions as F

    tk = F.split("text", " ")
    starts = F.sequence(F.lit(1), F.size(tk), F.lit(CQ.CHUNK_STRIDE))
    streamed_df = stream_docs.select(
        "doc_id", tk.alias("tk"), F.explode(starts).alias("s")
    ).select(
        "doc_id",
        ((F.col("s") - 1) / CQ.CHUNK_STRIDE).cast("int").alias("chunk_id"),
        F.size(F.slice("tk", F.col("s"), CQ.CHUNK_TOKENS)).alias("n_tokens"),
        F.array_join(F.slice("tk", F.col("s"), CQ.CHUNK_TOKENS), " ").alias(
            "chunk_text"
        ),
    )
    got = run_to_completion(streamed_df, "chunk_stream", "append", spark)
    assert {tuple(r) for r in got.collect()} == batch
    assert batch


def test_streaming_anomaly_equals_batch(spark, staged_events):
    """Stateful rolling z-score (applyInPandasWithState ring buffer) must
    reproduce the batch operator bit-for-bit on the same events."""
    from trading_data_pipeline_spark.operators.analytics_queries import (
        zscore_outliers,
    )
    from trading_data_pipeline_spark.streaming.stateful import anomaly_stream

    batch = {
        tuple(r) for r in zscore_outliers(spark.read.parquet(staged_events)).collect()
    }
    got = run_to_completion(
        anomaly_stream(stream_events(spark, staged_events)),
        "t_anomaly",
        "append",
        spark,
    )
    assert {tuple(r) for r in got.collect()} == batch
    assert batch  # non-vacuous: the data produces scored rows


def test_streaming_anomaly_state_survives_restart(spark, sf_dir, tmp_path):
    """The ring buffer must persist across stream restarts: two runs over
    time-contiguous halves (same checkpoint) together equal one batch run
    over the full data — scores in the second half depend on first-half
    state."""
    from pyspark.sql import functions as F

    from trading_data_pipeline_spark.operators.analytics_queries import (
        zscore_outliers,
    )
    from trading_data_pipeline_spark.registry import load
    from trading_data_pipeline_spark.streaming.stateful import anomaly_stream

    ev = load(spark, sf_dir, "events")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    cut = ev.agg(F.expr("percentile_approx(unix_micros(cast(ts as timestamp)), 0.5)")).collect()[0][0]
    src = str(tmp_path / "halves")
    ckpt = str(tmp_path / "ckpt")
    ev.filter(ts_us <= cut).coalesce(1).write.mode("append").parquet(src)

    out = str(tmp_path / "scored")

    def run_once():
        # parquet sink: the memory sink can't recover from a checkpoint,
        # a file sink can — which is the restart semantics under test
        q = (
            anomaly_stream(stream_events(spark, src))
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180)
        return {tuple(r) for r in spark.read.parquet(out).collect()}

    first = run_once()
    ev.filter(ts_us > cut).coalesce(1).write.mode("append").parquet(src)
    both = run_once()

    batch = {tuple(r) for r in zscore_outliers(ev).collect()}
    assert both == batch
    assert both - first  # the restarted run actually scored new events


def test_streaming_funnel_equals_batch_counts(spark, staged_events):
    """The per-user funnel state machine's final stages must aggregate to
    the batch funnel's exact stage counts and rates."""
    from trading_data_pipeline_spark.operators.analytics_queries import (
        funnel_counts,
    )
    from trading_data_pipeline_spark.streaming.stateful import funnel_stream

    got = run_to_completion(
        funnel_stream(stream_events(spark, staged_events)),
        "t_funnel",
        "update",
        spark,
    )
    # update mode: keep each user's LAST emitted row (highest stage)
    final = (
        got.groupBy("user_id").agg(F.max("stage").alias("stage")).collect()
    )
    stages = [r["stage"] for r in final]
    batch = funnel_counts(spark.read.parquet(staged_events)).collect()[0]
    assert sum(1 for s in stages if s >= 1) == batch["n_signup"]
    assert sum(1 for s in stages if s >= 2) == batch["n_click"]
    assert sum(1 for s in stages if s >= 3) == batch["n_purchase"]


def test_streaming_sessionize_equals_batch(spark, staged_events):
    """The gap-rule state machine must assign the same session ids as the
    batch window operator on identical events."""
    from trading_data_pipeline_spark.operators.profiling_queries import sessionize
    from trading_data_pipeline_spark.streaming.stateful import sessionize_stream

    batch = {
        (r["event_id"], r["user_id"], r["session_id"])
        for r in sessionize(spark.read.parquet(staged_events)).collect()
    }
    got = run_to_completion(
        sessionize_stream(stream_events(spark, staged_events)),
        "t_sessionize",
        "append",
        spark,
    )
    assert {tuple(r) for r in got.collect()} == batch
    assert batch


def test_streaming_funnel_state_survives_restart(spark, sf_dir, tmp_path):
    """Funnel stage state must persist across stream restarts: two runs
    over time-contiguous halves (same checkpoint) must end at exactly the
    batch operator's stage counts — second-half purchases only convert
    because first-half signups are remembered."""
    from trading_data_pipeline_spark.operators.analytics_queries import (
        funnel_counts,
    )
    from trading_data_pipeline_spark.registry import load
    from trading_data_pipeline_spark.streaming.stateful import funnel_stream

    ev = load(spark, sf_dir, "events")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    cut = ev.agg(
        F.expr("percentile_approx(unix_micros(cast(ts as timestamp)), 0.5)")
    ).collect()[0][0]
    src = str(tmp_path / "halves")
    ckpt = str(tmp_path / "ckpt")
    ev.filter(ts_us <= cut).coalesce(1).write.mode("append").parquet(src)

    collected: dict[int, int] = {}

    def sink(batch_df, batch_id):
        for r in batch_df.collect():
            # later emissions overwrite: the final stage per user wins
            collected[r["user_id"]] = max(
                r["stage"], collected.get(r["user_id"], 0)
            )

    def run_once():
        q = (
            funnel_stream(stream_events(spark, src))
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180)

    run_once()
    ev.filter(ts_us > cut).coalesce(1).write.mode("append").parquet(src)
    run_once()

    batch = funnel_counts(ev).collect()[0]
    stages = list(collected.values())
    assert sum(1 for s in stages if s >= 1) == batch["n_signup"]
    assert sum(1 for s in stages if s >= 2) == batch["n_click"]
    assert sum(1 for s in stages if s >= 3) == batch["n_purchase"]


def test_stream_stream_left_outer_interval_join(spark, staged_events):
    """Left-outer stream-stream join: matched pairs equal the batch inner
    join exactly, and every unmatched click whose eligibility window the
    final watermark provably closed emits a null-purchase row. Clicks
    inside the watermark tail may stay buffered — the documented
    streaming-tail semantics — so the assertion is scoped to the closed
    region."""
    from trading_data_pipeline_spark.streaming.jobs import (
        interval_join_stream,
        stream_events,
    )

    gap, wm = "1 hour", "2 hours"

    def split_sides(df):
        return (
            df.filter(F.col("event_type") == "click"),
            df.filter(F.col("event_type") == "purchase"),
        )

    batch_l, batch_r = split_sides(spark.read.parquet(staged_events))
    want_pairs = sorted(
        (r.l_event, r.r_event)
        for r in interval_join_stream(batch_l, batch_r, max_gap=gap,
                                      watermark=wm).collect()
    )
    matched_left = {p[0] for p in want_pairs}

    stream_l, stream_r = split_sides(stream_events(spark, staged_events))
    got_df = run_to_completion(
        interval_join_stream(stream_l, stream_r, max_gap=gap, watermark=wm,
                             how="leftOuter"),
        "t_louter", "append", spark,
    )
    got_pairs = sorted(
        (r.l_event, r.r_event)
        for r in got_df.filter(F.col("r_event").isNotNull()).collect()
    )
    assert got_pairs == want_pairs  # outer mode must not change matches

    # closed region: left rows whose l_ts + gap + wm < max event time
    import datetime

    # the final watermark derives from the max event time of the
    # second-to-last micro-batch, so leave slack well beyond gap+wm for
    # whatever span the last batch covered
    max_ts = spark.read.parquet(staged_events).agg(F.max("ts")).first()[0]
    closed_cutoff = max_ts - datetime.timedelta(hours=9)
    want_nulls = {
        r.event_id
        for r in batch_l.filter(F.col("ts") < F.lit(closed_cutoff)).collect()
        if r.event_id not in matched_left
    }
    got_nulls = {
        r.l_event for r in got_df.filter(F.col("r_event").isNull()).collect()
    }
    assert want_nulls, "no closed-region unmatched clicks — vacuous"
    assert want_nulls <= got_nulls, want_nulls - got_nulls
    # and no null row contradicts a matched pair
    assert not (got_nulls & matched_left)


def test_streaming_cdc_snapshot_equals_batch(spark, sf_dir, tmp_path):
    """The CDC upsert sink, fed the changelog in 4 micro-batches, must
    land on exactly the snapshot batch apply_changelog computes over the
    full log — including keys whose terminal change is a delete."""
    from trading_data_pipeline_spark.operators.lake_queries import (
        apply_changelog,
    )
    from trading_data_pipeline_spark.streaming.sinks import (
        read_cdc_table,
        write_stream_cdc,
    )

    changelog = (
        load(spark, sf_dir, "events")
        .select(
            "user_id",
            F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
            "event_type",
            "value",
            "ts",
            "event_id",
        )
    )
    src = str(tmp_path / "cdc_src")
    changelog.repartition(4).write.parquet(src)
    path = str(tmp_path / "cdc_snapshot")
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)  # force multiple micro-batches
        .parquet(src)
    )
    q = write_stream_cdc(
        stream, path, str(tmp_path / "cdc_ckpt"), "user_id",
        ["ts", "event_id"], trigger_available_now=True,
    )
    assert q.awaitTermination(180), "cdc stream did not finish"

    got = read_cdc_table(spark, path)
    want = apply_changelog(
        spark.read.parquet(src), "user_id", ["ts", "event_id"]
    ).drop("op")
    assert sorted(map(tuple, got.select(*want.columns).collect())) == sorted(
        map(tuple, want.collect())
    )


def test_cdc_sink_tombstone_blocks_late_update(spark, tmp_path):
    """An out-of-order micro-batch carrying an update OLDER than a key's
    delete must not resurrect the key — the stored tombstone outranks it."""
    from trading_data_pipeline_spark.streaming.sinks import (
        make_cdc_sink,
        read_cdc_table,
    )

    path = str(tmp_path / "snap")
    sink = make_cdc_sink(path, "k", ["v"])
    schema = "k long, op string, v long"
    # batch 0: delete at version 5
    sink(spark.createDataFrame([(1, "D", 5)], schema), 0)
    # batch 1 (late): update at version 3 — must stay dead
    sink(spark.createDataFrame([(1, "U", 3)], schema), 1)
    assert read_cdc_table(spark, path).count() == 0
    # batch 2: newer update at version 7 — key comes back
    sink(spark.createDataFrame([(1, "U", 7)], schema), 2)
    rows = read_cdc_table(spark, path).collect()
    assert [(r.k, r.v) for r in rows] == [(1, 7)]


def test_cdc_sink_replay_is_idempotent(spark, tmp_path):
    from trading_data_pipeline_spark.streaming.sinks import (
        make_cdc_sink,
        read_cdc_table,
    )

    path = str(tmp_path / "snap2")
    sink = make_cdc_sink(path, "k", ["v"])
    schema = "k long, op string, v long"
    batch = spark.createDataFrame([(1, "U", 1), (2, "U", 1)], schema)
    sink(batch, 0)
    before = sorted(map(tuple, read_cdc_table(spark, path).collect()))
    sink(batch, 0)  # crash-replay of the same batch
    after = sorted(map(tuple, read_cdc_table(spark, path).collect()))
    assert before == after


def test_streaming_vwap_bars_equal_batch(spark, staged_events):
    """The streaming bar builder shares the batch aggregate list; on the
    same files the emitted bars must match exactly (same epoch-aligned
    bar ids, same OHLCV/VWAP values)."""
    from trading_data_pipeline_spark.operators.trading_queries import vwap_bars
    from trading_data_pipeline_spark.streaming.jobs import vwap_stream

    batch = vwap_bars(spark.read.parquet(staged_events))
    got = run_to_completion(
        vwap_stream(stream_events(spark, staged_events)),
        "t_vwap", "complete", spark,
    )
    assert sorted(map(tuple, got.select(*batch.columns).collect())) == sorted(
        map(tuple, batch.collect())
    )
    assert batch.count() > 0


def test_streaming_drawdown_equals_batch(spark, staged_events):
    """The O(1)-state streaming drawdown must land bit-for-bit on the
    batch decimal-exact figures (final update per user)."""
    from pyspark.sql import Window

    from trading_data_pipeline_spark.operators.trading_queries import (
        max_drawdown,
    )
    from trading_data_pipeline_spark.streaming.stateful import drawdown_stream

    batch = {
        tuple(r)
        for r in max_drawdown(spark.read.parquet(staged_events)).collect()
    }
    got = run_to_completion(
        drawdown_stream(stream_events(spark, staged_events)),
        "t_mdd", "update", spark,
    )
    # update mode emits one row per user per batch; n_events grows
    # monotonically, so the final state is the max_by(n_events) row
    # (F.last over an unordered aggregate would be nondeterministic)
    final = {
        tuple(r)
        for r in got.groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("max_drawdown", "peak_equity", "n_events"),
                "n_events",
            ).alias("s")
        )
        .select("user_id", "s.max_drawdown", "s.peak_equity", "s.n_events")
        .collect()
    }
    assert final == batch and batch


def test_streaming_drawdown_state_survives_restart(spark, sf_dir, tmp_path):
    """Drawdown state (equity/peak/mdd cents) must persist across stream
    restarts: after restarting on the second half of the data, emitted
    figures must reflect FIRST-half equity — i.e. equal the batch result
    over the full stream for every user the second run touches."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from trading_data_pipeline_spark.operators.trading_queries import (
        max_drawdown,
    )
    from trading_data_pipeline_spark.registry import load
    from trading_data_pipeline_spark.streaming.stateful import drawdown_stream

    ev = load(spark, sf_dir, "events")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    cut = ev.agg(
        F.expr("percentile_approx(unix_micros(cast(ts as timestamp)), 0.5)")
    ).collect()[0][0]
    src = str(tmp_path / "halves")
    ckpt = str(tmp_path / "ckpt")
    ev.filter(ts_us <= cut).coalesce(1).write.mode("append").parquet(src)

    out = str(tmp_path / "emissions")

    def run_once():
        # foreachBatch sink: checkpoint-recoverable (the memory sink is
        # not), and update-mode emissions append with their batch id so
        # the latest emission per user is identifiable
        def emit(batch_df, batch_id):
            batch_df.withColumn("_b", F.lit(batch_id)).write.mode(
                "append"
            ).parquet(out)

        q = (
            drawdown_stream(stream_events(spark, src))
            .writeStream.foreachBatch(emit)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180)

    run_once()
    n_first = spark.read.parquet(out).count()
    ev.filter(ts_us > cut).coalesce(1).write.mode("append").parquet(src)
    run_once()  # checkpoint resumes: only new files
    assert spark.read.parquet(out).count() > n_first  # run 2 emitted rows

    emissions = spark.read.parquet(out)
    finals = {
        r.user_id: (r.max_drawdown, r.peak_equity, r.n_events)
        for r in emissions.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(F.col("_b").desc())
            ),
        )
        .filter("_rn = 1")
        .collect()
    }
    assert finals  # the restarted run saw second-half events
    batch = {
        r.user_id: (r.max_drawdown, r.peak_equity, r.n_events)
        for r in max_drawdown(ev).collect()
    }
    for uid, got in finals.items():
        assert got == batch[uid], (uid, got, batch[uid])


def test_cdc_publish_crash_recovery_paths(spark, tmp_path):
    """Every interruption point of the aside-rename swap must leave a
    recoverable state: final missing + staging present (crash mid-swap)
    and final missing + aside present (theoretical rename failure) both
    heal to a complete snapshot before the next batch applies."""
    import os
    import shutil

    from trading_data_pipeline_spark.streaming.sinks import (
        make_cdc_sink,
        read_cdc_table,
    )

    path = str(tmp_path / "snap")
    sink = make_cdc_sink(path, "k", ["v"])
    schema = "k long, op string, v long"
    sink(spark.createDataFrame([(1, "U", 1), (2, "U", 1)], schema), 0)

    # crash window A: old snapshot moved aside, new one still in staging
    shutil.move(path, path + "._staging")
    sink(spark.createDataFrame([(3, "U", 1)], schema), 1)
    got = {(r.k, r.v) for r in read_cdc_table(spark, path).collect()}
    assert got == {(1, 1), (2, 1), (3, 1)}  # staging copy recovered, batch applied
    assert not os.path.exists(path + "._staging")
    assert not os.path.exists(path + "._old")

    # crash window B: only the aside copy survives
    shutil.move(path, path + "._old")
    sink(spark.createDataFrame([(4, "U", 1)], schema), 2)
    got = {r.k for r in read_cdc_table(spark, path).collect()}
    assert got == {1, 2, 3, 4}
    assert not os.path.exists(path + "._old")


def test_wap_previous_version_survives_until_publish(spark, sf_dir, tmp_path):
    """write_audit_publish must never delete the live table before the
    new version is in place: after a successful publish the table holds
    the new rows, and no aside/staging debris remains."""
    import os

    from trading_data_pipeline_spark.operators.lake_queries import (
        write_audit_publish,
    )
    from trading_data_pipeline_spark.registry import load

    final = str(tmp_path / "pub")
    nation = load(spark, sf_dir, "nation")
    write_audit_publish(nation, final, lambda df: df.count() > 0)
    v1 = spark.read.parquet(final).count()
    write_audit_publish(nation.limit(5), final, lambda df: df.count() > 0)
    assert spark.read.parquet(final).count() == 5 != v1
    assert not os.path.exists(final + "._staging")
    assert not os.path.exists(final + "._old")


def test_streaming_drift_monitor_matches_batch_tvd(spark, sf_dir, tmp_path):
    """The foreachBatch drift monitor must land on exactly the TVD that
    a batch computation of (reference vs staged-input) histograms gives,
    and replaying a batch must not duplicate metric rows."""
    from pyspark.sql import functions as F

    from trading_data_pipeline_spark.streaming.jobs import stream_events
    from trading_data_pipeline_spark.streaming.sinks import (
        make_drift_monitor,
        value_shares,
    )

    ev = load(spark, sf_dir, "events")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    cut = ev.agg(
        F.expr("percentile(unix_micros(cast(ts as timestamp)), 0.5)")
    ).collect()[0][0]
    reference = ev.filter(ts_us <= cut)
    serving = ev.filter(ts_us > cut)
    src = str(tmp_path / "serve")
    serving.coalesce(2).write.parquet(src)

    metrics_path = str(tmp_path / "metrics")
    monitor = make_drift_monitor(reference, metrics_path)
    q = (
        stream_events(spark, src)
        .writeStream.foreachBatch(monitor)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)

    got = {
        r.event_type: (r.tvd, r.n_events)
        for r in spark.read.parquet(metrics_path).collect()
    }
    # batch twin: same histograms, same fold
    ref_h = value_shares(reference, 10, 20.0).withColumnRenamed("p", "q")
    cur_h = value_shares(spark.read.parquet(src), 10, 20.0)
    want_df = (
        cur_h.join(ref_h, ["event_type", "b"], "full_outer")
        .select(
            "event_type",
            F.coalesce("p", F.lit(0.0)).alias("p"),
            F.coalesce("q", F.lit(0.0)).alias("q"),
        )
        .groupBy("event_type")
        .agg((F.sum(F.abs(F.col("p") - F.col("q"))) / 2.0).alias("tvd"))
    )
    want = {r.event_type: r.tvd for r in want_df.collect()}
    assert set(got) == set(want) and want
    for t, w in want.items():
        assert abs(got[t][0] - w) < 1e-12, (t, got[t][0], w)
        assert 0.0 <= got[t][0] <= 1.0

    # replaying the same batch overwrites its own partition — no dupes
    n_before = spark.read.parquet(metrics_path).count()
    monitor(spark.read.parquet(src), 0)
    assert spark.read.parquet(metrics_path).count() == n_before


def test_drift_monitor_reports_vanished_types(spark, tmp_path):
    """A reference type with ZERO batch traffic must still emit its
    metrics row (n_events 0, tvd NULL — no serving distribution exists
    to compare) — total traffic loss is the loudest drift, not a reason
    to go silent."""
    import datetime as dt

    from trading_data_pipeline_spark.streaming.sinks import make_drift_monitor

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    reference = spark.createDataFrame(
        [
            (0, dt.datetime(2024, 1, 1), 1, "A", 1.0, "{}"),
            (1, dt.datetime(2024, 1, 1), 1, "B", 1.0, "{}"),
        ],
        schema,
    )
    metrics_path = str(tmp_path / "metrics")
    monitor = make_drift_monitor(reference, metrics_path)
    # the serving batch has only A events — B vanished entirely
    monitor(
        spark.createDataFrame(
            [(2, dt.datetime(2024, 1, 2), 1, "A", 1.0, "{}")], schema
        ),
        0,
    )
    got = {r.event_type: r for r in spark.read.parquet(metrics_path).collect()}
    assert set(got) == {"A", "B"}
    assert got["A"].tvd == 0.0 and got["A"].n_events == 1
    assert got["B"].tvd is None and got["B"].n_events == 0


def test_streaming_heavy_hitters_exact_when_capacity_suffices(
    spark, staged_events
):
    """With capacity >= distinct users per type, SpaceSaving degenerates
    to exact counting: final summaries equal the batch groupBy."""
    from trading_data_pipeline_spark.streaming.stateful import heavy_hitters_stream

    events = stream_events(spark, staged_events)
    got_df = run_to_completion(
        heavy_hitters_stream(events, capacity=10_000), "t_hh_exact", "update", spark
    )
    latest_v = {
        r.event_type: r.mv
        for r in got_df.groupBy("event_type").agg(F.max("version").alias("mv")).collect()
    }
    got = {
        (r.event_type, r.user_id): (r.est_count, r.max_err)
        for r in got_df.collect()
        if r.version == latest_v[r.event_type]
    }
    batch = {
        (r.event_type, r.user_id): r.n
        for r in spark.read.parquet(staged_events)
        .groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert set(got) == set(batch)
    assert all(got[k] == (batch[k], 0) for k in batch)


def test_streaming_heavy_hitters_bounds_hold_under_eviction(
    spark, staged_events
):
    """With a small capacity the summary must still contain every true
    heavy hitter and bracket its true count: est - err <= true <= est."""
    from trading_data_pipeline_spark.streaming.stateful import heavy_hitters_stream

    cap = 20
    events = stream_events(spark, staged_events)
    got_df = run_to_completion(
        heavy_hitters_stream(events, capacity=cap), "t_hh_small", "update", spark
    )
    latest_v = {
        r.event_type: r.mv
        for r in got_df.groupBy("event_type").agg(F.max("version").alias("mv")).collect()
    }
    got = {
        (r.event_type, r.user_id): (r.est_count, r.max_err)
        for r in got_df.collect()
        if r.version == latest_v[r.event_type]
    }
    batch = spark.read.parquet(staged_events)
    truth = {
        (r.event_type, r.user_id): r.n
        for r in batch.groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    totals = {}
    for (t, _), n in truth.items():
        totals[t] = totals.get(t, 0) + n
    for t, total in totals.items():
        assert sum(1 for (tt, _) in got if tt == t) <= cap
        for (tt, u), n in truth.items():
            if tt != t:
                continue
            if n > total / cap:  # guaranteed present
                assert (t, u) in got, (t, u, n, total)
        for (tt, u), (est, err) in got.items():
            if tt != t:
                continue
            true_n = truth.get((t, u), 0)
            assert est - err <= true_n <= est, (t, u, est, err, true_n)


def test_streaming_neardup_matches_greedy_reference(spark, sf_dir, tmp_path):
    """Streaming SimHash near-dup suppression == the greedy-sequential
    batch reference on identical input: first arrival kept, later docs
    within max_hamming of a kept signature in the same band dropped with
    the right dup_of/hamming, every doc emitted exactly once."""
    from pyspark.sql import functions as F

    from trading_data_pipeline_spark.operators.dedup import simhash_expr
    from trading_data_pipeline_spark.streaming.stateful import (
        NEARDUP_BAND_BITS,
        NEARDUP_MAX_HAMMING,
        neardup_stream,
    )

    docs = (
        load(spark, sf_dir, "documents")
        .limit(200)
        .select(
            "doc_id",
            F.to_timestamp(
                F.lit("2024-01-01 00:00:00").cast("timestamp")
                + F.make_interval(secs=F.col("doc_id"))
            ).alias("ts"),
            "text",
        )
    )
    # inject exact and 1-word-perturbed copies arriving AFTER the originals
    originals = docs.filter(F.col("doc_id") < 20)
    copies = originals.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("ts"),
        F.concat(F.col("text"), F.lit(" zz")).alias("text"),
    )
    staged = docs.unionByName(copies)
    src = str(tmp_path / "docs_stream")
    staged.coalesce(1).write.parquet(src)

    stream = neardup_stream(
        spark.readStream.schema("doc_id long, ts timestamp, text string").parquet(src)
    )
    got = run_to_completion(stream, "t_neardup", "append", spark)
    got_rows = {r.doc_id: r for r in got.collect()}

    # greedy reference over the SAME signatures, same order, pure python
    sigs = (
        spark.read.parquet(src)
        .select("doc_id", "ts", simhash_expr("text").alias("sig"))
        .collect()
    )
    bands: dict[int, list[tuple[int, int]]] = {}
    ref: dict[int, tuple] = {}
    for r in sorted(sigs, key=lambda r: (r.ts, r.doc_id)):
        band = r.sig >> (60 - NEARDUP_BAND_BITS)
        kept_list = bands.setdefault(band, [])
        hit_id, hit_d = None, None
        for kid, ksig in kept_list:
            d = (r.sig ^ ksig).bit_count()
            if d <= NEARDUP_MAX_HAMMING and (hit_d is None or d < hit_d):
                hit_id, hit_d = kid, d
        if hit_id is None:
            kept_list.append((r.doc_id, r.sig))
            ref[r.doc_id] = (True, None, None)
        else:
            ref[r.doc_id] = (False, hit_id, hit_d)

    assert set(got_rows) == set(ref)  # every doc exactly once
    for doc_id, (kept, dup_of, hamming) in ref.items():
        g = got_rows[doc_id]
        assert (g.kept, g.dup_of, g.hamming) == (kept, dup_of, hamming), doc_id
    # the injected near-copies must actually exercise the drop path
    dropped = [d for d, r in ref.items() if d >= 100000 and not r[0]]
    assert len(dropped) >= 10, f"only {len(dropped)} injected copies dropped"


def test_streaming_obv_equals_batch_for_finalized_days(spark, staged_events):
    """Streaming OBV emits a day's bar when its successor day begins;
    every finalized day must be bit-identical to the batch q_obv row.
    The per-type LAST day never finalizes (no successor) — exactly the
    pending in-progress day the append contract documents."""
    from pyspark.sql import Window

    from trading_data_pipeline_spark.operators.indicators_queries import obv
    from trading_data_pipeline_spark.streaming.jobs import stream_events
    from trading_data_pipeline_spark.streaming.stateful import obv_stream

    batch_df = obv(spark.read.parquet(staged_events))
    w = Window.partitionBy("event_type")
    finalized = batch_df.withColumn("_mx", F.max("day").over(w)).filter(
        F.col("day") < F.col("_mx")
    )
    want = {tuple(r) for r in finalized.select(
        "event_type", "day", "close", "vol", "obv").collect()}

    got_df = run_to_completion(
        obv_stream(stream_events(spark, staged_events)),
        "t_obv", "append", spark,
    )
    got = {tuple(r) for r in got_df.collect()}
    assert got == want and want


def _vwap_batch_truth(spark, staged_events):
    ev = spark.read.parquet(staged_events)
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    qty = F.coalesce(F.get_json_object("props", "$.k").cast("long"), F.lit(0))
    batch = (
        ev.select("event_type", (cents * qty).alias("pv"), qty.alias("q"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("q").alias("total_vol"),
            (F.sum("pv") / (F.sum("q") * 100.0)).alias("vwap"),
        )
    )
    return {r.event_type: tuple(r) for r in batch.collect()}


def _latest_per_key(rows):
    latest = {}
    for r in rows:
        if r.event_type not in latest or r.n_events > latest[r.event_type].n_events:
            latest[r.event_type] = r
    return {k: tuple(v) for k, v in latest.items()}


def test_stateful_vwap_stream_equals_batch(spark, staged_events):
    """The running VWAP per type that ``stateful.vwap_stream`` keeps in
    applyInPandasWithState state: its last emission per type is
    bit-identical to the batch integer-sum computation."""
    from trading_data_pipeline_spark.streaming.stateful import vwap_stream

    want = _vwap_batch_truth(spark, staged_events)
    got_df = run_to_completion(
        vwap_stream(stream_events(spark, staged_events)),
        "t_vwap_fb", "update", spark,
    )
    assert _latest_per_key(got_df.collect()) == want and want


def test_lateness_stream_matches_python_fold_over_batches(spark, sf_dir, tmp_path):
    """Streaming lateness monitor ≡ a pure-Python fold over the same
    micro-batch sequence: stage events into per-day files in a PERMUTED
    day order (so later batches genuinely carry earlier event times),
    run with maxFilesPerTrigger=1, and compare every (type, seq) row."""
    from trading_data_pipeline_spark.registry import load
    from trading_data_pipeline_spark.streaming.stateful import lateness_stream

    ev = load(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type"
    )
    # permuted day staging: day (d*11+3) % 31 ordering scrambles time
    rows, frames = replay_days(
        spark, ev, str(tmp_path / "staged"), lateness_stream, "late_mon",
        order_key=lambda d: (d * 11 + 3) % 31,
    )
    got = {
        (r.event_type, r.seq): (r.batch_n, r.batch_late, r.batch_max_late_us)
        for r in rows
    }

    # pure-Python reference over the same file sequence
    import collections

    state: dict = {}
    seqs: dict = collections.defaultdict(int)
    expect = {}
    for pdf in frames:
        for etype, grp in pdf.groupby("event_type"):
            tus = grp["ts"].astype("datetime64[us]").astype("int64")
            if etype in state:
                late = state[etype] - tus
                n_late = int((late > 0).sum())
                worst = max(int(late.max()), 0) if n_late else 0
            else:
                n_late, worst = 0, 0
            state[etype] = max(int(tus.max()), state.get(etype, 0))
            expect[(etype, seqs[etype])] = (len(grp), n_late, worst)
            seqs[etype] += 1
    assert got == expect
    # the permutation must actually produce lateness, or the test is vacuous
    assert any(v[1] > 0 for v in expect.values())


def test_streaming_dollar_bars_equal_batch_for_finalized_bars(spark, staged_events):
    """Streaming dollar bars emit a bar when the next bar's first trade
    arrives; every finalized bar must be bit-identical to the batch
    q_dollar_bars row. The per-type LAST bar never finalizes (pending)."""
    from pyspark.sql import Window

    from trading_data_pipeline_spark.operators.indicators2_queries import (
        dollar_bars,
    )
    from trading_data_pipeline_spark.streaming.jobs import stream_events
    from trading_data_pipeline_spark.streaming.stateful import (
        dollar_bars_stream,
    )

    batch_df = dollar_bars(spark.read.parquet(staged_events))
    w = Window.partitionBy("event_type")
    finalized = batch_df.withColumn(
        "_mx", F.max("bar_id").over(w)
    ).filter(F.col("bar_id") < F.col("_mx"))
    want = {tuple(r) for r in finalized.drop("_mx").collect()}

    got_df = run_to_completion(
        dollar_bars_stream(stream_events(spark, staged_events)),
        "t_dbars", "append", spark,
    )
    got = {tuple(r) for r in got_df.collect()}
    assert got == want and want


def test_dollar_bars_leave_null_prices_out(spark, staged_null_events):
    """A NULL-priced trade has no dollars, so it belongs to no bar, as in
    the stream: no ``bar_id`` is NULL, the bars equal those over the same
    events with the NULL-priced rows removed, and the DuckDB oracle
    returns the same rows."""
    import duckdb

    from trading_data_pipeline_spark.operators.indicators2_queries import (
        dollar_bars,
    )
    from trading_data_pipeline_spark.registry import all_queries

    ev = spark.read.parquet(staged_null_events)
    assert ev.filter(F.col("value").isNull()).count() > 0
    got = {tuple(r) for r in dollar_bars(ev).collect()}
    assert all(r[1] is not None for r in got)
    want = dollar_bars(ev.filter(F.col("value").isNotNull())).collect()
    assert got == {tuple(r) for r in want} and got
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{staged_null_events}/*.parquet')"
    )
    oracle = con.execute(all_queries()["q_dollar_bars"].oracle).fetchall()
    assert {tuple(r) for r in oracle} == got


def test_streaming_vpin_equal_batch_for_finalized_buckets(spark, staged_events):
    """Streaming VPIN emits a bucket when a later bucket's first trade
    arrives; every emitted row must be bit-identical to the batch
    q_vpin row, and the emitted SET must equal an independent pure-
    Python replay of the tape minus the per-type pending bucket."""
    import json as _json
    import math

    from trading_data_pipeline_spark.operators.microstructure_queries import (
        vpin,
    )
    from trading_data_pipeline_spark.streaming.jobs import stream_events
    from trading_data_pipeline_spark.streaming.stateful import vpin_stream

    v, k = 500, 2
    batch_rows = {
        tuple(r) for r in vpin(spark.read.parquet(staged_events), v=v, k=k).collect()
    }
    got_df = run_to_completion(
        vpin_stream(stream_events(spark, staged_events), v=v, k=k),
        "t_vpin", "append", spark,
    )
    got = {tuple(r) for r in got_df.collect()}
    assert got and got <= batch_rows

    # independent replay: finalized buckets only (pending last excluded)
    pdf = (
        spark.read.parquet(staged_events)
        .toPandas()
        .sort_values(["ts", "event_id"])
    )
    expect = set()
    for etype, grp in pdf.groupby("event_type"):
        buckets = []  # (bucket_id, n, buy, sell) finalized in order
        sgn = cum = 0
        last_c = None  # a NULL price is no tick evidence either side
        cur = None  # [bucket_id, n, buy, sell]
        for val, props in zip(grp["value"], grp["props"]):
            cents = None if math.isnan(val) else int(math.floor(val * 100 + 0.5))
            try:
                q = int(_json.loads(props).get("k", 0) or 0)
            except (TypeError, ValueError, AttributeError):
                q = 0
            if cents is not None and last_c is not None:
                d = cents - last_c
                sgn = 1 if d > 0 else (-1 if d < 0 else sgn)
            last_c = cents
            if sgn == 0:
                continue
            b = cum // v
            if cur is None or b != cur[0]:
                if cur is not None:
                    buckets.append(cur)
                cur = [b, 0, 0, 0]
            cur[1] += 1
            cur[2 if sgn > 0 else 3] += q
            cum += q
        for i, (b, n, buy, sell) in enumerate(buckets):
            if i + 1 < k:
                continue
            frame = buckets[i - k + 1 : i + 1]
            sv = sum(x[2] + x[3] for x in frame)
            si = sum(abs(x[2] - x[3]) for x in frame)
            if sv > 0:
                expect.add(
                    (etype, b, n, buy, sell, abs(buy - sell),
                     math.floor(si / sv * 1_000_000 + 0.5) / 1_000_000)
                )
    assert got == expect


def test_streaming_markouts_aggregate_to_batch_means(spark, staged_events):
    """Per-trade streaming markouts, aggregated per (type, horizon)
    with the batch quantization, must reproduce q_markout's rows
    bit-for-bit: the emitted (trade, horizon) pairs are exactly the
    batch inner-join's pairs (signed trades whose horizon completed)."""
    import collections
    import math

    from trading_data_pipeline_spark.operators.microstructure_queries import (
        markouts,
    )
    from trading_data_pipeline_spark.streaming.jobs import stream_events
    from trading_data_pipeline_spark.streaming.stateful import markout_stream

    batch = {
        (r.event_type, r.horizon): (r.n_trades, r.mean_markout)
        for r in markouts(spark.read.parquet(staged_events)).collect()
    }
    got_df = run_to_completion(
        markout_stream(stream_events(spark, staged_events)),
        "t_markouts", "append", spark,
    )
    # count(*) and sum(mv): a NULL mv counts and adds nothing
    acc: dict = collections.defaultdict(lambda: [0, None])
    for r in got_df.collect():
        a = acc[(r.event_type, r.horizon)]
        a[0] += 1
        if r.mv is not None:
            a[1] = (a[1] or 0) + r.mv
    got = {
        k: (n, None if s is None else math.floor(s / (n * 100.0) * 10000 + 0.5) / 10000)
        for k, (n, s) in acc.items()
    }
    assert got == batch and batch


def test_psi_stream_matches_python_fold_over_batches(
    spark, sf_dir, tmp_path, nulls=False
):
    """Streaming PSI monitor ≡ a pure-Python fold over the same
    micro-batch sequence: per-day files replayed one per trigger; the
    first batch per type freezes the reference histogram, every later
    batch's PSI must match the reference fold exactly (same ln chain).
    A NULL price (``nulls``) counts in batch_n and in no bin."""
    import math

    from trading_data_pipeline_spark.registry import load
    from trading_data_pipeline_spark.streaming.stateful import (
        PSI_MN_C,
        PSI_MX_C,
        psi_stream,
    )

    ev = load(spark, sf_dir, "events")
    ev = (_null_prices(ev) if nulls else ev).select("event_id", "ts", "event_type", "value")
    rows, frames = replay_days(
        spark, ev, str(tmp_path / "staged_psi"), psi_stream, "psi_mon"
    )
    got = {(r.event_type, r.seq): (r.batch_n, r.ref_n, r.psi) for r in rows}

    bins, width = 10, PSI_MX_C - PSI_MN_C + 1

    def hist(vals):
        h = [0] * bins
        for v in vals:
            if math.isnan(v):
                continue
            c = int(math.floor(v * 100 + 0.5))
            h[min(bins - 1, max(0, ((c - PSI_MN_C) * bins) // width))] += 1
        return h

    import collections

    ref: dict = {}
    seqs: dict = collections.defaultdict(int)
    expect = {}
    for pdf in frames:
        for etype, grp in pdf.groupby("event_type"):
            cur = hist(grp["value"].tolist())
            if etype not in ref:
                ref[etype] = cur
                expect[(etype, seqs[etype])] = (len(grp), sum(cur), None)
            else:
                r = ref[etype]
                nr, nc = sum(r), sum(cur)
                psi = sum(
                    ((r[b] + 1) / (nr + bins) - (cur[b] + 1) / (nc + bins))
                    * math.log(
                        ((r[b] + 1) / (nr + bins))
                        / ((cur[b] + 1) / (nc + bins))
                    )
                    for b in range(bins)
                )
                expect[(etype, seqs[etype])] = (len(grp), nr, psi)
            seqs[etype] += 1
    assert set(got) == set(expect)
    for k, (bn, rn, psi) in expect.items():
        gbn, grn, gpsi = got[k]
        assert (gbn, grn) == (bn, rn), k
        if psi is None:
            assert gpsi is None, k
        else:
            assert abs(gpsi - psi) < 1e-12, (k, gpsi, psi)


def test_cusum_stream_matches_python_fold_over_batches(
    spark, sf_dir, tmp_path, nulls=False
):
    """Streaming CUSUM ≡ a pure-Python fold over the same micro-batch
    sequence (per-day files, one per trigger): per-(type, seq) alarm
    counts and end-of-batch S± must match exactly — the running-min
    identity is integer arithmetic on both sides. A NULL price
    (``nulls``) counts in batch_n and makes no move."""
    import math

    from trading_data_pipeline_spark.registry import load
    from trading_data_pipeline_spark.streaming.stateful import cusum_stream

    K, H = 100, 1000
    ev = load(spark, sf_dir, "events")
    ev = (_null_prices(ev) if nulls else ev).select(
        "event_id", "ts", "event_type", "value"
    )
    rows, frames = replay_days(
        spark, ev, str(tmp_path / "staged_cusum"),
        lambda s: cusum_stream(s, k=K, h=H), "cusum_mon",
    )
    got = {
        (r.event_type, r.seq): (
            r.batch_n, r.alarms_up, r.alarms_down, r.s_up, r.s_down
        )
        for r in rows
    }

    import collections

    st: dict = {}
    seqs: dict = collections.defaultdict(int)
    expect = {}
    for pdf in frames:
        pdf = pdf.sort_values(["ts", "event_id"])
        for etype, grp in pdf.groupby("event_type", sort=False):
            last_c, has, cp, mp, cn, mn = st.get(
                etype, (0, 0, 0, 0, 0, 0)
            )
            au = ad = 0
            sp = sn = 0
            for val in grp["value"]:
                if math.isnan(val):
                    continue
                cents = int(math.floor(float(val) * 100 + 0.5))
                if not has:
                    last_c, has = cents, 1
                    continue
                x = cents - last_c
                last_c = cents
                cp += x - K
                mp = min(mp, cp)
                cn += -x - K
                mn = min(mn, cn)
                sp = cp - min(0, mp)
                sn = cn - min(0, mn)
                au += sp > H
                ad += sn > H
            st[etype] = (last_c, has, cp, mp, cn, mn)
            expect[(etype, seqs[etype])] = (
                len(grp), au, ad, sp / 100.0, sn / 100.0
            )
            seqs[etype] += 1
    assert set(got) == set(expect)
    for kk, v in expect.items():
        assert got[kk] == v, (kk, got[kk], v)


# The stream≡batch checks of the price-reading streams, run again over
# NULL prices. They are called here, not parametrised, so that their
# clean-data runs keep their test ids.
NULL_PRICE_CHECKS = {
    "anomaly": test_streaming_anomaly_equals_batch,
    "drawdown": test_streaming_drawdown_equals_batch,
    "obv": test_streaming_obv_equals_batch_for_finalized_days,
    "vwap_bars": test_streaming_vwap_bars_equal_batch,
    "vwap": test_stateful_vwap_stream_equals_batch,
    "dollar_bars": test_streaming_dollar_bars_equal_batch_for_finalized_bars,
    "vpin": test_streaming_vpin_equal_batch_for_finalized_buckets,
    "markout": test_streaming_markouts_aggregate_to_batch_means,
}


@pytest.mark.parametrize("stream", sorted(NULL_PRICE_CHECKS))
def test_stream_over_null_prices_equals_batch(spark, staged_null_events, stream):
    """Each stream runs to completion over ``staged_null_events`` and
    equals its batch twin there, as on the clean events."""
    NULL_PRICE_CHECKS[stream](spark, staged_null_events)


@pytest.mark.parametrize(
    "check",
    [
        test_psi_stream_matches_python_fold_over_batches,
        test_cusum_stream_matches_python_fold_over_batches,
    ],
    ids=["psi", "cusum"],
)
def test_monitor_over_null_prices_matches_python_fold(spark, sf_dir, tmp_path, check):
    """psi and cusum over the per-day replay of :func:`_null_prices`
    events, against their Python folds."""
    check(spark, sf_dir, tmp_path, nulls=True)


def test_stateful_writes_each_rule_once():
    """``streaming/stateful.py`` has one ``applyInPandasWithState`` call
    (the harness), no floor cent rule of its own (that is
    ``bars.pandas_cents``), the decimal cent rule only in
    ``_decimal_cents`` and the props parse only in ``_qty``: a copy of
    any of them fails here."""
    from trading_data_pipeline_spark.streaming import stateful

    with open(stateful.__file__, encoding="utf-8") as fh:
        src = fh.read()
    lines = src.splitlines()
    spans = {
        f.name: range(f.lineno - 1, f.end_lineno)
        for f in ast.parse(src).body
        if isinstance(f, ast.FunctionDef)
    }

    def outside(name: str) -> str:
        return re.sub(r"\s+", "", "".join(
            ln for i, ln in enumerate(lines) if i not in spans[name]
        ))

    assert src.count("applyInPandasWithState(") == 1
    assert "*100+0.5" not in re.sub(r"\s+", "", src)
    assert ".quantize(" not in outside("_decimal_cents")
    assert ".quantize(" in src
    assert "json.loads(" not in outside("_qty")
    assert "json.loads(" in src
