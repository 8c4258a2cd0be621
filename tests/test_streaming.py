"""Structured Streaming variant: drain a parquet drop directory with
AvailableNow, verify labels match the batch pipeline, and verify
exactly-once on restart (streaming checkpoint = resume for free)."""

from __future__ import annotations

import pytest

from sequali_spark.oracle import oracle_metrics
from sequali_spark.streaming import stream as st
from tests.test_pipeline import pages_df


@pytest.fixture()
def src(spark, pages_tiny, tmp_path):
    path = str(tmp_path / "drops")
    pages_df(spark, pages_tiny, partitions=4).write.parquet(path)
    return path


def test_streaming_labels_match_batch(spark, pages_tiny, src, tmp_path):
    labels = str(tmp_path / "labels")
    ckpt = str(tmp_path / "ckpt")
    st.run_stream_once(spark, src, labels, ckpt, output_columns=["url", "keep", "lang_pred"])
    got = spark.read.parquet(labels).orderBy("url").toPandas()
    golden = (
        oracle_metrics(pages_tiny)[["url", "keep", "lang_pred"]]
        .sort_values("url")
        .reset_index(drop=True)
    )
    # duplicate-url degenerate rows make per-url comparison ambiguous;
    # compare the multisets
    assert sorted(map(tuple, got.values.tolist())) == sorted(
        map(tuple, golden.values.tolist())
    )


def test_streaming_exactly_once_restart(spark, pages_tiny, src, tmp_path):
    labels = str(tmp_path / "labels")
    ckpt = str(tmp_path / "ckpt")
    st.run_stream_once(spark, src, labels, ckpt, output_columns=["url", "keep"])
    n1 = spark.read.parquet(labels).count()
    # restart with same checkpoint: nothing new -> no duplicates
    st.run_stream_once(spark, src, labels, ckpt, output_columns=["url", "keep"])
    assert spark.read.parquet(labels).count() == n1 == len(pages_tiny)


def test_streaming_windowed_report(spark, src, tmp_path):
    stream = st.stream_pages(spark, src)
    rep = st.streaming_time_report(stream, window="1 day")
    q = (
        rep.writeStream.format("memory")
        .queryName("ingest_report")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("select * from ingest_report").collect()
    # append mode only emits windows closed by the watermark; with a
    # bounded drain the final windows stay open — presence of the table
    # and non-negative counts is the contract here
    assert all(r["docs"] >= 0 for r in rows)


def test_streaming_dedup_labels(spark, pages_tiny, tmp_path):
    """Duplicate urls in the stream are labeled once (state-store dedup
    keyed on url, watermark-bounded)."""
    src = str(tmp_path / "dropsd")
    # write the fixture twice -> every url arrives (at least) twice
    pages_df(spark, pages_tiny, partitions=2).write.parquet(src)
    pages_df(spark, pages_tiny, partitions=2).write.mode("append").parquet(src)

    stream = st.stream_pages(spark, src)
    labels = st.streaming_dedup_labels(stream, output_columns=["url", "keep"])
    q = (
        labels.writeStream.format("memory")
        .queryName("dedup_labels")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckptd"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("select url, count(*) c from dedup_labels group by url").collect()
    assert all(r["c"] == 1 for r in got)
    assert len(got) == pages_tiny["url"].nunique()


def test_streaming_sessionize_matches_batch(spark, tmp_path):
    """Closed streaming sessions must reproduce the batch sessionize
    summary exactly: same session count, same per-session event counts,
    for every user whose sessions close under the watermark."""
    import datetime

    from pyspark.sql import functions as F

    from sequali_spark.operators.events import sessionize

    base = datetime.datetime(2024, 4, 1, 8, 0, 0)

    def ev(uid, minutes, eid):
        return (eid, uid, base + datetime.timedelta(minutes=minutes))

    rows = []
    eid = 0
    # user 1: two sessions (events at 0,5,10 then 120,125) — gaps inside
    # a session are 5 min, the break is 110 min (>30); no exact-boundary
    # gaps (see streaming_sessionize docstring)
    for m in (0, 5, 10, 120, 125):
        rows.append(ev(1, m, eid)); eid += 1
    # user 2: one session of 4 events
    for m in (30, 40, 50, 55):
        rows.append(ev(2, m, eid)); eid += 1
    # watermark advancer: a far-future event from another user so every
    # session above closes during the bounded drain (watermark after
    # batch 1 = this ts - 2h, far past every session end + gap)
    rows.append(ev(99, 60 * 24, eid))

    src = str(tmp_path / "events_stream")
    # ONE part-file per drop (coalesce(1)): the file stream source
    # orders files by modification time, so batch 1 = the sessions +
    # advancer, batch 2 = the second drop — a multi-part write would
    # scatter rows across arbitrary micro-batches
    spark.createDataFrame(
        rows, schema="event_id long, user_id long, ts timestamp"
    ).coalesce(1).write.parquet(src)
    import time as _time

    _time.sleep(1.1)  # distinct mtime so source ordering is stable
    # the second drop forms micro-batch 2, which emits the sessions
    # closed by batch 1's watermark (emission lags one batch)
    spark.createDataFrame(
        [(999, 98, base + datetime.timedelta(days=1, minutes=1))],
        schema="event_id long, user_id long, ts timestamp",
    ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("event_id long, user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        st.streaming_sessionize(stream)
        .writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("select * from sessions").collect()
    by_user: dict[int, list[int]] = {}
    for r in got:
        by_user.setdefault(r["user_id"], []).append(r["session_events"])

    # batch truth on the same (closed-session) users
    d = tmp_path / "batch"
    spark.createDataFrame(
        rows[:-1], schema="event_id long, user_id long, ts timestamp"
    ).write.parquet(str(d / "events.parquet"))
    batch = {r["user_id"]: r for r in sessionize(spark, str(d)).collect()}

    for uid in (1, 2):
        assert sorted(by_user[uid], reverse=True)[0] == batch[uid]["max_session_events"]
        assert len(by_user[uid]) == batch[uid]["n_sessions"]
        assert sum(by_user[uid]) == batch[uid]["total_events"]
    assert by_user[1] and len(by_user[1]) == 2 and sorted(by_user[1]) == [2, 3]
