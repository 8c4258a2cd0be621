"""applyInPandasWithState: per-host running QC counters over a stream."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from sequali_spark.streaming import stateful
from sequali_spark.streaming import stream as st
from tests.test_pipeline import pages_df


def test_streaming_spike_monitor_matches_batch_operator(spark, tmp_path):
    """The stateful streaming monitor must reproduce the batch
    hourly_anomaly flags EXACTLY on the same series (Python big-int
    state kernel vs the batch decimal cast chain)."""
    import datetime
    import random

    from sequali_spark.operators.events import hourly_anomaly

    rng = random.Random(29)
    base = datetime.datetime(2024, 5, 1)
    counts = [rng.randint(1, 30) for _ in range(60)]
    counts[40] = 400  # planted spike
    ev_rows = []
    for h, n in enumerate(counts):
        for i in range(n):
            ev_rows.append((base + datetime.timedelta(hours=h, seconds=i), "click"))
    d = tmp_path / "spike"
    spark.createDataFrame(ev_rows, schema="ts timestamp, event_type string").write.parquet(
        str(d / "events.parquet")
    )
    batch = {
        r["hour"]: (r["events"], r["trailing_slots"], r["is_spike"])
        for r in hourly_anomaly(spark, str(d)).collect()
    }

    # the monitor consumes CLOSED hourly windows; feed the same rollup
    counts_src = str(tmp_path / "counts")
    spark.createDataFrame(
        [(t, h, e) for (h, (e, _, _)) in batch.items() for t in ["click"]],
        schema="event_type string, hour timestamp, events long",
    ).write.parquet(counts_src)
    counts_stream = (
        spark.readStream.schema("event_type string, hour timestamp, events long")
        .parquet(counts_src)
    )
    q = (
        stateful.streaming_spike_monitor(counts_stream)
        .writeStream.format("memory")
        .queryName("spikes")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "spike_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["hour"]: (r["events"], r["trailing_slots"], r["is_spike"])
        for r in spark.sql("select * from spikes").collect()
    }
    assert got == batch
    # and the planted spike is actually flagged
    spike_hour = base + datetime.timedelta(hours=40)
    assert got[spike_hour][2] is True


def test_streaming_hourly_counts_append_mode(spark, tmp_path):
    """The watermarked rollup emits each closed (type, hour) window
    exactly once with batch-exact counts; windows inside the watermark
    horizon stay open (not emitted)."""
    import datetime

    base = datetime.datetime(2024, 6, 1)
    rows = []
    for h in range(10):
        for i in range(5 + h):
            rows.append((base + datetime.timedelta(hours=h, seconds=i), "view"))
    src = str(tmp_path / "ev")
    spark.createDataFrame(rows, schema="ts timestamp, event_type string").write.parquet(src)
    stream = spark.readStream.schema("ts timestamp, event_type string").parquet(src)
    q = (
        stateful.streaming_hourly_counts(stream, watermark="2 hours")
        .writeStream.format("memory")
        .queryName("hourly")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "hc_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r["hour"]: r["events"] for r in spark.sql("select * from hourly").collect()}
    # watermark = max_ts - 2h: the last ~2 open hours never emit
    assert 7 <= len(got) <= 8
    for hour, events in got.items():
        h = int((hour - base).total_seconds() // 3600)
        assert events == 5 + h


def test_streaming_host_state(spark, pages_tiny, tmp_path):
    src = str(tmp_path / "drops")
    pages_df(spark, pages_tiny, partitions=4).write.parquet(src)

    pages_stream = st.stream_pages(spark, src)
    labels = st.streaming_labels(
        pages_stream, output_columns=["url", "keep", "n_bytes"]
    )
    hosts = stateful.streaming_host_state(labels)
    q = (
        hosts.writeStream.format("memory")
        .queryName("host_state")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql(
        "select host, max(docs) docs, max(kept) kept from host_state group by host"
    ).toPandas()

    # truth from the batch oracle
    from sequali_spark.oracle import oracle_metrics

    m = oracle_metrics(pages_tiny)
    m["host"] = [u.split("/")[2] for u in m["url"]]
    want = (
        m.groupby("host")
        .agg(docs=("keep", "size"), kept=("keep", "sum"))
        .reset_index()
    )
    merged = got.merge(want, on="host", suffixes=("_got", "_want"))
    assert len(merged) == len(want)
    assert (merged["docs_got"] == merged["docs_want"]).all()
    assert (merged["kept_got"] == merged["kept_want"].astype(int)).all()
