"""Structured Streaming tests: ingestion into MVCC + event-time windows."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pixels_spark.catalog import SCHEMAS, load_table
from pixels_spark.mvcc import MvccTable
from pixels_spark.streaming import (
    ingest_stream,
    session_agg,
    sliding_agg,
    tumbling_agg,
)


@pytest.fixture()
def events(spark, sf_dir):
    return load_table(spark, sf_dir, "events").cache()


def _as_stream(spark, events, tmp_path, n_files: int = 4):
    """Materialize events as a multi-file dir and open it as a file stream
    (maxFilesPerTrigger=1 → n_files micro-batches)."""
    src = str(tmp_path / "stream_src")
    events.repartition(n_files).write.mode("overwrite").parquet(src)
    return (
        spark.readStream.schema(SCHEMAS["events"])
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )


def test_ingest_stream_commits_batches(spark, events, tmp_path):
    stream = _as_stream(spark, events, tmp_path)
    table = MvccTable(spark, str(tmp_path / "mvcc"), key_col="event_id")
    q = ingest_stream(stream, table, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert table.read().count() == events.count()
    # multiple micro-batches → multiple commit timestamps (CDC batches)
    n_commits = table.read().select("_commit_ts").distinct().count()
    assert n_commits >= 2
    # snapshot at the first commit sees only that batch
    first_ts = table.read().agg(F.min("_commit_ts")).first()[0]
    assert 0 < table.read(first_ts).count() < events.count()


def test_tumbling_agg_matches_batch_groupby(spark, events):
    got = tumbling_agg(events, window="1 day").select(
        F.col("win.start").alias("day"), "event_type", "n_events"
    )
    expect = events.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    diff = got.exceptAll(expect).count() + expect.exceptAll(got).count()
    assert diff == 0


def test_sliding_agg_window_multiplicity(spark, events):
    # every event lands in exactly window/slide sliding windows
    total = sliding_agg(events, window="1 hour", slide="30 minutes").agg(
        F.sum("n_events")
    ).first()[0]
    assert total == events.count() * 2


def test_session_agg_matches_gaps_and_islands(spark, events, sf_dir):
    """F.session_window sessions == the batch gaps-and-islands sessionize."""
    from pixels_spark.queries import load_all_modules

    sessions = session_agg(events, gap="30 minutes")
    got = sessions.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"), F.sum("n_events").alias("n_events")
    )
    reg = load_all_modules()
    base = reg["win_sessionize"].fn(spark, sf_dir)
    expect = base.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"), F.sum("n_events").alias("n_events")
    )
    diff = got.exceptAll(expect).count() + expect.exceptAll(got).count()
    assert diff == 0


def test_streaming_tumbling_agg_with_watermark(spark, events, tmp_path):
    """End-to-end streaming window agg: file stream → watermark → window →
    memory sink (append mode emits only watermark-closed windows; with
    availableNow the final watermark closes everything)."""
    stream = _as_stream(spark, events, tmp_path)
    agg = tumbling_agg(stream, window="1 day", watermark="1 hour")
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("win_counts")
    # all but the last day's windows must have closed
    n_days = events.select(F.date_trunc("day", "ts")).distinct().count()
    assert got.select("win").distinct().count() >= n_days - 1


def test_cdc_ingest_op_routing(spark, events, tmp_path):
    """CDC stream with I/U/D ops: one transaction per micro-batch, final
    state reflects inserts minus deletes with updates applied."""
    from pyspark.sql.types import StringType, StructField, StructType

    from pixels_spark.streaming import ingest_cdc_stream

    base = events.limit(30).cache()
    ids = [r.event_id for r in base.collect()]
    ins = base.withColumn("op", F.lit("I"))
    # update first 5 (value -> 111.0), delete next 5
    upd = (
        base.filter(F.col("event_id").isin(ids[:5]))
        .withColumn("value", F.lit(111.0))
        .withColumn("op", F.lit("U"))
    )
    dels = base.filter(F.col("event_id").isin(ids[5:10])).withColumn(
        "op", F.lit("D")
    )
    src = str(tmp_path / "cdc_src")
    # two files -> two micro-batches: all inserts, then updates+deletes
    ins.coalesce(1).write.mode("overwrite").parquet(src)
    upd.union(dels).coalesce(1).write.mode("append").parquet(src)

    cdc_schema = StructType(
        list(SCHEMAS["events"].fields) + [StructField("op", StringType())]
    )
    stream = (
        spark.readStream.schema(cdc_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    table = MvccTable(spark, str(tmp_path / "cdc_tbl"), key_col="event_id")
    q = ingest_cdc_stream(stream, table, str(tmp_path / "cdc_ckpt"))
    q.awaitTermination(120)

    latest = table.read_latest_version()
    assert latest.count() == 25  # 30 inserted - 5 deleted
    assert latest.filter(F.col("event_id").isin(ids[5:10])).count() == 0
    updated = latest.filter(F.col("event_id").isin(ids[:5]))
    assert {r.value for r in updated.collect()} == {111.0}


def test_cdc_delete_and_insert_same_key_one_batch(spark, events, tmp_path):
    """A single micro-batch carrying BOTH a D and an I for the same key must
    end with exactly one row per key holding the I payload — the old
    semi-join insert path resurrected the deleted row's stale payload."""
    from pyspark.sql.types import StringType, StructField, StructType

    from pixels_spark.streaming import ingest_cdc_stream

    base = events.limit(10).cache()
    ids = [r.event_id for r in base.collect()]
    seed = base.withColumn("op", F.lit("I"))
    src = str(tmp_path / "cdc_di_src")
    seed.coalesce(1).write.mode("overwrite").parquet(src)
    # batch 2: D + I for the SAME key (ids[0]) with a new payload value
    d_row = base.filter(F.col("event_id") == ids[0]).withColumn("op", F.lit("D"))
    i_row = (
        base.filter(F.col("event_id") == ids[0])
        .withColumn("value", F.lit(999.0))
        .withColumn("op", F.lit("I"))
    )
    d_row.union(i_row).coalesce(1).write.mode("append").parquet(src)

    cdc_schema = StructType(
        list(SCHEMAS["events"].fields) + [StructField("op", StringType())]
    )
    stream = (
        spark.readStream.schema(cdc_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    table = MvccTable(spark, str(tmp_path / "cdc_di_tbl"), key_col="event_id")
    q = ingest_cdc_stream(stream, table, str(tmp_path / "cdc_di_ckpt"))
    q.awaitTermination(120)

    latest = table.read_latest_version()
    hit = latest.filter(F.col("event_id") == ids[0]).collect()
    assert len(hit) == 1, hit  # no stale-payload duplicate
    assert hit[0].value == 999.0
    assert latest.count() == 10


def test_cdc_failed_batch_aborts_without_wedging_the_table(spark, tmp_path):
    """A micro-batch carrying a D of an existing key and an I whose payload
    column conflicts with the table's type (schema evolution raises) must
    abort as a whole: the oracle keeps no pending ts, no tombstone commit
    survives, and a later insert is visible."""
    import os

    from pixels_spark.streaming import ingest_cdc_stream

    table = MvccTable(spark, str(tmp_path / "wedge_tbl"), key_col="k")
    table.insert(spark.createDataFrame([(1, 1.0), (2, 2.0)], "k long, v double"))
    cdc_schema = "k long, v string, op string"
    src = str(tmp_path / "wedge_src")
    spark.createDataFrame([(1, None, "D"), (3, "three", "I")], cdc_schema).coalesce(
        1
    ).write.parquet(src)
    q = ingest_cdc_stream(
        spark.readStream.schema(cdc_schema).parquet(src),
        table,
        str(tmp_path / "wedge_ckpt"),
    )
    with pytest.raises(Exception, match="schema evolution cannot change"):
        q.awaitTermination(120)

    assert table.trans._read()["pending"] == []
    assert not any(
        e.startswith("_commit=")
        for e in (os.listdir(table.delete_dir) if os.path.isdir(table.delete_dir) else [])
    )
    table.insert(spark.createDataFrame([(4, 4.0)], "k long, v double"))
    assert sorted(r.k for r in table.read().collect()) == [1, 2, 4]


def test_dedup_stream_drops_replayed_duplicates(spark, events, tmp_path):
    from pixels_spark.streaming.ingest import dedup_stream

    base = events.limit(200).cache()
    src = str(tmp_path / "dup_src")
    # simulate a CDC replay: the same 200 events arrive twice (two files)
    base.coalesce(1).write.mode("overwrite").parquet(src)
    base.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(SCHEMAS["events"])
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    deduped = dedup_stream(stream, ["event_id"], watermark_delay="365 days")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("dedup_out")
    assert got.count() == base.count()  # every duplicate dropped
    assert got.select("event_id").distinct().count() == base.count()


def _batch_sessions(events, gap_us=1800 * 1_000_000):
    """Gaps-and-islands reference sessions: (user, start_us, end_us, n)."""
    rows = sorted(
        events.select("user_id", "ts", "value").collect(),
        key=lambda r: (r["user_id"], r["ts"]),
    )
    out, cur = [], None
    for r in rows:
        t = int(r["ts"].timestamp() * 1_000_000)
        if cur is None or r["user_id"] != cur[0] or t - cur[2] > gap_us:
            if cur:
                out.append(tuple(cur))
            cur = [r["user_id"], t, t, 1]
        else:
            cur[2], cur[3] = t, cur[3] + 1
    if cur:
        out.append(tuple(cur))
    return out


def _ordered_stream(spark, events, tmp_path, n_files: int):
    """Time-ordered micro-batches: file i holds the i-th ts-range slice and
    files carry increasing mtimes, so the file source replays in event-time
    order (how a real ingest feed arrives)."""
    import os
    import time as _time

    src = str(tmp_path / "stream_src_ordered")
    os.makedirs(src, exist_ok=True)
    pdf = events.orderBy("ts").toPandas()
    chunk = -(-len(pdf) // n_files)
    now = _time.time()
    for i in range(n_files):
        part = pdf.iloc[i * chunk : (i + 1) * chunk]
        path = os.path.join(src, f"{i:02d}.parquet")
        part.to_parquet(
            path, index=False, coerce_timestamps="us", allow_truncated_timestamps=True
        )
        os.utime(path, (now + i, now + i))
    from pixels_spark.catalog import SCHEMAS

    return (
        spark.readStream.schema(SCHEMAS["events"])
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )


def _run_sessionize(spark, stream, tmp_path, tag):
    from pixels_spark.streaming import sessionize_stateful

    out_dir, ckpt = str(tmp_path / f"out_{tag}"), str(tmp_path / f"ck_{tag}")
    q = (
        sessionize_stateful(stream, gap_seconds=1800)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return {
        (r["user_id"], int(r["session_start"].timestamp() * 1_000_000),
         int(r["session_end"].timestamp() * 1_000_000), r["n_events"])
        for r in spark.read.parquet(out_dir).collect()
    }


def _watermark_safe(ref, events, gap_us=1800 * 1_000_000, delay_us=2 * 3600 * 1_000_000):
    from pyspark.sql import functions as F

    max_us = int(
        events.agg(F.max("ts")).first()[0].timestamp() * 1_000_000
    )
    wm = max_us - delay_us
    return {s for s in ref if s[2] + gap_us <= wm}


def test_sessionize_stateful_single_batch(spark, events, tmp_path):
    """Emitted sessions == exactly the watermark-safe reference sessions."""
    stream = _ordered_stream(spark, events, tmp_path, n_files=1)
    got = _run_sessionize(spark, stream, tmp_path, "one")
    ref = _batch_sessions(events)
    assert got == _watermark_safe(ref, events)


def test_sessionize_stateful_batch_boundary_independent(spark, events, tmp_path):
    """Splitting the same feed into 4 micro-batches must not change the
    emitted set — closure is proven by the watermark, not batch edges."""
    stream = _ordered_stream(spark, events, tmp_path, n_files=4)
    got = _run_sessionize(spark, stream, tmp_path, "four")
    ref = _batch_sessions(events)
    assert got == _watermark_safe(ref, events)


def test_continuous_rollup_and_tail_merge(spark, events, tmp_path):
    """Hypertable-style continuous aggregate: append-mode finalized daily
    buckets land in an MVCC table exactly once; merging with the raw tail
    reproduces the full batch aggregate."""
    from pixels_spark.streaming import continuous_rollup, rollup_with_tail

    stream = _ordered_stream(spark, events, tmp_path, n_files=4)
    table = MvccTable(spark, str(tmp_path / "rollup"), key_col="bucket_start")
    q = continuous_rollup(
        stream, table, str(tmp_path / "rollup_ck"), window="1 day"
    )
    q.awaitTermination(300)

    def key(r):
        return (r["bucket_start"], r["event_type"])

    finalized = {key(r): (r["n_events"], r["total_value"])
                 for r in table.read().collect()}
    assert finalized, "no buckets finalized"
    full = {key(r): (r["n_events"], r["total_value"])
            for r in tumbling_agg(events, window="1 day").select(
                F.col("win.start").alias("bucket_start"), "event_type",
                "n_events", "total_value").collect()}
    # every finalized bucket must match the batch aggregate exactly
    for k, v in finalized.items():
        assert full[k][0] == v[0]
        assert full[k][1] == pytest.approx(v[1])
    # the last (unfinalized) day is absent from the rollup
    assert len(finalized) < len(full)

    merged = {key(r): (r["n_events"], r["total_value"])
              for r in rollup_with_tail(table, events, window="1 day").collect()}
    assert set(merged) == set(full)
    for k in full:
        assert merged[k][0] == full[k][0]
        assert merged[k][1] == pytest.approx(full[k][1])
    # finalized buckets arrived across several MVCC commits (time travel)
    n_commits = table.read().select("_commit_ts").distinct().count()
    assert n_commits >= 2


def test_sessionize_stateful_drops_late_beyond_watermark(spark, events, tmp_path):
    """An event older than the watermark arriving in a later batch must be
    ignored (standard late policy) — the emitted set equals the clean-feed
    run, unchanged by the stale injection."""
    import os
    import time as _time

    import pandas as pd

    from pixels_spark.streaming import sessionize_stateful

    src = str(tmp_path / "late_src")
    os.makedirs(src, exist_ok=True)
    pdf = events.orderBy("ts").toPandas()
    half = len(pdf) // 2
    now = _time.time()
    pdf.iloc[:half].to_parquet(
        os.path.join(src, "00.parquet"), index=False,
        coerce_timestamps="us", allow_truncated_timestamps=True,
    )
    # batch 2: second half PLUS a replay of the very first (now stale) event
    stale = pdf.iloc[[0]].copy()
    stale["event_id"] = 999_999_999
    late_batch = pd.concat([pdf.iloc[half:], stale])
    late_batch.to_parquet(
        os.path.join(src, "01.parquet"), index=False,
        coerce_timestamps="us", allow_truncated_timestamps=True,
    )
    os.utime(os.path.join(src, "00.parquet"), (now, now))
    os.utime(os.path.join(src, "01.parquet"), (now + 1, now + 1))

    stream = (
        spark.readStream.schema(SCHEMAS["events"])
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    got = _run_sessionize(spark, stream, tmp_path, "late")
    ref = _batch_sessions(events)
    assert got == _watermark_safe(ref, events)


def test_declared_stream_queries_clean_their_tempdirs(spark, sf_dir):
    """The declared streaming queries must not accumulate sink/checkpoint
    dirs in /tmp across runs (VERDICT r04 #2): after the result DataFrame
    is returned it is already materialized and the workdir is gone."""
    import glob

    from pixels_spark.queries.streamq_stateful import stream_dedup

    def count_dirs():
        return len(glob.glob("/tmp/pxs_stream_*"))

    before = count_dirs()
    out = stream_dedup(spark, sf_dir)
    assert out.count() > 0  # result survives workdir removal
    assert count_dirs() == before


def test_bounded_dedup_exact_with_state_eviction(spark, sf_dir):
    """The short-watermark dedup replay must (a) emit exactly the distinct
    events and (b) actually EVICT state: the state store's final row count
    stays well below the total event count (365-day stream_dedup would hold
    every key)."""
    from pixels_spark.catalog import load_table
    from pixels_spark.queries.streamq_stateful import _bounded_dedup_run

    result, progress = _bounded_dedup_run(spark, sf_dir)
    n_events = load_table(spark, sf_dir, "events").count()
    assert result.count() == n_events  # exact: every event exactly once

    state_rows = [
        op["numRowsTotal"]
        for p in progress
        for op in p.get("stateOperators", [])
        if "numRowsTotal" in op
    ]
    assert state_rows, "no state metrics captured"
    # watermark at span/8 keeps roughly the trailing quarter of keys live;
    # assert a hard bound well under "remember everything"
    assert max(state_rows) < n_events, (max(state_rows), n_events)
    assert state_rows[-1] < 0.8 * n_events, (state_rows[-1], n_events)


def test_stream_interval_join_boundaries(spark, tmp_path):
    """Crafted boundary cases for the stream-stream interval join: a right
    event exactly at left_ts + upper is INCLUDED (<=), one microsecond
    later is excluded, one at left_ts exactly is included (>=), and keys
    never cross."""
    import datetime as dt
    import os

    from pixels_spark.streaming.joins import stream_interval_join

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    h = dt.timedelta(hours=1)
    us = dt.timedelta(microseconds=1)
    views = [(1, 10, t0), (2, 11, t0)]
    purchases = [
        (1, 100, t0),            # == view_ts          -> included
        (1, 101, t0 + h),        # == view_ts + upper  -> included
        (1, 102, t0 + h + us),   # 1 µs past the bound -> excluded
        (2, 103, t0 - us),       # before the view     -> excluded
        (3, 104, t0),            # no matching key     -> excluded
    ]
    vdf = spark.createDataFrame(views, "user_id long, view_id long, view_ts timestamp")
    pdf = spark.createDataFrame(
        purchases, "user_id long, purchase_id long, purchase_ts timestamp"
    )
    vsrc, psrc = str(tmp_path / "v"), str(tmp_path / "p")
    vdf.coalesce(1).write.parquet(vsrc)
    pdf.coalesce(1).write.parquet(psrc)
    vs = spark.readStream.schema(vdf.schema).parquet(vsrc)
    ps = spark.readStream.schema(pdf.schema).parquet(psrc)
    j = stream_interval_join(
        vs, ps, "user_id", "view_ts", "purchase_ts", upper="1 hour", delay="1 hour"
    )
    out = str(tmp_path / "out")
    q = (
        j.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    got = sorted(
        (r["view_id"], r["purchase_id"])
        for r in spark.read.parquet(out).collect()
    )
    assert got == [(10, 100), (10, 101)]


def test_streaming_restart_from_checkpoint_exactly_once(spark, sf_dir, tmp_path):
    """Recovery parity (≈ RecoveryCheckpoint.java, SURVEY §2.9): a
    streaming ingest stopped after half the feed and RESTARTED with the
    same checkpoint must emit every event exactly once — the checkpoint's
    source offsets prevent both replay (duplicates) and loss."""
    import os

    e = load_table(spark, sf_dir, "events")
    half = e.agg(((F.min("event_id") + F.max("event_id")) / 2).alias("m")).first()["m"]
    src, out, ck = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")

    def run_once():
        stream = (
            spark.readStream.schema(SCHEMAS["events"])
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)

    # phase 1: first half only
    e.filter(F.col("event_id") <= half).coalesce(1).write.mode("append").parquet(src)
    run_once()
    n1 = spark.read.parquet(out).count()
    assert n1 == e.filter(F.col("event_id") <= half).count()

    # phase 2: second half lands, a NEW query restarts from the checkpoint
    e.filter(F.col("event_id") > half).coalesce(1).write.mode("append").parquet(src)
    run_once()

    got = spark.read.parquet(out)
    assert got.count() == e.count()  # no loss...
    assert got.select("event_id").distinct().count() == e.count()  # ...no replay


def test_stateful_dedup_state_survives_restart(spark, sf_dir, tmp_path):
    """The dedup STATE STORE must survive a restart: duplicates of
    phase-1 events arriving after the restart are suppressed by state
    recovered from the checkpoint, not by luck."""
    import os

    from pixels_spark.streaming.ingest import dedup_stream

    e = load_table(spark, sf_dir, "events")
    half = e.agg(((F.min("event_id") + F.max("event_id")) / 2).alias("m")).first()["m"]
    first = e.filter(F.col("event_id") <= half)
    src, out, ck = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")

    def run_once():
        stream = (
            spark.readStream.schema(SCHEMAS["events"])
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        deduped = dedup_stream(stream, ["event_id"], watermark_delay="365 days")
        q = (
            deduped.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)

    first.coalesce(1).write.mode("append").parquet(src)
    run_once()
    # restart: the SAME phase-1 events arrive again, plus the second half
    first.coalesce(1).write.mode("append").parquet(src)
    e.filter(F.col("event_id") > half).coalesce(1).write.mode("append").parquet(src)
    run_once()

    got = spark.read.parquet(out)
    assert got.count() == e.count()
    assert got.select("event_id").distinct().count() == e.count()


def test_stream_interval_join_state_bounded_by_watermark(spark, sf_dir, tmp_path):
    """The interval join's two-sided state must be EVICTED by the
    watermark, not grow with the stream: replaying events in 4 time-ordered
    slices per side with a short delay, the join state row count stays
    well below the total buffered-forever size, while the inner result
    still equals the batch interval join exactly."""
    import os

    from pixels_spark.streaming.joins import stream_interval_join

    e = load_table(spark, sf_dir, "events")
    row = e.agg(F.min("ts").alias("a"), F.max("ts").alias("b")).first()
    span = row["b"] - row["a"]
    delay_s = max(1, int(span.total_seconds()) // 8)
    n_slices = 4
    bounds = [row["a"] + (span * i) / n_slices for i in range(1, n_slices)]

    def side(tpe, idc, tsc, extra):
        df = e.filter(F.col("event_type") == tpe).select(
            "user_id", F.col("event_id").alias(idc), F.col("ts").alias(tsc), *extra
        )
        src = str(tmp_path / tpe)
        lo = None
        slices = []
        for hi in [*bounds, None]:
            cond = F.lit(True) if lo is None else (F.col(tsc) > F.lit(lo))
            if hi is not None:
                cond = cond & (F.col(tsc) <= F.lit(hi))
            slices.append(df.filter(cond))
            lo = hi
        from pixels_spark.queries.streamq_stateful import _write_slices

        _write_slices(slices, src)
        return df, (
            spark.readStream.schema(slices[0].schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    vdf, vs = side("view", "view_id", "view_ts", [])
    pdf, ps = side("purchase", "purchase_id", "purchase_ts", ["value"])
    j = stream_interval_join(
        vs, ps, "user_id", "view_ts", "purchase_ts",
        upper="1 hour", delay=f"{delay_s} seconds",
    )
    out = str(tmp_path / "out")
    q = (
        j.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    progress = [p for p in q.recentProgress if p is not None]

    # correctness: inner results == batch interval join
    batch = (
        vdf.alias("v")
        .join(
            pdf.alias("p"),
            (F.col("v.user_id") == F.col("p.user_id"))
            & (F.col("purchase_ts") >= F.col("view_ts"))
            & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("INTERVAL 1 HOUR")),
        )
        .select("view_id", "purchase_id")
    )
    got = sorted((r["view_id"], r["purchase_id"])
                 for r in spark.read.parquet(out).collect())
    want = sorted((r["view_id"], r["purchase_id"]) for r in batch.collect())
    assert got == want

    # state bound: final state rows well under both sides buffered forever
    state_rows = [
        op["numRowsTotal"]
        for p in progress
        for op in p.get("stateOperators", [])
        if "numRowsTotal" in op
    ]
    assert state_rows, "no state metrics captured"
    total_both_sides = vdf.count() + pdf.count()
    assert state_rows[-1] < 0.8 * total_both_sides, (
        state_rows[-1], total_both_sides,
    )


def test_stream_interval_join_lower_bound(spark, tmp_path):
    """The configurable lower bound: with [10 min, 1 h], a purchase at
    exactly +10 min is included, one microsecond earlier excluded."""
    import datetime as dt

    from pixels_spark.streaming.joins import stream_interval_join

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    m10 = dt.timedelta(minutes=10)
    us = dt.timedelta(microseconds=1)
    vdf = spark.createDataFrame(
        [(1, 10, t0)], "user_id long, view_id long, view_ts timestamp"
    )
    pdf = spark.createDataFrame(
        [
            (1, 100, t0 + m10),        # == lower  -> included
            (1, 101, t0 + m10 - us),   # 1 µs early -> excluded
            (1, 102, t0 + dt.timedelta(hours=1)),  # == upper -> included
        ],
        "user_id long, purchase_id long, purchase_ts timestamp",
    )
    vsrc, psrc = str(tmp_path / "v"), str(tmp_path / "p")
    vdf.coalesce(1).write.parquet(vsrc)
    pdf.coalesce(1).write.parquet(psrc)
    j = stream_interval_join(
        spark.readStream.schema(vdf.schema).parquet(vsrc),
        spark.readStream.schema(pdf.schema).parquet(psrc),
        "user_id", "view_ts", "purchase_ts",
        upper="1 hour", lower="10 minutes", delay="1 hour",
    )
    out = str(tmp_path / "out")
    q = (
        j.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    got = sorted(r["purchase_id"] for r in spark.read.parquet(out).collect())
    assert got == [100, 102]
