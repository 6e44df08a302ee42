"""Structured Streaming tests — the scripted-action style of the reference's
StreamTest (sql/core/src/test/scala/org/apache/spark/sql/streaming/
StreamTest.scala) using file sources + Trigger.AvailableNow + checkpoints:

  add data → run to completion → check answer → add more → re-run → check.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sparkfulltextquery_spark.sources import load_table
from sparkfulltextquery_spark.streaming import sessionize, streaming_dedup, windowed_counts
from tests.conftest import SF_DIR


def _events(spark):
    return load_table(spark, SF_DIR, "events")


def _write_chunk(df, path, cond):
    df.filter(cond).write.mode("append").parquet(path)


def _run_to_memory(sdf, name, checkpoint, mode):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_incremental_windowed_aggregation(spark, tmp_path):
    ev = _events(spark)
    src = f"file://{tmp_path}/src"
    ckpt = f"file://{tmp_path}/ckpt"
    # chunk 1: first 500 events
    _write_chunk(ev, src, F.col("event_id") < 500)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    agg = windowed_counts(stream, window="1 hour", watermark="10 hours")
    _run_to_memory(agg, "winc", ckpt, "complete")
    first = spark.table("winc").agg(F.sum("n")).head()[0]
    assert first == 500

    # add chunk 2 → incremental batch picks up only the new files (WAL'd
    # offsets in the checkpoint — reference HDFSMetadataLog semantics)
    _write_chunk(ev, src, F.col("event_id") >= 500)
    agg2 = windowed_counts(
        spark.readStream.schema(ev.schema).parquet(src), window="1 hour", watermark="10 hours"
    )
    _run_to_memory(agg2, "winc2", ckpt, "complete")
    total = spark.table("winc2").agg(F.sum("n")).head()[0]
    assert total == ev.count()

    # stream result == batch result (the Structured Streaming contract)
    batch = windowed_counts(ev, window="1 hour")
    got = {(r.win_start, r.event_type): (r.n, r.total) for r in spark.table("winc2").collect()}
    want = {(r.win_start, r.event_type): (r.n, r.total) for r in batch.collect()}
    assert got == want


def test_streaming_dedup_drops_redelivered(spark, tmp_path):
    ev = _events(spark).limit(200)
    src = f"file://{tmp_path}/dsrc"
    ev.write.mode("append").parquet(src)
    ev.write.mode("append").parquet(src)  # redelivery: every event twice
    stream = spark.readStream.schema(ev.schema).parquet(src)
    dd = streaming_dedup(stream, watermark="24 hours")
    q = (
        dd.writeStream.format("memory")
        .queryName("ddq")
        .outputMode("append")
        .option("checkpointLocation", f"file://{tmp_path}/dckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table("ddq")
    assert out.count() == 200
    assert out.select("event_id").distinct().count() == 200


def test_streaming_sessionize_equals_batch(spark, tmp_path):
    ev = _events(spark)
    src = f"file://{tmp_path}/ssrc"
    ev.write.mode("append").parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    sess = sessionize(stream, gap="30 minutes", watermark="24 hours")
    q = (
        sess.writeStream.format("memory")
        .queryName("sessq")
        .outputMode("complete")
        .option("checkpointLocation", f"file://{tmp_path}/sckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.table("sessq").collect()
    }
    want = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in sessionize(ev, gap="30 minutes").collect()
    }
    assert got == want


def test_rate_source_liveness(spark, tmp_path):
    """Minimal liveness on the rate source (reference socket/rate-style
    always-on source) — a couple of micro-batches then stop."""
    stream = spark.readStream.format("rate").option("rowsPerSecond", 100).load()
    counts = stream.groupBy().count()
    q = (
        counts.writeStream.format("memory")
        .queryName("rateq")
        .outputMode("complete")
        .start()
    )
    try:
        import time

        deadline = time.time() + 20
        while time.time() < deadline:
            rows = spark.table("rateq").collect()
            if rows and rows[0][0] > 0:
                break
            time.sleep(0.5)
        assert rows and rows[0][0] > 0
    finally:
        q.stop()


def test_socket_source_wordcount(spark):
    """Socket source end-to-end (reference execution/streaming/socket.scala:47
    TextSocketSource): a local TCP server feeds lines, the stream tokenizes
    and aggregates them, complete-mode memory sink converges to the full
    word count. This is the network-ingest stand-in the sandbox allows —
    the Kafka connector boundary is documented in README/SCALE.md."""
    import socket
    import threading
    import time

    lines = ["spark join batch", "batch window", "spark batch"]
    want = {"spark": 2, "join": 1, "batch": 3, "window": 1}

    server = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    server.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    server.bind(("127.0.0.1", 0))
    server.listen(1)
    port = server.getsockname()[1]
    done = threading.Event()

    def serve():
        conn, _ = server.accept()
        with conn:
            conn.sendall(("\n".join(lines) + "\n").encode())
            done.wait(30)  # keep the connection open until the query stops

    t = threading.Thread(target=serve, daemon=True)
    t.start()

    stream = (
        spark.readStream.format("socket")
        .option("host", "127.0.0.1")
        .option("port", port)
        .load()
    )
    counts = (
        stream.select(F.explode(F.split("value", " ")).alias("tok"))
        .groupBy("tok")
        .count()
    )
    q = (
        counts.writeStream.format("memory")
        .queryName("sockq")
        .outputMode("complete")
        .start()
    )
    try:
        got: dict = {}
        deadline = time.time() + 30
        while time.time() < deadline:
            got = {r.tok: r["count"] for r in spark.table("sockq").collect()}
            if got == want:
                break
            time.sleep(0.5)
        assert got == want, got
    finally:
        done.set()
        q.stop()
        server.close()


def test_foreach_batch_sink(spark, tmp_path):
    """foreachBatch sink (reference ForeachSink, execution/streaming/
    ForeachSink.scala:32): arbitrary per-microbatch logic — here writing
    parquet partitions with the batch id."""
    ev = _events(spark).limit(300)
    src = f"file://{tmp_path}/fbsrc"
    out = f"{tmp_path}/fbout"
    ev.write.mode("append").parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)

    def sink(batch_df, batch_id):
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(
            f"file://{out}"
        )

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", f"file://{tmp_path}/fbckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    written = spark.read.parquet(f"file://{out}")
    assert written.count() == 300
    assert "batch_id" in written.columns


def test_stateful_operator_across_restarts(spark, tmp_path):
    """applyInPandasWithState: per-user running totals must accumulate across
    two separate checkpointed runs (state recovery), and the final state must
    equal the batch aggregate."""
    from sparkfulltextquery_spark.streaming import running_user_totals

    ev = _events(spark)
    src = f"file://{tmp_path}/stsrc"
    ckpt = f"file://{tmp_path}/stckpt"

    out1 = f"file://{tmp_path}/stout1"
    out2 = f"file://{tmp_path}/stout2"

    def run(out_path):
        # memory sink can't recover from a checkpoint — foreachBatch can
        def sink(bdf, bid):
            bdf.write.mode("append").parquet(out_path)

        s = running_user_totals(spark.readStream.schema(ev.schema).parquet(src))
        q = (
            s.writeStream.foreachBatch(sink).outputMode("update")
            .option("checkpointLocation", ckpt).trigger(availableNow=True).start()
        )
        q.awaitTermination()

    _write_chunk(ev, src, F.col("event_id") < 500)
    run(out1)
    _write_chunk(ev, src, F.col("event_id") >= 500)
    run(out2)

    # run 2's updates are cumulative across BOTH chunks (state recovered)
    got = {r.user_id: (r.n_events, r.total) for r in spark.read.parquet(out2).collect()}
    want = {
        r.user_id: (r.n, r.t)
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("t"))
        .collect()
    }
    # every user updated in run 2 must show totals equal to the full batch agg
    for u, (n, t) in got.items():
        assert (n, t) == want[u], (u, (n, t), want[u])
    assert len(got) > 0


def test_stream_static_join(spark, tmp_path):
    """Stream-static join: streaming events enriched with a static dimension
    (broadcast per micro-batch) — the canonical enrichment pattern."""
    ev = _events(spark)
    src = f"file://{tmp_path}/jsrc"
    ev.write.mode("append").parquet(src)
    dim = spark.createDataFrame(
        [("click", 1.0), ("view", 0.1), ("purchase", 10.0), ("signup", 5.0), ("error", 0.0)],
        "event_type string, weight double",
    )
    stream = spark.readStream.schema(ev.schema).parquet(src)
    enriched = (
        stream.join(dim, "event_type")
        .groupBy("event_type")
        .agg(F.round(F.sum(F.col("value") * F.col("weight")), 2).alias("weighted"))
    )
    q = (
        enriched.writeStream.format("memory").queryName("ssj")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {(r.event_type): r.weighted for r in spark.table("ssj").collect()}
    want = {
        (r.event_type): r.weighted
        for r in ev.join(dim, "event_type")
        .groupBy("event_type")
        .agg(F.round(F.sum(F.col("value") * F.col("weight")), 2).alias("weighted"))
        .collect()
    }
    assert got == want and len(got) >= 4


def test_append_mode_emits_only_closed_windows(spark, tmp_path):
    """Append-mode windowed aggregation emits a window only once the
    watermark passes its end — windows within the watermark delay of the
    max event time stay open (the late-data semantics the reference lacked;
    SURVEY.md §2.11)."""
    ev = _events(spark)
    src = f"file://{tmp_path}/apsrc"
    ev.write.mode("append").parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))  # NTZ → LTZ for watermark
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("win_start"), "n")
    )
    q = (
        agg.writeStream.format("memory").queryName("apq")
        .outputMode("append")
        .option("checkpointLocation", f"file://{tmp_path}/apckpt")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    emitted = {r.win_start for r in spark.table("apq").collect()}
    max_ts = ev.agg(F.max("ts")).head()[0]
    all_windows = {
        r.win_start
        for r in ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("win_start"), "n")
        .collect()
    }
    import datetime

    watermark = max_ts - datetime.timedelta(hours=2)
    expected_closed = {w for w in all_windows if w + datetime.timedelta(hours=1) <= watermark}
    assert emitted == expected_closed
    assert emitted < all_windows  # the open tail was withheld


@pytest.mark.heavy
def test_stream_stream_join_equals_batch(spark, tmp_path):
    """Stream-stream inner join with watermarks + time-range condition
    (StreamingSymmetricHashJoinExec): click→purchase attribution over a
    6-hour horizon must equal the batch join on the same data."""
    from sparkfulltextquery_spark.streaming import attribute_purchases

    ev = _events(spark)
    csrc, psrc = f"file://{tmp_path}/clicks", f"file://{tmp_path}/purch"
    ev.filter(F.col("event_type") == "click").write.mode("append").parquet(csrc)
    ev.filter(F.col("event_type") == "purchase").write.mode("append").parquet(psrc)
    joined = attribute_purchases(
        spark.readStream.schema(ev.schema).parquet(csrc),
        spark.readStream.schema(ev.schema).parquet(psrc),
    )
    q = (
        joined.writeStream.format("memory").queryName("s2sj")
        .outputMode("append")
        .option("checkpointLocation", f"file://{tmp_path}/s2sckpt")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {(r.click_id, r.purchase_id) for r in spark.table("s2sj").collect()}
    want = {
        (r.click_id, r.purchase_id)
        for r in attribute_purchases(
            ev.filter(F.col("event_type") == "click"),
            ev.filter(F.col("event_type") == "purchase"),
        ).collect()
    }
    assert got == want and len(got) > 0


def test_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark drops redelivered events while keeping
    state bounded by event time (Spark 3.5+; production streaming dedup)."""
    from sparkfulltextquery_spark.streaming import dedup_within_watermark

    ev = _events(spark).limit(300)
    src = f"file://{tmp_path}/wdsrc"
    ev.write.mode("append").parquet(src)
    ev.write.mode("append").parquet(src)  # exact redelivery
    dd = dedup_within_watermark(spark.readStream.schema(ev.schema).parquet(src))
    q = (
        dd.writeStream.format("memory").queryName("wdq")
        .outputMode("append")
        .option("checkpointLocation", f"file://{tmp_path}/wdckpt")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    out = spark.table("wdq")
    assert out.count() == 300
    assert out.select("event_id").distinct().count() == 300


def _has_protobuf() -> bool:
    try:
        import google.protobuf  # noqa: F401
        return True
    except ImportError:
        return False


def test_transform_with_state_across_restarts(spark, tmp_path):
    """StatefulProcessor API (named ValueState, init/handleInputRows/close —
    the transformWithStateInPandas programming model): per-user state
    accumulates across two checkpointed runs and matches the batch
    aggregate. Engine auto-selects: native transformWithStateInPandas where
    the protobuf runtime exists (it also needs the RocksDB provider), else
    the portable applyInPandasWithState executor
    (streaming.transform_with_state) — the recovery contract under test is
    engine-independent."""
    from sparkfulltextquery_spark.streaming import running_user_totals_tws

    if _has_protobuf():
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
    ev = _events(spark)
    src = f"file://{tmp_path}/twsrc"
    ckpt = f"file://{tmp_path}/twckpt"
    out2 = f"file://{tmp_path}/twout2"

    def run(out_path):
        def sink(bdf, bid):
            bdf.write.mode("append").parquet(out_path)

        s = running_user_totals_tws(spark.readStream.schema(ev.schema).parquet(src))
        q = (
            s.writeStream.foreachBatch(sink).outputMode("update")
            .option("checkpointLocation", ckpt).trigger(availableNow=True).start()
        )
        q.awaitTermination()

    _write_chunk(ev, src, F.col("event_id") < 500)
    run(f"file://{tmp_path}/twout1")
    _write_chunk(ev, src, F.col("event_id") >= 500)
    run(out2)

    got = {r.user_id: (r.n_events, r.total) for r in spark.read.parquet(out2).collect()}
    want = {
        r.user_id: (r.n, r.t)
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("t"))
        .collect()
    }
    for u, (n, t) in got.items():
        assert (n, t) == want[u], (u, (n, t), want[u])
    assert len(got) > 0


def test_transform_with_state_multi_state_and_clear(spark, tmp_path):
    """The portable StatefulProcessor executor must round-trip MULTIPLE named
    ValueStates through the packed GroupState struct, including a clear():
    state `hi` records the running max value but is cleared every batch in
    which the running count crosses a multiple of 100 — a cleared state
    must read back as absent in the NEXT batch (presence flags persist)."""
    import pandas as pd

    from sparkfulltextquery_spark.streaming import transform_with_state

    def processor_factory():
        class TwoStates:
            def init(self, handle):
                self._n = handle.getValueState("n", "n bigint")
                self._hi = handle.getValueState("hi", "hi double")

            def handleInputRows(self, key, rows, timerValues):
                n = self._n.get()[0] if self._n.exists() else 0
                hi_seen = self._hi.exists()
                hi = self._hi.get()[0] if hi_seen else float("-inf")
                for pdf in rows:
                    n += len(pdf)
                    hi = max(hi, float(pdf["value"].max()))
                self._n.update((n,))
                if n % 100 == 0:
                    self._hi.clear()
                else:
                    self._hi.update((hi,))
                yield pd.DataFrame(
                    {
                        "user_id": [key[0]],
                        "n": [n],
                        "hi_was_present": [hi_seen],
                        "hi": [hi],
                    }
                )

        return TwoStates

    ev = _events(spark).filter(F.col("user_id") == 1)
    src = f"file://{tmp_path}/mssrc"
    ckpt = f"file://{tmp_path}/msckpt"
    outs = []

    def run(tag):
        out = f"file://{tmp_path}/msout{tag}"
        outs.append(out)

        def sink(bdf, bid):
            bdf.write.mode("append").parquet(out)

        s = transform_with_state(
            spark.readStream.schema(ev.schema).parquet(src),
            processor_factory(),
            group_keys=["user_id"],
            output_struct="user_id bigint, n bigint, hi_was_present boolean, hi double",
            native=False,
        )
        q = (
            s.writeStream.foreachBatch(sink).outputMode("update")
            .option("checkpointLocation", ckpt).trigger(availableNow=True).start()
        )
        q.awaitTermination()
        return spark.read.parquet(out).collect()

    _write_chunk(ev, src, F.col("event_id") < 500)
    r1 = run(1)
    _write_chunk(ev, src, F.col("event_id") >= 500)
    r2 = run(2)

    assert len(r1) == 1 and len(r2) == 1
    n1, n2 = r1[0].n, r2[0].n
    # count state accumulated across the restart
    assert n2 == ev.count() and n1 < n2
    # `hi` presence in run 2 reflects whether run 1 cleared it (n1 % 100)
    assert r2[0].hi_was_present == (n1 % 100 != 0)


def test_incremental_rollup_dynamic_partition_overwrite(spark, tmp_path):
    """The materialized per-source rollup must equal the batch aggregate
    after two incremental refreshes, with each refresh rewriting only the
    touched source partitions (dynamic partition overwrite)."""
    from sparkfulltextquery_spark.sources import load_table
    from sparkfulltextquery_spark.streaming import stream_rollup_by_source

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "source", "text")
    src = f"file://{tmp_path}/r_src"
    roll = f"{tmp_path}/r_roll"

    docs.filter(F.col("doc_id") < 250).write.mode("append").parquet(src)
    q = stream_rollup_by_source(
        spark.readStream.schema(docs.schema).parquet(src), roll, f"file://{tmp_path}/r_ck"
    )
    q.awaitTermination()
    docs.filter(F.col("doc_id") >= 250).write.mode("append").parquet(src)
    q = stream_rollup_by_source(
        spark.readStream.schema(docs.schema).parquet(src), roll, f"file://{tmp_path}/r_ck"
    )
    q.awaitTermination()

    got = {
        r.source: (r.n_docs, r.n_chars)
        for r in spark.read.parquet(roll).collect()
    }
    want = {
        r.source: (r.n, r.c)
        for r in docs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.length("text")).alias("c"))
        .collect()
    }
    assert got == want


@pytest.mark.heavy
def test_stream_stream_left_outer_join_watermark_flush(spark, tmp_path):
    """Left-outer stream-stream join: unmatched clicks must emit null-padded
    rows ONLY after the watermark passes their join horizon (outer rows are
    withheld while a future match is still possible), and the still-open
    tail must stay withheld. Three checkpointed AvailableNow runs advance
    the watermark across cohorts."""
    from datetime import datetime, timedelta

    from sparkfulltextquery_spark.streaming import attribute_purchases

    t0 = datetime(2024, 1, 1, 0, 0, 0)
    cs, ps = f"file://{tmp_path}/oclicks", f"file://{tmp_path}/opurch"
    ckpt = f"file://{tmp_path}/os2sckpt"
    cschema = "user_id int, event_id int, ts timestamp"
    pschema = "user_id int, event_id int, ts timestamp, value double"

    out_dir = f"file://{tmp_path}/os2sout"

    def run(_name):
        # file sink, not memory: append-mode recovery from a checkpoint
        # across runs needs a sink with its own commit log
        joined = attribute_purchases(
            spark.readStream.schema(cschema).parquet(cs),
            spark.readStream.schema(pschema).parquet(ps),
            how="left_outer",
        )
        q = (
            joined.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out_dir)

    # cohort 1: one matched click (u1), two forever-unmatched (u2, u3)
    spark.createDataFrame(
        [(1, 101, t0), (2, 102, t0), (3, 103, t0)], cschema
    ).write.mode("append").parquet(cs)
    spark.createDataFrame(
        [(1, 201, t0 + timedelta(hours=1), 9.99)], pschema
    ).write.mode("append").parquet(ps)
    out1 = run("os2s_1")
    assert {(r.click_id, r.purchase_id) for r in out1.collect()} == {(101, 201)}

    # cohort 2, 48h later: matched pair for u9 — pushes both watermarks far
    # past cohort 1's click horizon (6h) + delay (2h)
    spark.createDataFrame(
        [(9, 109, t0 + timedelta(hours=48))], cschema
    ).write.mode("append").parquet(cs)
    spark.createDataFrame(
        [(9, 209, t0 + timedelta(hours=48, minutes=30), 1.5)], pschema
    ).write.mode("append").parquet(ps)
    run("os2s_2")

    # cohort 3, 49h: an unmatched click that must stay withheld (watermark
    # never reaches its horizon); its batch starts with cohort-2's watermark,
    # flushing cohort-1's expired unmatched clicks as null-padded rows
    spark.createDataFrame(
        [(10, 110, t0 + timedelta(hours=49))], cschema
    ).write.mode("append").parquet(cs)
    out3 = run("os2s_3")

    rows = out3.collect()
    matched = {(r.click_id, r.purchase_id) for r in rows if r.purchase_id is not None}
    outer = {r.click_id for r in rows if r.purchase_id is None}
    assert matched == {(101, 201), (109, 209)}
    assert outer == {102, 103}, f"expected cohort-1 unmatched flush, got {outer}"
    # u10's click is inside the open tail — not emitted yet
    assert 110 not in {r.click_id for r in rows}


def test_streaming_signature_store_feeds_incremental_dedup(spark, tmp_path):
    """Signature store stays fresh under streaming ingest: docs appended via
    foreachBatch log segments are immediately probe-able — a delta batch
    finds clones of BOTH the batch-built corpus and the streamed cohort."""
    from pyspark.sql import functions as F

    from sparkfulltextquery_spark.dedup.incremental import (
        build_signature_store,
        incremental_near_dups,
        stream_update_signature_store,
    )

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    cohort_a = docs.filter(F.col("doc_id") < 20)
    cohort_b = docs.filter((F.col("doc_id") >= 20) & (F.col("doc_id") < 40)).select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text"
    )
    store = f"file://{tmp_path}/sigstore"
    build_signature_store(cohort_a, store)

    src = f"file://{tmp_path}/ingest"
    cohort_b.write.mode("append").parquet(src)
    q = stream_update_signature_store(
        spark.readStream.schema(cohort_b.schema).parquet(src),
        store,
        f"file://{tmp_path}/sigckpt",
    )
    q.awaitTermination()

    # delta: one clone of an A doc, one clone of a streamed B doc
    delta = (
        cohort_a.filter(F.col("doc_id") == 5)
        .select((F.col("doc_id") + 500000).alias("doc_id"), "text")
        .union(
            cohort_b.filter(F.col("doc_id") == 1025).select(
                (F.col("doc_id") + 500000).alias("doc_id"), "text"
            )
        )
    )
    corpus = cohort_a.union(cohort_b)
    pairs = incremental_near_dups(spark, delta, corpus, store, threshold=0.99)
    got = {(r.doc_new, r.doc_old) for r in pairs.collect() if r.jaccard >= 0.999}
    assert (500005, 5) in got, got
    assert (501025, 1025) in got, got


@pytest.mark.heavy
def test_microbatch_latency_ceiling(spark, tmp_path):
    """Streaming latency evidence (VERDICT r05 #6): a rate source feeding a
    watermarked tumbling-window aggregation, with per-batch wall time read
    from the engine's own progress telemetry (StreamingQueryProgress
    batchDuration / triggerExecution). Asserts (a) several batches
    complete, and (b) the MEDIAN steady-state batch duration stays under a
    ceiling that holds with wide margin on local[32] but would catch an
    accidental per-batch full-recompute (state-store misuse turns a
    milliseconds micro-batch into seconds at any scale — the metric the
    100 TB streaming story runs on).

    The first batch is excluded: it pays source/state-store/codegen init,
    which is amortized in steady state (the same reason bench.py warms up
    before timing)."""
    import time

    from pyspark.sql import functions as F

    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 500)
        .load()
        .withWatermark("timestamp", "2 seconds")
        .groupBy(F.window("timestamp", "1 second"), F.col("value") % 10)
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("latq")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 60
        progresses = []
        seen_batches = set()
        while time.time() < deadline:
            p = q.lastProgress
            if p is not None and p["batchId"] not in seen_batches:
                seen_batches.add(p["batchId"])
                if p["numInputRows"] > 0:
                    progresses.append(p)
            if len(progresses) >= 6:
                break
            time.sleep(0.2)
        assert len(progresses) >= 4, f"only {len(progresses)} data batches in 60s"
        durs = sorted(
            p["durationMs"]["triggerExecution"] for p in progresses[1:]
        )
        median = durs[len(durs) // 2]
        # steady-state micro-batches of ~500 rows must execute well under a
        # second; 2000ms is ~10x the observed local[32] median — a ceiling
        # that only a per-batch recompute or state-store regression breaks
        assert median < 2000, f"median batch {median}ms, all={durs}"
    finally:
        q.stop()


def test_exactly_once_recovery_after_midstream_failure(spark, tmp_path):
    """Exactly-once failure injection (VERDICT r06 #5): a foreachBatch
    idempotent sink crashes AFTER writing batch 1's output but BEFORE the
    checkpoint commit is recorded — the worst-case window. On restart from
    the same checkpoint Spark replays batch 1 from the offset log
    (written before execution, reference HDFSMetadataLog/CommitLog
    semantics); the sink's overwrite-by-batch_id write makes the replay
    idempotent, so the final output has NO duplicates and NO losses.

    This is the standard exactly-once contract: at-least-once replay from
    the checkpoint x idempotent (or transactional) sink keyed on batch_id."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    ev = _events(spark).limit(600).select("event_id", "user_id", "value")
    src = f"file://{tmp_path}/xosrc"
    ckpt = f"file://{tmp_path}/xockpt"
    out = f"{tmp_path}/xoout"
    marker = tmp_path / "crash_once"
    # three source files + maxFilesPerTrigger=1 -> three micro-batches
    for i in range(3):
        ev.filter(F.col("event_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def sink(batch_df, batch_id):
        # idempotent write: a replayed batch OVERWRITES its own partition
        batch_df.write.mode("overwrite").parquet(f"file://{out}/batch={batch_id}")
        if batch_id == 1 and not marker.exists():
            marker.touch()
            # crash in the at-least-once window: output durable, offset
            # commit never recorded -> restart must replay this batch
            raise RuntimeError("injected failure after write, before commit")

    def run():
        q = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    with pytest.raises(StreamingQueryException):
        run()
    assert marker.exists()  # the injected crash actually fired
    run()  # restart from the same checkpoint: replay batch 1, finish 2

    got = spark.read.parquet(f"file://{out}")
    n_src = ev.count()
    assert got.count() == n_src  # no loss, no duplication
    assert got.select("event_id").distinct().count() == n_src
    # the replayed batch is present exactly once
    assert got.filter(F.input_file_name().contains("batch=1")).count() > 0


def test_python_stream_source_feeds_windowed_agg(spark, tmp_path):
    """Custom streaming Python DataSource (VERDICT r06 #6,
    SimpleDataSourceStreamReader — the structured-streaming twin of the
    batch pysource seam): a deterministic rate-like event stream drives
    the SAME windowed_counts aggregation the file-source tests use, in
    multiple micro-batches, and the drained result equals the batch twin
    computed from the identical rows."""
    from sparkfulltextquery_spark.sources.pysource import (
        register_stream,
        synth_events_batch,
    )
    from sparkfulltextquery_spark.streaming import windowed_counts

    register_stream(spark)
    stream = (
        spark.readStream.format("syntheventstream")
        .option("rows_per_batch", 150)
        .option("max_rows", 600)
        .load()
    )
    q = (
        windowed_counts(stream, window="1 hour")
        .writeStream.format("memory")
        .queryName("pysrc_win")
        .outputMode("complete")
        .option("checkpointLocation", f"file://{tmp_path}/pysrcckpt")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.win_start, r.event_type): (r.n, r.total)
        for r in spark.table("pysrc_win").collect()
    }
    want = {
        (r.win_start, r.event_type): (r.n, r.total)
        for r in windowed_counts(synth_events_batch(spark, 600)).collect()
    }
    assert got == want
    assert len(got) > 4
    # the stream really ran as multiple micro-batches (600 rows / 150)
    assert q.lastProgress is not None


@pytest.mark.heavy
def test_streaming_scored_percolation_equals_batch(spark, tmp_path):
    """Streaming RANKED percolation (r9, VERDICT r08 #5): documents arrive
    in micro-batches, each batch's matches are BM25-scored with corpus
    statistics PINNED at registration (the staleness contract — tf/dl are
    per-document so per-batch scoring is exact; idf/n_docs/avgdl are
    registration-time literals), scored alerts land in a batch-id-stamped
    log, and the per-query top-k over the log equals batch
    percolate_scored exactly — scores included. A checkpointed restart
    with no new data replays nothing and leaves the alert log stable."""
    from pyspark.sql import functions as F  # noqa: F811

    from sparkfulltextquery_spark.functions import fulltext as FT
    from sparkfulltextquery_spark.functions import querylang as QL
    from sparkfulltextquery_spark.functions.fulltext import doc_lengths
    from sparkfulltextquery_spark.functions.percolate import (
        percolate_scored,
        read_scored_alerts,
        stream_percolate_scored,
    )
    from sparkfulltextquery_spark.sources import load_table
    from tests.conftest import SF_DIR

    registry = [
        (1, "(spark AND join) AND NOT vector"),
        (2, '"data query" AND window'),
        (3, "merge OR stream"),
    ]
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")

    # registration-time corpus statistics (the pinned literals)
    union_pos = sorted(
        {t for _qid, q in registry for t in QL.term_boosts(QL.parse_query(q))}
    )
    dls = doc_lengths(docs)
    st = dls.agg(F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")).head()
    dfr = {
        r.term: int(r.df)
        for r in FT.postings(docs)
        .filter(F.col("term").isin(union_pos))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .collect()
    }
    df_of = {t: dfr.get(t, 0) for t in union_pos}
    n_docs, avgdl = int(st.n), float(st.avgdl)

    src = f"file://{tmp_path}/ps_src"
    out = f"file://{tmp_path}/ps_alerts"
    ck = f"file://{tmp_path}/ps_ck"
    for lo, hi in ((0, 150), (150, 350), (350, 10**9)):
        docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)).coalesce(
            1
        ).write.mode("append").parquet(src)

    def run():
        q = stream_percolate_scored(
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            registry, n_docs, avgdl, df_of, out, ck,
        )
        q.awaitTermination()

    run()
    got = [tuple(r) for r in read_scored_alerts(spark, out, k=3).collect()]

    rel = FT.positional_postings(docs).select("doc_id", "term", "positions", "tf", "dl")
    want = [
        tuple(r)
        for r in percolate_scored(rel, registry, n_docs, avgdl, df_of, k=3)
        .collect()
    ]
    assert got == want and len(want) > 0

    # restart on the same checkpoint: nothing replays, alerts stable
    run()
    got2 = [tuple(r) for r in read_scored_alerts(spark, out, k=3).collect()]
    assert got2 == want


@pytest.mark.heavy
def test_stream_percolate_alerts_from_registry_table(spark, tmp_path):
    """The one-call production loop (r9): register a persisted registry,
    stream documents, and the alert log equals batch percolation through
    the same table — including expansion atoms resolved per batch. A
    restart on the same checkpoint replays nothing."""
    from sparkfulltextquery_spark.functions import fulltext as FT
    from sparkfulltextquery_spark.functions.percolate import (
        percolate_from_table,
        register_percolator_queries,
        stream_percolate_alerts,
    )
    from sparkfulltextquery_spark.sources import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    vocab_all = FT.postings(docs).select("term").distinct()
    t = register_percolator_queries(
        spark,
        [(1, "spark AND join"), (2, "quer* AND batch"), (3, '"data query"')],
        table="t_stream_perc",
        vocab=vocab_all,
    )
    src = f"file://{tmp_path}/sp_src"
    out = f"file://{tmp_path}/sp_alerts"
    ck = f"file://{tmp_path}/sp_ck"
    for lo, hi in ((0, 200), (200, 10**9)):
        docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)).coalesce(
            1
        ).write.mode("append").parquet(src)

    def run():
        q = stream_percolate_alerts(
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            t, out, ck,
        )
        q.awaitTermination()

    run()
    got = {
        (r.query_id, r.doc_id) for r in spark.read.parquet(out).collect()
    }
    rel = FT.positional_postings(docs).select("doc_id", "term", "positions")
    want = {
        (r.query_id, r.doc_id)
        for r in percolate_from_table(
            spark, rel, t, vocab=rel.select("term").distinct(), matches=True
        ).collect()
    }
    assert got == want and len(want) > 0
    run()  # checkpointed restart: stable
    got2 = {(r.query_id, r.doc_id) for r in spark.read.parquet(out).collect()}
    assert got2 == want

    # an EMPTY registry fails loudly at stream start, not silently
    import pytest

    from sparkfulltextquery_spark.functions.percolate import (
        remove_percolator_queries,
    )

    remove_percolator_queries(spark, [1, 2, 3], table=t)
    with pytest.raises(ValueError, match="is empty"):
        stream_percolate_alerts(
            spark.readStream.schema(docs.schema).parquet(src),
            t, out, ck,
        )


def test_streaming_percolation_alerts_equal_batch(spark, tmp_path):
    """Streaming percolation / saved-search alerting (r8): documents
    arrive in micro-batches; each batch is percolated against the stored
    boolean-query registry (percolate_matches — per-DOCUMENT matching has
    no cross-document state, so batch-wise evaluation is exact) and the
    (batch_id, query_id, doc_id) alerts append to a log. After the drain,
    the alert log must equal batch percolation over the full corpus —
    no duplicate alerts, no missed ones — and survive a restart cycle
    via the checkpoint."""
    from sparkfulltextquery_spark.functions import fulltext as FT
    from sparkfulltextquery_spark.functions.percolate import (
        percolate_matches,
    )
    from sparkfulltextquery_spark.sources import load_table
    from tests.conftest import SF_DIR

    registry = [
        (1, "(spark AND join) AND NOT vector"),
        (2, '"data query" AND window'),
        (3, "quer* AND batch"),
    ]
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    src = f"file://{tmp_path}/p_src"
    out = f"{tmp_path}/p_alerts"
    for lo, hi in ((0, 150), (150, 350), (350, 10**9)):
        docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)).coalesce(
            1
        ).write.mode("append").parquet(src)

    def alert_sink(batch_df, batch_id):
        rel = FT.positional_postings(batch_df).select(
            "doc_id", "term", "positions"
        )
        vocab = rel.select("term").distinct()
        (
            percolate_matches(rel, registry, vocab=vocab)
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .parquet(f"file://{out}/batch={batch_id}")
        )

    q = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(alert_sink)
        .option("checkpointLocation", f"file://{tmp_path}/p_ck")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = {
        (r.query_id, r.doc_id)
        for r in spark.read.parquet(f"file://{out}").collect()
    }
    rel = FT.positional_postings(docs).select("doc_id", "term", "positions")
    want = {
        (r.query_id, r.doc_id)
        for r in percolate_matches(
            rel, registry, vocab=rel.select("term").distinct()
        ).collect()
    }
    assert got == want and len(want) > 0
    # restart with no new data: checkpoint replays nothing, alerts stable
    q2 = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(alert_sink)
        .option("checkpointLocation", f"file://{tmp_path}/p_ck")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    got2 = {
        (r.query_id, r.doc_id)
        for r in spark.read.parquet(f"file://{out}").collect()
    }
    assert got2 == want


@pytest.mark.heavy
def test_stream_percolate_at_registry_scale_1k(spark, tmp_path):
    """Streaming percolation at REGISTRY scale (r10, VERDICT r09 #6): a
    1,000-query registry — 4 chunked compiles per micro-batch plus the
    query-term-index prefilter — driven end-to-end through foreachBatch,
    with per-batch wall recorded (SCALE.md carries the table next to the
    idf/avgdl staleness contract). The drained alert log must equal batch
    percolation of the full corpus exactly; a checkpointed restart
    replays nothing."""
    import time as _time

    from scripts.measure_percolator_boundary import gen_registry

    from sparkfulltextquery_spark.functions import fulltext as FT
    from sparkfulltextquery_spark.functions.percolate import (
        percolate_matches,
        register_percolator_queries,
        stream_percolate_alerts,
    )
    from sparkfulltextquery_spark.sources import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    toks = {
        int(r.doc_id): FT._py_tokenize(r.text) for r in docs.collect()
    }
    from collections import Counter

    c = Counter(t for ts in toks.values() for t in set(ts))
    registry = gen_registry([t for t, _n in c.most_common(200)], 1000)
    t = register_percolator_queries(
        spark, registry, table="t_stream_perc_1k"
    )

    src = f"file://{tmp_path}/sp1k_src"
    out = f"file://{tmp_path}/sp1k_alerts"
    ck = f"file://{tmp_path}/sp1k_ck"
    for lo, hi in ((0, 150), (150, 350), (350, 10**9)):
        docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)).coalesce(
            1
        ).write.mode("append").parquet(src)

    def run():
        q = stream_percolate_alerts(
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            t, out, ck,
        )
        q.awaitTermination()

    t0 = _time.perf_counter()
    run()
    wall = _time.perf_counter() - t0
    batches = spark.read.parquet(out).select("batch_id").distinct().count()
    assert batches == 3
    per_batch = wall / batches
    # generous CI pin — the SCALE.md table carries the measured number;
    # this trips only on an order-of-magnitude regression (per-batch
    # compile going super-linear in registry size again)
    assert per_batch < 60, f"1k-registry per-batch wall {per_batch:.1f}s"

    got = {
        (r.query_id, r.doc_id) for r in spark.read.parquet(out).collect()
    }
    rel = FT.positional_postings(docs).select("doc_id", "term", "positions")
    want = {
        (r.query_id, r.doc_id)
        for r in percolate_matches(rel, registry).collect()
    }
    assert got == want and len(want) > 0

    run()  # checkpointed restart: no replay, alert log stable
    got2 = {
        (r.query_id, r.doc_id) for r in spark.read.parquet(out).collect()
    }
    assert got2 == want


@pytest.mark.heavy
def test_stream_percolate_candidate_set_changes_mid_stream(spark, tmp_path):
    """r12 (VERDICT r11 #5): the per-stream compile cache must stay
    EXACT when the candidate set changes between micro-batches — two
    batches with disjoint topic vocabularies activate disjoint registry
    slices (different chunk keys → cache miss → fresh compile), and the
    drained alert log equals batch percolation of the union. Also pins
    the r12 cache-hygiene contract (ADVICE r11): the term index cached
    at stream start is unpersisted once the stream terminates."""
    import time as _time

    from sparkfulltextquery_spark.functions import fulltext as FT
    from sparkfulltextquery_spark.functions.percolate import (
        percolate_matches,
        register_percolator_queries,
        stream_percolate_alerts,
    )

    # batch 1's docs speak topic A, batch 2's topic B — the registry's
    # two 150-query slices are candidates in exactly one batch each
    docs_a = [(j, f"ga{j} gshared") for j in range(50)]
    docs_b = [(100 + j, f"gb{j} hshared") for j in range(50)]
    registry = [(i, f"ga{i} AND gshared") for i in range(150)] + [
        (1000 + i, f"gb{i} AND hshared") for i in range(150)
    ]
    tbl = register_percolator_queries(
        spark, registry, table="t_stream_perc_candshift"
    )

    src = f"file://{tmp_path}/shift_src"
    out = f"file://{tmp_path}/shift_alerts"
    ck = f"file://{tmp_path}/shift_ck"
    schema = "doc_id long, text string"
    for batch in (docs_a, docs_b):
        spark.createDataFrame(batch, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    storage_before = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    q = stream_percolate_alerts(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        tbl, out, ck,
    )
    q.awaitTermination()

    got = {
        (r.query_id, r.doc_id)
        for r in spark.read.parquet(out).select("query_id", "doc_id").collect()
    }
    want = {(j, j) for j in range(50)} | {(1000 + j, 100 + j) for j in range(50)}
    assert got == want
    # cross-check against batch percolation of the union
    all_docs = spark.createDataFrame(docs_a + docs_b, schema)
    rel = FT.positional_postings(all_docs).select("doc_id", "term", "positions")
    batch = {
        (r.query_id, r.doc_id)
        for r in percolate_matches(rel, registry).collect()
    }
    assert got == batch

    # the cached term index is released after termination (listener runs
    # on the streaming event thread — poll briefly)
    deadline = _time.time() + 20
    while _time.time() < deadline:
        if (
            len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
            <= storage_before
        ):
            break
        _time.sleep(0.5)
    assert (
        len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
        <= storage_before
    ), "term-index cache not unpersisted after stream termination"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    spark.sql(f"DROP TABLE IF EXISTS {tbl}_terms")
