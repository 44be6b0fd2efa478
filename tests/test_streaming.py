"""Structured Streaming tests: watermarked windowed aggregation, sessions,
streaming exact dedup and stream-stream interval joins, each against its
batch twin."""

from __future__ import annotations

from pyspark.sql import functions as F

from ocr_search_spark.streaming.stream import windowed_event_counts

from conftest import SF_DIR


class TestWindowedCounts:
    def test_stream_quality_gate_equals_batch(self, spark, tmp_path):
        """Stateless training-data gates drop straight into foreachBatch —
        one code path for batch and streaming filtering (the composition a
        continuously-ingesting training pipeline runs)."""
        from ocr_search_spark.ops.text_analysis import repetition_filter

        rows = [
            ("clean1", " ".join(f"w{i}" for i in range(60))),
            ("spam", "buy now " * 40),
            ("clean2", " ".join(f"v{i}" for i in range(70))),
        ]
        src = str(tmp_path / "gate_in")
        out = str(tmp_path / "gate_out")
        ckpt = str(tmp_path / "gate_ckpt")
        df = spark.createDataFrame(rows, "doc_id string, text string")
        df.coalesce(1).write.parquet(src)

        stream = spark.readStream.schema("doc_id string, text string").parquet(src)

        def gate_batch(batch_df, batch_id):
            repetition_filter(batch_df).write.mode("append").parquet(out)

        q = (
            stream.writeStream.foreachBatch(gate_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        streamed = {r.id for r in spark.read.parquet(out).collect()}
        batch = {r.id for r in repetition_filter(df).collect()}
        assert streamed == batch == {"clean1", "clean2"}

    def test_watermarked_window_agg(self, spark, tmp_path):
        rows = [
            ("2024-01-01 10:05:00", "click"),
            ("2024-01-01 10:55:00", "click"),
            ("2024-01-01 11:05:00", "view"),
        ]
        src = str(tmp_path / "events")
        spark.createDataFrame(rows, "ts string, event_type string").withColumn(
            "ts", F.col("ts").cast("timestamp")
        ).write.parquet(src)

        stream = spark.readStream.schema("ts timestamp, event_type string").parquet(src)
        agg = windowed_event_counts(stream)
        # complete mode: append-mode windows would only surface on a LATER
        # microbatch once the watermark passes; with a single availableNow
        # drain nothing would emit
        q = (
            agg.writeStream.format("memory")
            .queryName("win_counts")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (str(r.window_start), r.event_type): r.cnt
            for r in spark.sql("SELECT * FROM win_counts").collect()
        }
        assert got == {
            ("2024-01-01 10:00:00", "click"): 2,
            ("2024-01-01 11:00:00", "view"): 1,
        }

    def test_batch_mode_window_agg(self, spark):
        events = spark.read.parquet(f"{SF_DIR}/events.parquet")
        res = windowed_event_counts(events)
        assert res.agg(F.sum("cnt")).collect()[0][0] == events.count()


class TestSessionize:
    ROWS = [
        (1, "2024-01-01 10:00:00"),
        (1, "2024-01-01 10:10:00"),
        (1, "2024-01-01 12:00:00"),  # > 30 min gap -> new session
        (2, "2024-01-01 09:00:00"),
    ]

    def _events(self, spark):
        from pyspark.sql import functions as F

        return spark.createDataFrame(self.ROWS, "user_id long, ts string").withColumn(
            "ts", F.col("ts").cast("timestamp")
        )

    def test_batch_sessions(self, spark):
        from ocr_search_spark.streaming.sessionize import sessionize_batch

        got = {
            (r.user_id, str(r.session_start)): (str(r.session_end), r.n_events)
            for r in sessionize_batch(self._events(spark), gap_minutes=30).collect()
        }
        assert got == {
            (1, "2024-01-01 10:00:00"): ("2024-01-01 10:10:00", 2),
            (1, "2024-01-01 12:00:00"): ("2024-01-01 12:00:00", 1),
            (2, "2024-01-01 09:00:00"): ("2024-01-01 09:00:00", 1),
        }

    def test_stream_sessions_match_batch(self, spark, tmp_path):
        from ocr_search_spark.streaming.sessionize import (
            sessionize_batch,
            sessionize_stream,
        )

        src = str(tmp_path / "sess_events")
        ev = self._events(spark)
        # single file so the whole prefix is one microbatch — otherwise the
        # 0-second watermark drops earlier events as late across batches
        ev.coalesce(1).write.parquet(src)
        # a late file far in the future advances the watermark so every
        # earlier session's event-time timeout fires
        spark.createDataFrame(
            [(99, "2024-01-02 10:00:00")], "user_id long, ts string"
        ).selectExpr("user_id", "cast(ts as timestamp) ts").write.mode("append").parquet(src)

        stream = spark.readStream.schema("user_id long, ts timestamp").option(
            "maxFilesPerTrigger", "1"
        ).parquet(src)
        q = (
            sessionize_stream(stream, gap_minutes=30, watermark="0 seconds")
            .writeStream.format("memory")
            .queryName("sessions")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = {
            (r.user_id, str(r.session_start)): (str(r.session_end), r.n_events)
            for r in spark.sql("SELECT * FROM sessions").collect()
        }
        want = {
            (r.user_id, str(r.session_start)): (str(r.session_end), r.n_events)
            for r in sessionize_batch(self._events(spark), gap_minutes=30).collect()
        }
        # every batch session is closed and emitted by the stream (the
        # watermark-advancing user 99 session itself stays open)
        for k, v in want.items():
            assert got.get(k) == v, (k, v, got)


class TestDedupStream:
    def test_drops_duplicates_within_watermark(self, spark, tmp_path):
        from ocr_search_spark.streaming.dedup_stream import dedup_stream

        src = str(tmp_path / "dedup_docs")
        rows = [
            ("a1", "hello world", "2024-01-01 10:00:00"),
            ("a2", "hello world", "2024-01-01 10:05:00"),  # dup within window
            ("b1", "something else", "2024-01-01 10:01:00"),
            ("b2", "hello world", "2024-01-01 10:02:00"),  # dup within window
        ]
        df = spark.createDataFrame(
            rows, "doc_id string, text string, ts string"
        ).selectExpr("doc_id", "text", "cast(ts as timestamp) ts")
        df.coalesce(1).write.parquet(src)

        stream = spark.readStream.schema(
            "doc_id string, text string, ts timestamp"
        ).parquet(src)
        q = (
            dedup_stream(stream, watermark="1 hour")
            .writeStream.format("memory")
            .queryName("dedup_out")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        out = spark.sql("SELECT fingerprint, doc_id FROM dedup_out").collect()
        # exactly one survivor per distinct text; each fingerprint once
        fps = [r.fingerprint for r in out]
        assert len(fps) == 2 and len(set(fps)) == 2
        survivors = {r.doc_id for r in out}
        assert "b1" in survivors and len(survivors & {"a1", "a2", "b2"}) == 1

    def test_stream_matches_batch_twin_in_order(self, spark, tmp_path):
        """For an in-event-time-order stream, dedup_stream admits exactly
        the rows dedup_batch_twin keeps (min ts, tie min id per
        fingerprint) — the contract the driver certifies through the
        dedup_stream_twin oracle query."""
        from ocr_search_spark.streaming.dedup_stream import (
            dedup_batch_twin,
            dedup_stream,
        )

        rows = [  # already in event-time order
            ("d1", "alpha", "2024-01-01 09:00:00"),
            ("d2", "beta", "2024-01-01 09:01:00"),
            ("d3", "alpha", "2024-01-01 09:02:00"),  # dup of d1
            ("d4", "gamma", "2024-01-01 09:03:00"),
            ("d5", "beta", "2024-01-01 09:04:00"),   # dup of d2
            ("d6", "alpha", "2024-01-01 09:05:00"),  # dup of d1
        ]
        df = spark.createDataFrame(
            rows, "doc_id string, text string, ts string"
        ).selectExpr("doc_id", "text", "cast(ts as timestamp) ts")
        src = str(tmp_path / "twin_docs")
        df.coalesce(1).write.parquet(src)

        stream = spark.readStream.schema(
            "doc_id string, text string, ts timestamp"
        ).parquet(src)
        q = (
            dedup_stream(stream, watermark="1 hour")
            .writeStream.format("memory")
            .queryName("twin_out")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r.doc_id, r.fingerprint)
            for r in spark.sql("SELECT * FROM twin_out").collect()
        }
        want = {
            (r.doc_id, r.fingerprint) for r in dedup_batch_twin(df).collect()
        }
        assert got == want
        assert {d for d, _ in got} == {"d1", "d2", "d4"}


class TestRangeJoinStream:
    def test_stream_matches_batch_range_join(self, spark, tmp_path):
        """The watermarked stream-stream interval join must produce the
        same pair set as ops.relational.range_join on identical input."""
        from ocr_search_spark.ops.relational import range_join
        from ocr_search_spark.streaming.join_stream import range_join_stream

        purchases = [
            ("u1", "2024-01-01 10:10:00", 1),
            ("u1", "2024-01-01 10:30:00", 2),
            ("u2", "2024-01-01 09:00:00", 3),
        ]
        clicks = [
            ("u1", "2024-01-01 10:00:00", 10),   # within 15 min of p1
            ("u1", "2024-01-01 10:29:00", 11),   # within 15 min of p2
            ("u1", "2024-01-01 09:00:00", 12),   # too old for both
            ("u2", "2024-01-01 08:50:00", 13),   # within 15 min of p3
        ]
        schema = "user_id string, ts string, event_id long"
        mk = lambda rows: spark.createDataFrame(rows, schema).selectExpr(
            "user_id", "cast(ts as timestamp) ts", "event_id"
        )
        lsrc, rsrc = str(tmp_path / "l"), str(tmp_path / "r")
        mk(purchases).coalesce(1).write.parquet(lsrc)
        mk(clicks).coalesce(1).write.parquet(rsrc)

        read = lambda p: spark.readStream.schema(
            "user_id string, ts timestamp, event_id long"
        ).parquet(p)
        q = (
            range_join_stream(
                read(lsrc), read(rsrc), on="user_id",
                lookback_s=900, watermark="0 seconds",
            )
            .writeStream.format("memory")
            .queryName("rjs_out")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = {
            (r.user_id, r.event_id, r.event_id_r)
            for r in spark.sql("SELECT * FROM rjs_out").collect()
        }
        want = {
            (r.user_id, r.event_id, r.event_id_r)
            for r in range_join(
                mk(purchases), mk(clicks), on="user_id",
                left_ts="ts", right_ts="ts", lookback_s=900,
            ).collect()
        }
        assert got == want
        assert got == {("u1", 1, 10), ("u1", 2, 11), ("u2", 3, 13)}

    def test_stream_matches_batch_subsecond(self, spark, tmp_path):
        """Sub-second timestamps: the batch residual must run at full
        microsecond precision, not on floored whole seconds — a right row
        0.4 s AFTER left_ts and one 10.1 s before (0.1 s past the lookback
        floor) are both excluded by batch AND stream identically."""
        from ocr_search_spark.ops.relational import range_join
        from ocr_search_spark.streaming.join_stream import range_join_stream

        purchases = [("u1", "2024-01-01 10:00:10.500", 1)]
        clicks = [
            ("u1", "2024-01-01 10:00:10.900", 20),  # 0.4s AFTER -> excluded
            ("u1", "2024-01-01 10:00:00.400", 21),  # 10.1s before -> excluded
            ("u1", "2024-01-01 10:00:00.600", 22),  # 9.9s before -> included
            ("u1", "2024-01-01 10:00:10.500", 23),  # equal ts -> included
        ]
        schema = "user_id string, ts string, event_id long"
        mk = lambda rows: spark.createDataFrame(rows, schema).selectExpr(
            "user_id", "cast(ts as timestamp) ts", "event_id"
        )
        lsrc, rsrc = str(tmp_path / "lss"), str(tmp_path / "rss")
        mk(purchases).coalesce(1).write.parquet(lsrc)
        mk(clicks).coalesce(1).write.parquet(rsrc)
        read = lambda p: spark.readStream.schema(
            "user_id string, ts timestamp, event_id long"
        ).parquet(p)
        q = (
            range_join_stream(
                read(lsrc), read(rsrc), on="user_id",
                lookback_s=10, watermark="0 seconds",
            )
            .writeStream.format("memory")
            .queryName("rjs_ss_out")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = {
            (r.event_id, r.event_id_r)
            for r in spark.sql("SELECT * FROM rjs_ss_out").collect()
        }
        want = {
            (r.event_id, r.event_id_r)
            for r in range_join(
                mk(purchases), mk(clicks), on="user_id",
                left_ts="ts", right_ts="ts", lookback_s=10,
            ).collect()
        }
        assert got == want == {(1, 22), (1, 23)}


class TestLateEventSessions:
    def test_late_event_lowers_open_session_start(self, spark, tmp_path):
        """Round-4 review: a late-but-in-watermark event older than the
        open session's start must lower the start (or split), matching
        batch semantics — not be swallowed with start unchanged."""
        from ocr_search_spark.streaming.sessionize import (
            sessionize_batch,
            sessionize_stream,
        )

        src = str(tmp_path / "late_events")
        mk = lambda rows: spark.createDataFrame(
            rows, "user_id long, ts string"
        ).selectExpr("user_id", "cast(ts as timestamp) ts")
        # batch 1: 12:00; batch 2: LATE 11:45 (within gap -> one session
        # starting 11:45) and a far-future watermark driver
        mk([(1, "2024-01-01 12:00:00")]).coalesce(1).write.parquet(src)
        mk([(1, "2024-01-01 11:45:00"), (99, "2024-01-02 12:00:00")]).coalesce(
            1
        ).write.mode("append").parquet(src)

        stream = spark.readStream.schema("user_id long, ts timestamp").option(
            "maxFilesPerTrigger", "1"
        ).parquet(src)
        q = (
            sessionize_stream(stream, gap_minutes=30, watermark="2 hours")
            .writeStream.format("memory")
            .queryName("late_sessions")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = {
            (r.user_id, str(r.session_start), str(r.session_end), r.n_events)
            for r in spark.sql(
                "SELECT * FROM late_sessions WHERE user_id = 1"
            ).collect()
        }
        want = {
            (r.user_id, str(r.session_start), str(r.session_end), r.n_events)
            for r in sessionize_batch(
                mk([(1, "2024-01-01 12:00:00"), (1, "2024-01-01 11:45:00")]),
                gap_minutes=30,
            ).collect()
        }
        assert got == want  # one session [11:45, 12:00] with 2 events
