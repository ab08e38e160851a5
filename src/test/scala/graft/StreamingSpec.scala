package graft

import graft.streaming.StreamingOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Structured Streaming twins (SURVEY.md §2g) driven through
  * MemoryStream: the same StreamingOps transforms run on a streaming
  * frame, proving they are genuinely plan-portable (kept out of the
  * DuckDB oracle set — not SQL-expressible there).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("windowedCounts aggregates event-time tumbling windows over a stream") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val df = mem.toDF().toDF("ts", "event_type")
    val out = StreamingOps.windowedCounts(df, "ts", "event_type",
      "1 hour", "10 minutes")
    val q = out.writeStream.format("memory").queryName("wc_test")
      .outputMode("complete").start()
    try {
      mem.addData(
        (ts("2024-01-01 00:05:00"), "a"),
        (ts("2024-01-01 00:20:00"), "a"),
        (ts("2024-01-01 00:40:00"), "b"),
        (ts("2024-01-01 01:05:00"), "a"))
      q.processAllAvailable()
      val rows = spark.table("wc_test")
        .select(col("window_start").cast("string"), col("event_type"), col("n"))
        .as[(String, String, Long)].collect().toSet
      assert(rows === Set(
        ("2024-01-01 00:00:00", "a", 2L),
        ("2024-01-01 00:00:00", "b", 1L),
        ("2024-01-01 01:00:00", "a", 1L)))
    } finally q.stop()
  }

  test("dedupEvents collapses redelivered events across micro-batches") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp)]
    val df = mem.toDF().toDF("event_id", "ts")
    val out = StreamingOps.dedupEvents(df, "event_id", "ts", "1 hour")
    val q = out.writeStream.format("memory").queryName("dedup_test")
      .outputMode("append").start()
    try {
      mem.addData((1L, ts("2024-01-01 00:00:01")), (2L, ts("2024-01-01 00:00:02")))
      q.processAllAvailable()
      // redelivery of id 1 in a later micro-batch + one new event
      mem.addData((1L, ts("2024-01-01 00:00:01")), (3L, ts("2024-01-01 00:00:03")))
      q.processAllAvailable()
      // r14: a producer retry that RE-STAMPS the send time is still the
      // same event — the old dropDuplicates(id, ts) treated it as new
      // and double-counted downstream; per-id WithinWatermark dedup
      // must collapse it
      mem.addData((2L, ts("2024-01-01 00:05:00")))
      q.processAllAvailable()
      val ids = spark.table("dedup_test").select("event_id")
        .as[Long].collect().sorted.toSeq
      assert(ids === Seq(1L, 2L, 3L),
        "redelivery with a re-stamped ts must not flow through twice")
    } finally q.stop()
  }

  test("dedupEvents: NULL ids bypass the dedup — id-less events are " +
       "not redeliveries of each other (r16 review pass 10)") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(java.lang.Long, Timestamp)]
    val df = mem.toDF().toDF("event_id", "ts")
    val out = StreamingOps.dedupEvents(df, "event_id", "ts", "1 hour")
    val q = out.writeStream.format("memory").queryName("dedup_null_test")
      .outputMode("append").start()
    try {
      // two id-less events + one real id redelivered
      mem.addData((null, ts("2024-01-01 00:00:01")),
        (null, ts("2024-01-01 00:00:02")),
        (7L, ts("2024-01-01 00:00:03")), (7L, ts("2024-01-01 00:00:03")))
      q.processAllAvailable()
      val rows = spark.table("dedup_null_test")
        .select("event_id").as[Option[Long]].collect().toSeq
      assert(rows.count(_.isEmpty) === 2,
        s"dropDuplicates treats NULL as a key value — both id-less " +
          s"events must survive, not collapse to one: $rows")
      assert(rows.count(_.contains(7L)) === 1, "real ids still dedup")
    } finally q.stop()
  }

  test("enrichStream: static dim broadcast-joined per micro-batch, left-outer keeps unmatched") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, Long)]
    val stream = mem.toDF().toDF("store_id", "amount")
    val dim = Seq((1L, "seoul"), (2L, "busan")).toDF("store_id", "city")
    val out = StreamingOps.enrichStream(stream, dim, "store_id")
    val q = out.writeStream.format("memory").queryName("enrich_test")
      .outputMode("append").start()
    try {
      mem.addData((1L, 100L), (2L, 200L), (9L, 900L))
      q.processAllAvailable()
      val rows = spark.table("enrich_test")
        .select(col("store_id"), col("city")).as[(Long, Option[String])]
        .collect().toSet
      assert(rows === Set((1L, Some("seoul")), (2L, Some("busan")), (9L, None)),
        "unmatched fact must survive with a null dim (left-outer)")
      // the fact side must not shuffle: dim joins as a broadcast.
      // enrichStream is mode-agnostic, so the batch plan is the same
      // join Spark runs inside each micro-batch.
      val p = StreamingOps.enrichStream(
          Seq((1L, 100L)).toDF("store_id", "amount"), dim, "store_id")
        .queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin"),
        s"stream-static enrich must broadcast the dim:\n$p")
    } finally q.stop()
  }

  test("attributionJoin: stream-stream interval join matches in-horizon clicks, nulls after watermark") {
    implicit val sq = spark.sqlContext
    val pMem = MemoryStream[(Long, Timestamp, Long)]
    val cMem = MemoryStream[(Long, Timestamp, Long)]
    val purchases = pMem.toDF().toDF("user_id", "p_ts", "purchase_id")
    val clicks = cMem.toDF().toDF("user_id", "c_ts", "click_id")
    val out = StreamingOps.attributionJoin(purchases, clicks,
      "user_id", "p_ts", "c_ts", "30 minutes", "10 minutes")
    val q = out.writeStream.format("memory").queryName("attr_test")
      .outputMode("append").start()
    try {
      // user 1: one click inside the 30-min horizon, one before it;
      // user 2: purchase with no click at all
      cMem.addData((1L, ts("2024-01-01 09:00:00"), 11L),
        (1L, ts("2024-01-01 09:50:00"), 12L))
      pMem.addData((1L, ts("2024-01-01 10:00:00"), 100L),
        (2L, ts("2024-01-01 10:00:00"), 200L))
      q.processAllAvailable()
      // advance BOTH watermarks far past 10:00 so the unmatched
      // purchase's null row can be emitted (outer-join emission is
      // watermark-gated), then run one more cycle to let the new
      // watermark take effect
      cMem.addData((9L, ts("2024-01-01 20:00:00"), 90L))
      pMem.addData((9L, ts("2024-01-01 20:00:00"), 900L))
      q.processAllAvailable()
      pMem.addData((9L, ts("2024-01-01 20:00:01"), 901L))
      q.processAllAvailable()
      val rows = spark.table("attr_test")
        .filter(col("purchase_id").isin(100L, 200L))
        .select(col("purchase_id"), col("click_id"))
        .as[(Long, Option[Long])].collect().toSet
      assert(rows === Set((100L, Some(12L)), (200L, None)),
        "expected exactly the in-horizon match and the watermark-released null row")
    } finally q.stop()
  }

  test("sessionizeWithState: gap timeout closes sessions as the watermark passes") {
    import graft.streaming.StreamingOps.{ClosedSession, UserEvent}
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[UserEvent]
    val out = StreamingOps.sessionizeWithState(mem.toDS(),
      gapMs = 10 * 60 * 1000L, delay = "5 minutes")
    val q = out.writeStream.format("memory").queryName("sess_test")
      .outputMode("append").start()
    try {
      // user 1: two events 09:00/09:05 → open session, timeout 09:15
      mem.addData(UserEvent(1L, ts("2024-01-01 09:00:00")),
        UserEvent(1L, ts("2024-01-01 09:05:00")))
      q.processAllAvailable()
      // advance the watermark past user 1's timeout (10:00 - 5m = 09:55)
      mem.addData(UserEvent(2L, ts("2024-01-01 10:00:00")))
      q.processAllAvailable()
      // timeouts fire on the trigger AFTER the watermark advances
      mem.addData(UserEvent(2L, ts("2024-01-01 10:01:00")))
      q.processAllAvailable()
      val sessions = spark.table("sess_test").as[ClosedSession].collect()
      assert(sessions.map(_.user_id).toSeq === Seq(1L))
      val s = sessions.head
      assert(s.session_start === ts("2024-01-01 09:00:00"))
      assert(s.session_end === ts("2024-01-01 09:05:00"))
      assert(s.n_events === 2L)
    } finally q.stop()
  }

  test("sessionizeWithState: a post-gap event closes the stale session instead of fusing") {
    // event-time timeouts fire only for keys with NO data in a batch,
    // against the watermark the PREVIOUS batch set — so a low-traffic
    // key's first post-gap event arrives before its timeout and the
    // old code merged it into the stale session: one fused session
    // spanning the whole quiet period
    import graft.streaming.StreamingOps.{ClosedSession, UserEvent}
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[UserEvent]
    val out = StreamingOps.sessionizeWithState(mem.toDS(),
      gapMs = 30 * 60 * 1000L, delay = "1 hour")
    val q = out.writeStream.format("memory").queryName("sess_gap_test")
      .outputMode("append").start()
    try {
      mem.addData(UserEvent(1L, ts("2024-01-01 09:00:00")),
        UserEvent(1L, ts("2024-01-01 09:05:00")))
      q.processAllAvailable()
      // six hours of silence, then the SAME user returns — watermark
      // entering this batch is 08:05, far before the 09:35 timeout
      mem.addData(UserEvent(1L, ts("2024-01-01 15:00:00")))
      q.processAllAvailable()
      val sessions = spark.table("sess_gap_test").as[ClosedSession].collect()
      assert(sessions.length === 1,
        s"the stale 09:00-09:05 session must close, not fuse: ${sessions.toSeq}")
      val s = sessions.head
      assert(s.session_start === ts("2024-01-01 09:00:00") &&
        s.session_end === ts("2024-01-01 09:05:00") && s.n_events === 2L)
    } finally q.stop()
  }

  test("sessionizeWithState: an in-gap straggler sharing a batch with a post-gap event does not fuse sessions") {
    // r14 review: the old guard compared only times.min against
    // end + gap — one straggler INSIDE the gap routed the whole batch
    // into the merge branch, so a post-gap event in the same batch
    // fused two sessions across the quiet period. The fold must
    // extend the session through the straggler, then split on the
    // forward gap.
    import graft.streaming.StreamingOps.{ClosedSession, UserEvent}
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[UserEvent]
    val out = StreamingOps.sessionizeWithState(mem.toDS(),
      gapMs = 5 * 60 * 1000L, delay = "2 hours")
    val q = out.writeStream.format("memory").queryName("sess_strag_test")
      .outputMode("append").start()
    try {
      mem.addData(UserEvent(1L, ts("2024-01-01 09:50:00")),
        UserEvent(1L, ts("2024-01-01 09:53:00")))
      q.processAllAvailable()
      // one batch: 09:56 extends the open session (inside the 5-minute
      // gap from 09:53), 11:00 sits an hour past it — a new session
      mem.addData(UserEvent(1L, ts("2024-01-01 09:56:00")),
        UserEvent(1L, ts("2024-01-01 11:00:00")))
      q.processAllAvailable()
      val sessions = spark.table("sess_strag_test").as[ClosedSession].collect()
      assert(sessions.length === 1,
        s"exactly the 09:50-09:56 session must close: ${sessions.toSeq}")
      val s = sessions.head
      assert(s.session_start === ts("2024-01-01 09:50:00") &&
        s.session_end === ts("2024-01-01 09:56:00") && s.n_events === 3L,
        s"the straggler extends, the post-gap event splits: $s")
    } finally q.stop()
  }

  test("dedupByContent: same text across micro-batches deduped, distinct texts kept") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String, Timestamp)]
    val df = mem.toDF().toDF("doc_id", "text", "ts")
    val out = StreamingOps.dedupByContent(df, "text", "ts", "1 hour")
    val q = out.writeStream.format("memory").queryName("cdedup_test")
      .outputMode("append").start()
    try {
      mem.addData((1L, "alpha beta", ts("2024-01-01 00:00:01")),
        (2L, "gamma delta", ts("2024-01-01 00:00:02")))
      q.processAllAvailable()
      // batch 2: doc 3 repeats doc 1's exact content → dropped;
      // doc 4 is new content → kept
      mem.addData((3L, "alpha beta", ts("2024-01-01 00:00:03")),
        (4L, "epsilon", ts("2024-01-01 00:00:04")))
      q.processAllAvailable()
      val ids = spark.table("cdedup_test").select("doc_id")
        .as[Long].collect().sorted.toSeq
      assert(ids === Seq(1L, 2L, 4L))
    } finally q.stop()
  }

  test("dedupByContent: null-text docs are never deduped against each other") {
    // r13: sha2(NULL) is NULL, and keying the dedup on a null hash
    // would collapse every null-text doc in the horizon into one —
    // absent content is not shared content (the batch twin's r12
    // rule). All null-text docs must survive; real duplicate content
    // must still collapse in the same stream.
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String, Timestamp)]
    val df = mem.toDF().toDF("doc_id", "raw", "ts")
      .withColumn("text", when(col("raw") === "", null).otherwise(col("raw")))
      .select("doc_id", "text", "ts")
    val out = StreamingOps.dedupByContent(df, "text", "ts", "1 hour")
    val q = out.writeStream.format("memory").queryName("cdedup_null_test")
      .outputMode("append").start()
    try {
      mem.addData((1L, "", ts("2024-01-01 00:00:01")),
        (2L, "alpha", ts("2024-01-01 00:00:02")),
        (3L, "", ts("2024-01-01 00:00:03")))
      q.processAllAvailable()
      mem.addData((4L, "", ts("2024-01-01 00:00:04")),
        (5L, "alpha", ts("2024-01-01 00:00:05")))
      q.processAllAvailable()
      val rows = spark.table("cdedup_null_test")
        .select("doc_id", "text").as[(Long, Option[String])].collect().toMap
      assert(rows.keySet === Set(1L, 2L, 3L, 4L),
        "all three null-text docs survive; duplicate real content collapses")
      assert(rows(1L).isEmpty && rows(3L).isEmpty && rows(4L).isEmpty,
        "null text must pass through as NULL, not a sentinel")
    } finally q.stop()
  }

  test("streaming ingest: envelope stream → decodeEnvelope → keyed upsert, redelivery-safe") {
    import graft.ops.RelationalOps
    import graft.sources.UpsertSinkSource
    import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructType}
    implicit val sq = spark.sqlContext
    val schema = new StructType()
      .add("ret_code", StringType)
      .add("data", ArrayType(new StructType()
        .add("id", LongType).add("k", LongType)))
    val table = "stream_ingest_test"
    UpsertSinkSource.drop(table)
    val mem = MemoryStream[String]
    val decoded = RelationalOps.decodeEnvelope(
      mem.toDF().toDF("payload"), "payload", schema)
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_upsert_ckpt_").toString
    val q = StreamingOps.upsertEachBatch(decoded, table, Seq("id"), ckpt)
    try {
      // the checkpoint is dead once this test's drains complete —
      // reclaim with the state (r15: three leaked ckpt dirs per suite
      // run were the last graft_* leak class left in /tmp)
      mem.addData(
        """{"ret_code":"0000","data":[{"id":1,"k":10},{"id":2,"k":20}]}""",
        """{"ret_code":"9999","data":[{"id":9,"k":90}]}""") // gated out
      q.processAllAvailable()
      // redelivery of id 1 (updated k — latest wins) + a new id 3
      mem.addData(
        """{"ret_code":"0000","data":[{"id":1,"k":11},{"id":3,"k":30}]}""")
      q.processAllAvailable()
      val state = spark.read.format("graft.sources.UpsertSinkSource")
        .option("table", table).load()
        .as[(Long, Long)].collect().toSet
      assert(state === Set((1L, 11L), (2L, 20L), (3L, 30L)),
        s"keyed stream upsert must gate bad envelopes and merge redelivery: $state")
    } finally {
      q.stop()
      graft.ops.FsOps.rmTree(new java.io.File(ckpt))
      UpsertSinkSource.drop(table)
    }
  }

  test("windowedSums: per-key per-window totals on a stream") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "user", "value")
    val out = StreamingOps.windowedSums(df, "ts", "user", "value",
      "30 minutes", "5 minutes")
    val q = out.writeStream.format("memory").queryName("ws_test")
      .outputMode("complete").start()
    try {
      mem.addData(
        (ts("2024-01-01 09:00:00"), "u1", 1.5),
        (ts("2024-01-01 09:10:00"), "u1", 2.5),
        (ts("2024-01-01 09:40:00"), "u1", 10.0),
        (ts("2024-01-01 09:05:00"), "u2", 7.0))
      q.processAllAvailable()
      val rows = spark.table("ws_test")
        .select(col("window_start").cast("string"), col("user"), col("total"))
        .as[(String, String, Double)].collect().toSet
      assert(rows === Set(
        ("2024-01-01 09:00:00", "u1", 4.0),
        ("2024-01-01 09:30:00", "u1", 10.0),
        ("2024-01-01 09:00:00", "u2", 7.0)))
      // one poisoned measure must SKIP, not turn the window's total —
      // and every later cumulative emit of that group — into NaN
      // forever (r16 naninf probe: the batch twin's decimal cast
      // already nulls non-finite; the twin carries the same contract)
      mem.addData((ts("2024-01-01 09:12:00"), "u1", Double.NaN),
        (ts("2024-01-01 09:13:00"), "u1", Double.PositiveInfinity),
        (ts("2024-01-01 09:14:00"), "u1", 0.5))
      q.processAllAvailable()
      val t = spark.table("ws_test")
        .filter(col("user") === "u1" &&
          col("window_start").cast("string") === "2024-01-01 09:00:00")
        .select("total").as[Double].collect()
      assert(t.toSeq === Seq(4.5),
        s"non-finite measures skip under the money contract: ${t.toSeq}")
    } finally q.stop()
  }

  test("sessionizeWithState: a NULL-ts event is dropped, not an NPE " +
       "that kills the task (r16 review pass 10)") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[StreamingOps.UserEvent]
    val out = StreamingOps.sessionizeWithState(mem.toDS(),
      gapMs = 60000L, delay = "10 seconds")
    val q = out.writeStream.format("memory").queryName("sess_null_test")
      .outputMode("append").start()
    try {
      mem.addData(StreamingOps.UserEvent(1L, ts("2024-01-01 09:00:00")),
        StreamingOps.UserEvent(1L, null),
        StreamingOps.UserEvent(1L, ts("2024-01-01 09:00:30")))
      q.processAllAvailable()
      // advance the watermark far enough to close user 1's session
      mem.addData(StreamingOps.UserEvent(2L, ts("2024-01-01 10:00:00")))
      q.processAllAvailable()
      val rows = spark.table("sess_null_test")
        .select(col("user_id"), col("n_events"))
        .as[(Long, Long)].collect().toSet
      assert(rows === Set((1L, 2L)),
        s"the two timed events session together; the ts-less one is dropped: $rows")
    } finally q.stop()
  }

  test("restart-resume: a second drain over the SAME checkpoint processes only newly staged files") {
    // the O(delta) claim of maintainMart's scaladoc, pinned: after a
    // drain, staging MORE arrival files and re-draining from the same
    // checkpoint must (a) yield the full-history aggregate and
    // (b) APPEND to the sink's segment chain rather than rebuild it —
    // a restart that re-read history would also double the counts,
    // so (a) alone already catches reprocessing; (b) pins incremental
    // commit cost
    import graft.sources.UpsertSinkSource
    import org.apache.spark.sql.types.DecimalType
    val nonce = System.nanoTime()
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_resume_$nonce"
    val staged = s"$base/staged"
    val table = s"resume_mart_$nonce"
    val d = "/root/testdata/sf0.001"
    val ev = Tables.events(spark, d).select(col("user_id"), col("ts"), col("value"))
    val jan = ev.filter(dayofmonth(col("ts")) <= 15)
    val rest = ev.filter(dayofmonth(col("ts")) > 15)
    try {
      jan.repartition(2).write.mode("append").parquet(staged)
      def drain(): Unit = {
        val stream = spark.readStream.schema(spark.read.parquet(staged).schema)
          .option("maxFilesPerTrigger", "1").parquet(staged)
        val agg = stream
          .groupBy(col("user_id"), to_date(col("ts")).as("day"))
          .agg(sum(col("value").cast(DecimalType(18, 2))).as("_amt"),
            count(lit(1)).as("n"))
          .select(col("user_id"), col("day"),
            col("_amt").cast("double").as("amt"), col("n"))
        graft.streaming.StreamingOps
          .maintainMart(agg, table, Seq("user_id", "day"), s"$base/ckpt")
          .awaitTermination()
      }
      drain()
      val segsAfterFirst = UpsertSinkSource.readManifest(table).get.segments.size
      rest.repartition(2).write.mode("append").parquet(staged)
      drain() // same checkpoint: must pick up ONLY the two new files
      val m = UpsertSinkSource.readManifest(table).get
      assert(m.segments.size > segsAfterFirst,
        "second drain must append segments, not rebuild the table")
      val mart = spark.read.format("graft.sources.UpsertSinkSource")
        .option("table", table).load()
        .select(col("user_id"), col("day").cast("string"), col("amt"), col("n"))
        .as[(Long, String, Double, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
      val expected = ev
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(sum(col("value").cast(DecimalType(18, 2))).cast("double").as("amt"),
          count(lit(1)).as("n"))
        .select(col("user_id"), col("day").cast("string"), col("amt"), col("n"))
        .as[(Long, String, Double, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
      assert(mart === expected,
        "resumed drain must converge to the full-history aggregate exactly")
    } finally {
      UpsertSinkSource.drop(table)
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(): Unit
      }
      rm(new java.io.File(base))
    }
  }

  test("torn checkpoint: crash after sink commit, before checkpoint commit — redelivered batch converges via the idempotent merge") {
    // the harshest leg of the exactly-once story: the sink's manifest
    // install and the checkpoint's batch commit are two separate
    // durability points, and a crash can land BETWEEN them. Spark then
    // re-delivers the sink-committed batch on restart (its offsets were
    // never marked done), so table convergence rests entirely on the
    // keyed merge being idempotent. Simulated exactly: afterBatchCommit
    // throws on batch 1 of the first drain — the sink has batch 1's
    // segment, the checkpoint does not.
    import graft.sources.UpsertSinkSource
    import org.apache.spark.sql.types.DecimalType
    val nonce = System.nanoTime()
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_torn_$nonce"
    val staged = s"$base/staged"
    val table = s"torn_mart_$nonce"
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("user_id"), col("ts"), col("value"))
    try {
      // 3 staged files + maxFilesPerTrigger=1 → 3 micro-batches, with
      // group rows straddling the batch boundaries (cumulative updates)
      ev.repartition(3).write.mode("append").parquet(staged)
      def drain(afterBatchCommit: Long => Unit): Unit = {
        val stream = spark.readStream.schema(spark.read.parquet(staged).schema)
          .option("maxFilesPerTrigger", "1").parquet(staged)
        val agg = stream
          .groupBy(col("user_id"), to_date(col("ts")).as("day"))
          .agg(sum(col("value").cast(DecimalType(18, 2))).as("_amt"),
            count(lit(1)).as("n"))
          .select(col("user_id"), col("day"),
            col("_amt").cast("double").as("amt"), col("n"))
        graft.streaming.StreamingOps
          .maintainMart(agg, table, Seq("user_id", "day"), s"$base/ckpt",
            afterBatchCommit)
          .awaitTermination()
      }
      val died = intercept[Exception] {
        drain(batchId => if (batchId == 1L)
          throw new RuntimeException("simulated crash in the torn window"))
      }
      assert(died.getMessage != null)
      // the tear is real: batch 1's segment IS in the sink (2 commits)
      // while the checkpoint holds only batch 0 as committed
      assert(UpsertSinkSource.readManifest(table).get.segments.size === 2,
        "crash must land after the sink committed the batch")

      drain(_ => ()) // restart from the same checkpoint: batch 1 redelivered
      val mart = spark.read.format("graft.sources.UpsertSinkSource")
        .option("table", table).load()
        .select(col("user_id"), col("day").cast("string"), col("amt"), col("n"))
        .as[(Long, String, Double, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
      val expected = ev
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(sum(col("value").cast(DecimalType(18, 2))).cast("double").as("amt"),
          count(lit(1)).as("n"))
        .select(col("user_id"), col("day").cast("string"), col("amt"), col("n"))
        .as[(Long, String, Double, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
      assert(mart === expected,
        "redelivered batch must re-merge to the exact full-history aggregate — no double counts, no gaps")
    } finally {
      UpsertSinkSource.drop(table)
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(): Unit
      }
      rm(new java.io.File(base))
    }
  }

  test("q100 stream mart: a second invocation in the same session converges to the same table") {
    // regression pin: staging + checkpoint + table must be per-
    // invocation — re-staging under a reused checkpoint would surface
    // the same events as new files and double the stateful counts
    val run = () => SparkEntry.queries("q100_stream_mart")(spark, "/root/testdata/sf0.001")
      .select(col("user_id"), col("day").cast("string"), col("amt"), col("n"))
      .as[(Long, String, Double, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    val first = run()
    val second = run()
    assert(first.nonEmpty)
    assert(first === second,
      "re-running the streaming mart must not double-count state")
  }

  test("q100 restores the session's shuffle-partition conf after the drain") {
    // The builder scopes spark.sql.shuffle.partitions to the stream
    // (state stores are per-partition-per-batch; 8 carries its ~4k
    // groups). If the restore is ever lost, every LATER query in a
    // bench/Verify session silently runs at 8 partitions — a
    // whole-suite perf regression no per-query assertion would name.
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    SparkEntry.queries("q100_stream_mart")(spark, "/root/testdata/sf0.001").count()
    assert(spark.conf.get("spark.sql.shuffle.partitions") === before,
      "q100 must restore the session shuffle-partition conf it scopes")
  }
}
