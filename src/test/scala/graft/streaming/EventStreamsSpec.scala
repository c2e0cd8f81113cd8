package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Drives the streaming operators through MemoryStream micro-batches,
  * advancing the watermark with sentinel events and asserting what
  * each batch finalizes. */
class EventStreamsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s"2024-01-01 $s:00")
  private def ev(id: Long, uid: Long, t: String, typ: String = "click",
                 v: Double = 1.0) = EventRow(id, uid, ts(t), typ, v)

  test("tumbling window finalizes once the watermark passes") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[EventRow]
    val q = EventStreams.tumblingCounts(in.toDF(), "1 hour", "1 hour")
      .writeStream.format("memory").queryName("tumble")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(ev(1, 1, "10:05"), ev(2, 1, "10:45", v = 2.0), ev(3, 2, "10:50"))
      q.processAllAvailable()
      // watermark still at 09:50 — nothing final yet
      assert(spark.table("tumble").count() == 0)
      // sentinel at 12:30 pushes the watermark to 11:30 > [10,11) end
      in.addData(ev(9, 9, "12:30"))
      q.processAllAvailable()
      val rows = spark.table("tumble")
        .select("hour", "event_type", "n_events", "total_value")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      assert(rows.toSet == Set((ts("10:00"), "click", 3L, 4.0)))
    } finally q.stop()
  }

  test("sessionize: in-batch gap closes immediately, timeout closes the tail") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[EventRow]
    val q = EventStreams.sessionize(in.toDS())
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append).start()
    try {
      // user 7: two events 10 min apart, then a 31-min gap
      in.addData(ev(1, 7, "10:00"), ev(2, 7, "10:10", v = 2.0), ev(3, 7, "10:41"))
      q.processAllAvailable()
      val afterBatch1 = spark.table("sessions").as[SessionOut].collect()
      // first session emitted by the gap; second still open
      assert(afterBatch1.toSet ==
        Set(SessionOut(7L, ts("10:00"), ts("10:10"), 2L, 3.0)))
      // watermark sentinel: 13:00 - 1h wm = 12:00 > 10:41 + 30min
      in.addData(ev(9, 9, "13:00"))
      q.processAllAvailable()
      in.addData(ev(10, 9, "15:00")) // push watermark past user 9's session too
      q.processAllAvailable()
      val all = spark.table("sessions").as[SessionOut].collect().toSet
      assert(all.contains(SessionOut(7L, ts("10:41"), ts("10:41"), 1L, 1.0)))
      assert(all.contains(SessionOut(9L, ts("13:00"), ts("13:00"), 1L, 1.0)))
    } finally q.stop()
  }

  test("sessionize: within-watermark late event widens, never shrinks, the session") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[EventRow]
    val q = EventStreams.sessionize(in.toDS())
      .writeStream.format("memory").queryName("late_sessions")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(ev(1, 5, "10:10"), ev(2, 5, "10:20"))
      q.processAllAvailable()
      // late but within watermark: older than the open session's start
      in.addData(ev(3, 5, "10:00"))
      q.processAllAvailable()
      in.addData(ev(9, 9, "13:00")) // timeout sentinel
      q.processAllAvailable()
      val s = spark.table("late_sessions").as[SessionOut]
        .collect().filter(_.user_id == 5L)
      assert(s.length == 1)
      assert(s.head.t_start == ts("10:00") && s.head.t_end == ts("10:20"))
      assert(s.head.n_events == 3)
    } finally q.stop()
  }

  test("sessionize: late event a full gap before the open session closes alone") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[EventRow]
    val q = EventStreams.sessionize(in.toDS())
      .writeStream.format("memory").queryName("prestart_sessions")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(ev(1, 6, "12:00"), ev(2, 6, "12:10"))
      q.processAllAvailable()
      // within watermark but > 30 min BEFORE the open session's start:
      // batch semantics give it its own session — it must NOT widen
      in.addData(ev(3, 6, "11:15", v = 5.0))
      q.processAllAvailable()
      in.addData(ev(9, 9, "15:00")) // timeout sentinel
      q.processAllAvailable()
      in.addData(ev(10, 9, "18:00"))
      q.processAllAvailable()
      val s = spark.table("prestart_sessions").as[SessionOut]
        .collect().filter(_.user_id == 6L).sortBy(_.t_start.getTime)
      assert(s.length == 2, s"expected 2 sessions, got: ${s.toSeq}")
      assert(s(0).t_start == ts("11:15") && s(0).n_events == 1 && s(0).total_value == 5.0)
      assert(s(1).t_start == ts("12:00") && s(1).t_end == ts("12:10") && s(1).n_events == 2)
    } finally q.stop()
  }

  test("streaming dedup drops in-watermark duplicates, state evicts") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[EventRow]
    val q = EventStreams.dedupStream(in.toDF(), Seq("event_type", "value"))
      .writeStream.format("memory").queryName("dedup")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(ev(1, 1, "10:00", v = 1.0), ev(2, 2, "10:01", v = 1.0),
                 ev(3, 3, "10:02", v = 2.0))
      q.processAllAvailable()
      // (click, 1.0) duplicate dropped; two distinct rows survive
      assert(spark.table("dedup").count() == 2)
      in.addData(ev(4, 4, "10:05", v = 1.0)) // still within watermark: dropped
      q.processAllAvailable()
      assert(spark.table("dedup").count() == 2)
    } finally q.stop()
  }

  test("sessionize: late-event chains merge like the batch twin") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[EventRow]
    val q = EventStreams.sessionize(in.toDS())
      .writeStream.format("memory").queryName("chain_sessions")
      .outputMode(OutputMode.Append).start()
    try {
      // user 11: chain of two mutually-close late events -> ONE session
      // user 12: late event bridged into the open session by a third
      in.addData(ev(1, 11, "12:00"), ev(2, 11, "12:10"),
                 ev(3, 12, "12:00"), ev(4, 12, "12:10"))
      q.processAllAvailable()
      // all late events sit above the watermark (12:10 - 1h = 11:10)
      in.addData(ev(5, 11, "11:12"), ev(6, 11, "11:20"), // chain, both < 11:30
                 ev(7, 12, "11:12"),                      // early
                 ev(8, 12, "11:35"))                      // bridges 11:12 ↔ 12:00
      q.processAllAvailable()
      in.addData(ev(9, 9, "15:00")); q.processAllAvailable()
      in.addData(ev(10, 9, "18:00")); q.processAllAvailable()
      val all = spark.table("chain_sessions").as[SessionOut].collect()
      val u11 = all.filter(_.user_id == 11L).sortBy(_.t_start.getTime)
      assert(u11.map(s => (s.t_start, s.t_end, s.n_events)).toSeq ==
        Seq((ts("11:12"), ts("11:20"), 2L), (ts("12:00"), ts("12:10"), 2L)),
        s"u11: ${u11.toSeq}")
      val u12 = all.filter(_.user_id == 12L)
      assert(u12.length == 1 && u12.head.t_start == ts("11:12") &&
        u12.head.t_end == ts("12:10") && u12.head.n_events == 4,
        s"u12: ${u12.toSeq}")
    } finally q.stop()
  }

  test("stream-stream attribution join matches within the gap only") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[EventRow]
    val src = in.toDF()
    val q = EventStreams.attributionJoin(
        src.filter($"event_type" === "view"),
        src.filter($"event_type" === "purchase"))
      .writeStream.format("memory").queryName("attrib")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(
        ev(1, 1, "10:00", typ = "view"),
        ev(2, 1, "10:20", typ = "purchase"), // within 30 min → match
        ev(3, 1, "11:30", typ = "purchase"), // past the gap → no match
        ev(4, 2, "10:10", typ = "view"),     // other user: no purchase
        ev(5, 3, "10:15", typ = "purchase")) // purchase with no view
      q.processAllAvailable()
      val rows = spark.table("attrib")
        .select("view_id", "purchase_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rows == Set((1L, 2L)), s"got $rows")
    } finally q.stop()
  }

  test("outer attribution join emits unmatched views once the watermark passes") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[EventRow]
    val src = in.toDF()
    val q = EventStreams.attributionJoin(
        src.filter($"event_type" === "view"),
        src.filter($"event_type" === "purchase"),
        joinType = "leftOuter")
      .writeStream.format("memory").queryName("attrib_outer")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(
        ev(1, 1, "10:00", typ = "view"),
        ev(2, 1, "10:20", typ = "purchase"), // within 30 min → match
        ev(4, 2, "10:10", typ = "view"))     // no purchase → null row later
      q.processAllAvailable()
      // advance both watermarks well past 10:40 (view horizon) on both sides
      in.addData(ev(8, 9, "14:00", typ = "view"),
                 ev(9, 9, "14:00", typ = "purchase"))
      q.processAllAvailable()
      val rows = spark.table("attrib_outer")
        .select("view_id", "purchase_id").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
      assert(rows.contains((1L, 2L)), s"match lost: $rows")
      assert(rows.contains((4L, -1L)), s"unmatched view not emitted: $rows")
    } finally q.stop()
  }

  test("full outer attribution join emits BOTH unmatched sides after the watermark (q239 pin)") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[EventRow]
    val src = in.toDF()
    val q = EventStreams.attributionJoin(
        src.filter($"event_type" === "view"),
        src.filter($"event_type" === "purchase"),
        joinType = "fullOuter")
      .writeStream.format("memory").queryName("attrib_full")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(
        ev(1, 1, "10:00", typ = "view"),
        ev(2, 1, "10:20", typ = "purchase"), // within 30 min → match
        ev(4, 2, "10:10", typ = "view"),     // no purchase → null right
        ev(5, 3, "10:15", typ = "purchase")) // no view → null LEFT (the
                                             // row q101's left outer drops)
      q.processAllAvailable()
      in.addData(ev(8, 9, "14:00", typ = "view"),
                 ev(9, 9, "14:00", typ = "purchase"))
      q.processAllAvailable()
      val rows = spark.table("attrib_full")
        .select("view_id", "purchase_id").collect()
        .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0),
                   if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
      assert(rows.contains((1L, 2L)), s"match lost: $rows")
      assert(rows.contains((4L, -1L)), s"unmatched view not emitted: $rows")
      assert(rows.contains((-1L, 5L)), s"unmatched purchase not emitted: $rows")
    } finally q.stop()
  }

  test("userStats: mapGroupsWithState accumulates across batches") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[EventRow]
    val q = EventStreams.userStats(in.toDS())
      .writeStream.format("memory").queryName("user_stats")
      .outputMode(OutputMode.Update).start()
    try {
      in.addData(ev(1, 1, "10:00", v = 1.0), ev(2, 1, "10:05", v = 2.0))
      q.processAllAvailable()
      in.addData(ev(3, 1, "11:00", v = 4.0))
      q.processAllAvailable()
      // Update mode: latest row per user wins
      val latest = spark.table("user_stats").as[UserStats].collect()
        .groupBy(_.user_id).map { case (_, v) => v.maxBy(_.n_events) }
      val u1 = latest.find(_.user_id == 1L).get
      assert(u1.n_events == 3 && u1.total_value == 7.0)
      assert(u1.last_seen.contains(ts("11:00")))
    } finally q.stop()
  }

  test("userStatsMicro: integer totals accumulate across batches") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[EventRow]
    val q = EventStreams.userStatsMicro(in.toDS())
      .writeStream.format("memory").queryName("user_stats_micro")
      .outputMode(OutputMode.Update).start()
    try {
      in.addData(ev(1, 1, "10:00", v = 1.25), ev(2, 1, "10:05", v = 2.5))
      q.processAllAvailable()
      in.addData(ev(3, 1, "11:00", v = 0.125), ev(4, 2, "11:00", v = 9.0))
      q.processAllAvailable()
      val latest = spark.table("user_stats_micro").as[UserStatsMicro].collect()
        .groupBy(_.user_id).map { case (_, v) => v.maxBy(_.n_events) }
      val u1 = latest.find(_.user_id == 1L).get
      assert(u1.n_events == 3 && u1.total_micro == 3875000L)
      assert(u1.last_seen.contains(ts("11:00")))
      val u2 = latest.find(_.user_id == 2L).get
      assert(u2.n_events == 1 && u2.total_micro == 9000000L)
    } finally q.stop()
  }

  test("file-source stream: parquet drops flow end-to-end") {
    val dir = java.nio.file.Files.createTempDirectory("stream_in").toString
    def drop(events: (Long, Long, String, Double)*): Unit =
      events.map { case (id, uid, t, v) => (id, uid, ts(t), "click", v, """{"k":1}""") }
        .toDF("event_id", "user_id", "ts", "event_type", "value", "props")
        .write.mode("append").parquet(dir)
    drop((1L, 1L, "10:05", 1.0), (2L, 1L, "10:40", 2.0))
    val q = EventStreams.tumblingCounts(
        EventStreams.readEventStream(spark, dir), "1 hour", "1 hour")
      .writeStream.format("memory").queryName("filetumble")
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      assert(spark.table("filetumble").count() == 0) // watermark not past window yet
      drop((9L, 9L, "12:30", 0.0)) // sentinel advances the watermark
      q.processAllAvailable()
      val rows = spark.table("filetumble")
        .select("hour", "n_events", "total_value")
        .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2)))
      assert(rows.toSet == Set((ts("10:00"), 2L, 3.0)))
    } finally q.stop()
  }

  test("streaming and batch tumbling agree on finalized windows") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[EventRow]
    val q = EventStreams.tumblingCounts(in.toDF(), "1 hour", "1 hour")
      .writeStream.format("memory").queryName("tumble2")
      .outputMode(OutputMode.Append).start()
    try {
      val events = Seq(
        ev(1, 1, "08:10"), ev(2, 1, "08:20", v = 3.0), ev(3, 2, "09:15"),
        ev(4, 3, "09:59", v = 0.5))
      in.addData(events: _*)
      in.addData(ev(99, 9, "23:00")) // finalize everything
      q.processAllAvailable()
      val streamed = spark.table("tumble2")
        .select("hour", "event_type", "n_events", "total_value")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .filter(_._1.before(ts("23:00"))).toSet
      val batch = (events :+ ev(99, 9, "23:00")).toDF()
        .groupBy(org.apache.spark.sql.functions.window($"ts", "1 hour"), $"event_type")
        .agg(org.apache.spark.sql.functions.count("*").as("n_events"),
             org.apache.spark.sql.functions.sum($"value").as("total_value"))
        .select($"window.start", $"event_type", $"n_events", $"total_value")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .filter(_._1.before(ts("23:00"))).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("q67 streaming dedup equals batch distinct over the corpus") {
    val got = graft.streaming.StreamQueries.q67StreamDedup(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val want = graft.Tables.events(spark, sf0001)
      .select($"user_id", $"event_type").distinct()
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == want && got.nonEmpty)
  }

  /** VERDICT r5 #7: the late-data gate's watermark cut must stay
    * deterministic across scale factors, not just the sf0.01 driver
    * gate. The expected frame is the oracle's drop-set formula
    * (on-time events, plus stragglers whose 1 h window was still open
    * under wm = max on-time ts − 24 h) replayed with batch
    * DataFrames; sf0.1 is the bench-scale run. */
  test("q156 late-data cut is exact at bench scale (sf0.1)") {
    import org.apache.spark.sql.functions._
    val sf01 = "/root/testdata/sf0.1"
    val got = graft.streaming.StreamQueries.q156StreamLateData(spark, sf01)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val ev = graft.Tables.events(spark, sf01)
    val wm = ev.filter(pmod($"event_id", lit(20L)) =!= 0)
      .agg((max($"ts") - expr("INTERVAL 24 HOUR")).as("w"))
    val want = ev.crossJoin(broadcast(wm))
      .filter(pmod($"event_id", lit(20L)) =!= 0 ||
              date_trunc("hour", $"ts") + expr("INTERVAL 1 HOUR") > $"w")
      .groupBy(date_format(date_trunc("hour", $"ts"), "yyyy-MM-dd HH:mm")
                 .as("hour"), $"event_type")
      .agg(count(lit(1)).as("n_events"))
      .orderBy($"hour", $"event_type")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(got.nonEmpty && got.sameElements(want))
    // the cut is real: some stragglers must actually have been dropped
    val total = ev.count()
    assert(got.map(_._3).sum < total)
  }

  /** The gate's batch shapes (see `StreamQueries.runStream`): the
    * progress events of each query, read after the listener bus
    * drains — before the listener is added too, so no earlier
    * query's events reach it. No-data batches are off everywhere, so
    * no batch may have 0 input rows. */
  test("streaming gate batch shapes: q51 1, q52 2, q236 3, q156 4 batches, none empty") {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        rows.add((e.progress.name, e.progress.numInputRows))
    }
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.streams.addListener(listener)
    try {
      StreamQueries.q51StreamTumbling(spark, sf0001).collect()
      StreamQueries.q52StreamSessions(spark, sf0001).collect()
      StreamQueries.q236StreamDedupTtl(spark, sf0001).collect()
      StreamQueries.q156StreamLateData(spark, sf0001).collect()
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
    } finally spark.streams.removeListener(listener)
    import scala.jdk.CollectionConverters._
    val byQuery = rows.asScala.toSeq.groupBy(_._1.takeWhile(_ != '_'))
    assert(byQuery.map { case (q, b) => q -> b.size } ==
      Map("q51" -> 1, "q52" -> 2, "q236" -> 3, "q156" -> 4), byQuery)
    assert(byQuery.values.flatten.forall(_._2 > 0), byQuery)
  }

  test("stream source normalizes every events.ts generation like Tables.events") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream_ts").toString
    for (g <- Seq("TIMESTAMP(NANOS,true)", "TIMESTAMP(MICROS,false)")) {
      val dir = s"$tmp/${g.filter(_.isLetter)}"
      graft.TablesSpec.writeEvents(dir, g)
      def ts(df: org.apache.spark.sql.DataFrame) =
        df.select($"event_id", $"ts").collect().map(r => (r.getLong(0), r.getTimestamp(1))).toSeq
      val streamed = ts(StreamQueries.runStream(spark, dir, "ts_gen")(identity))
      assert(streamed.nonEmpty && streamed == ts(graft.Tables.events(spark, dir)), g)
    }
  }
  test("typeTopUsers: counter-map state accumulates across batches, ties by user id") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[EventRow]
    val q = EventStreams.typeTopUsers(in.toDS(), k = 2)
      .writeStream.format("memory").queryName("toptypes")
      .outputMode(OutputMode.Update).start()
    try {
      in.addData(ev(1, 5, "10:00"), ev(2, 5, "10:01"), ev(3, 7, "10:02"),
                 ev(4, 9, "10:03", typ = "view"))
      q.processAllAvailable()
      def latest(): Map[String, Seq[(Long, Long)]] =
        spark.table("toptypes").collect()
          .map(r => r.getString(0) ->
            r.getSeq[org.apache.spark.sql.Row](1)
              .map(e => (e.getLong(0), e.getLong(1))).toSeq)
          .groupBy(_._1).map { case (k, v) => k -> v.last._2 }
      val b0 = latest()
      assert(b0("click") == Seq((5L, 2L), (7L, 1L)), s"b0 $b0")
      assert(b0("view") == Seq((9L, 1L)))
      // batch 1: user 7 catches up to user 5 -> tie broken by id (5 first);
      // user 8 enters view and ties user 9 at 1 -> id order (8, 9)
      in.addData(ev(5, 7, "10:10"), ev(6, 8, "10:11", typ = "view"))
      q.processAllAvailable()
      val b1 = latest()
      assert(b1("click") == Seq((5L, 2L), (7L, 2L)), s"b1 $b1")
      assert(b1("view") == Seq((8L, 1L), (9L, 1L)), s"b1 $b1")
    } finally q.stop()
  }
  test("typeTopUsers: SpaceSaving state is bounded at m, eviction rule pinned") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[EventRow]
    // m = 2: the third distinct user MUST evict (bounded state), and
    // the victim is the min count with ties to the LARGEST user id
    val q = EventStreams.typeTopUsers(in.toDS(), k = 2, m = 2)
      .writeStream.format("memory").queryName("topss")
      .outputMode(OutputMode.Update).start()
    try {
      // user 1 ×3, user 2 ×2, then user 3 arrives into a full table:
      // victim = (count 2, user 2) -> user 3 enters with count 2+1=3,
      // over-count error 2. Emission: tracked users only (≤ m = 2),
      // count ties (1:3, 3:3) break by id -> (1, 3) then (3, 3).
      in.addData(ev(1, 1, "10:00"), ev(2, 1, "10:01"), ev(3, 1, "10:02"),
                 ev(4, 2, "10:03"), ev(5, 2, "10:04"), ev(6, 3, "10:05"))
      q.processAllAvailable()
      val rows = spark.table("topss").collect()
        .map(r => r.getString(0) ->
          r.getSeq[org.apache.spark.sql.Row](1)
            .map(e => (e.getLong(0), e.getLong(1))).toSeq).toMap
      assert(rows("click") == Seq((1L, 3L), (3L, 3L)), s"got $rows")
      // state bound: even with 3 distinct users seen, only m = 2 are
      // tracked — user 2 is gone from the emission
      assert(rows("click").map(_._1).toSet == Set(1L, 3L))
    } finally q.stop()
  }
  test("q218 state metrics: one state row per type after a planted heavy batch") {
    // VERDICT r11 #4: measure the state bound from the engine's own
    // StateOperatorProgress after a batch whose ACTIVE-user count far
    // exceeds m, instead of inferring it from the eviction unit test.
    implicit val sq = spark.sqlContext
    val in = MemoryStream[EventRow]
    val m = 8
    val q = EventStreams.typeTopUsers(in.toDS(), k = 3, m = m)
      .writeStream.format("memory").queryName("topstate")
      .outputMode(OutputMode.Update).start()
    try {
      // 2 types × 500 distinct users = 1000 actives vs m = 8 counters
      val evs = for (t <- Seq("click", "view"); u <- 1 to 500) yield
        ev(u.toLong * 2 + (if (t == "click") 0 else 1), u.toLong,
           f"10:${u % 60}%02d", typ = t)
      in.addData(evs: _*)
      q.processAllAvailable()
      val so = q.lastProgress.stateOperators
      assert(so.nonEmpty, "expected a stateful operator in the progress")
      val rowsTotal = so.map(_.numRowsTotal).sum
      // mapGroupsWithState keeps ONE state row per event type, each
      // holding a ≤ m-entry SpaceSaving map (eviction pinned above):
      // the engine-measured row count must be |types|, never O(users)
      assert(rowsTotal == 2L,
        s"state rows $rowsTotal != |types| = 2 — per-user state leaked")
      assert(rowsTotal <= 2L * m, s"state rows $rowsTotal > m*|types|")
      // and every emission carries at most min(k, m) tracked users
      spark.table("topstate").collect().foreach { r =>
        assert(r.getSeq[org.apache.spark.sql.Row](1).size <= m) }
    } finally q.stop()
  }

  test("q231 state metrics: register state is O(m*windows), never O(users)") {
    import org.apache.spark.sql.functions._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[EventRow]
    // the PRODUCTION transform (StreamQueries.q231Transform), driven
    // over a planted heavy stream: 5000 distinct users across 3
    // hour-windows — per-user state would be ≥ 5000 rows; register
    // state is ≤ m = 256 per window plus one rollup row per window
    val q = graft.streaming.StreamQueries.q231Transform(in.toDF())
      .writeStream.format("memory").queryName("hllstate")
      .outputMode(OutputMode.Append).start()
    try {
      val evs = for (w <- 0 until 3; u <- 1 to 5000) yield
        ev(w * 10000L + u, w * 5000L + u, f"1$w%d:${u % 60}%02d")
      in.addData(evs: _*)
      q.processAllAvailable()
      in.addData(ev(999999L, 999999L, "23:00")) // watermark past all 3
      q.processAllAvailable()
      val so = q.lastProgress.stateOperators
      assert(so.length >= 2, "expected the two chained stateful aggregations")
      val rowsTotal = so.map(_.numRowsTotal).sum
      val windows = 4L // 3 planted + the sentinel's own open window
      val m = 256L
      assert(rowsTotal <= windows * m + windows,
        s"state rows $rowsTotal exceed m*windows + windows = ${windows * m + windows}")
      assert(rowsTotal < 5000L,
        s"state rows $rowsTotal look per-user, not per-register")
      // the three closed windows each emitted exactly one estimate row
      assert(spark.table("hllstate").count() == 3L)
    } finally q.stop()
  }

  test("q231 streaming window-HLL estimates track exact per-window distincts") {
    import org.apache.spark.sql.functions._
    // the oracle gate proves the register MECHANICS bit-for-bit;
    // this pins the sketch is a USEFUL estimator: at sf0.001 every
    // window's user count is far inside the linear-counting regime,
    // so the estimate must sit within 5% of the exact distinct
    val est = graft.streaming.StreamQueries
      .q231StreamWindowHll(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getString(0) -> r.getDouble(4)).toMap
    val exact = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm")
                 .as("w"))
      .agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.keySet == exact.keySet, "every closed window must emit once")
    exact.foreach { case (w, n) =>
      assert(math.abs(est(w) - n) / n <= 0.05,
        s"window $w: est ${est(w)} exact $n") }
  }

  test("dedupStream TTL: re-admission after expiry, no extension, late drop, bounded state (q236 semantics pin)") {
    import org.apache.spark.sql.functions._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[EventRow]
    val out = EventStreams.dedupStream(in.toDF(), Seq("user_id"), "2 hours")
      .select(col("event_id"))
    val q = out.writeStream.format("memory").queryName("ttldedup")
      .outputMode(OutputMode.Append).start()
    def emitted(): Set[Long] =
      spark.table("ttldedup").as[Long].collect().toSet
    try {
      // batch 0: u1 first at 10:00 emits, in-batch dup at 10:30 drops
      in.addData(ev(1, 1, "10:00"), ev(2, 1, "10:30"), ev(3, 2, "10:10"))
      q.processAllAvailable()
      assert(emitted() == Set(1L, 3L))
      // riser to 16:00 -> wm 14:00; u1 expiry 12:00 and u2 12:10 evict
      in.addData(ev(9, 99, "16:00"))
      q.processAllAvailable()
      // u1 RE-ADMITTED after expiry (TTL semantics — q67's plain
      // dropDuplicates would still drop it); u99 live -> dropped
      in.addData(ev(10, 1, "15:00"), ev(12, 99, "15:30"))
      q.processAllAvailable()
      assert(emitted() == Set(1L, 3L, 9L, 10L))
      // LATE first occurrence: u3 at 11:00 < wm 13:30 -> dropped (the
      // verdict q236's day-1 phase gates against the DuckDB oracle)
      in.addData(ev(13, 3, "11:00"))
      q.processAllAvailable()
      assert(emitted() == Set(1L, 3L, 9L, 10L))
      // duplicates do NOT extend expiry: u1 re-admitted at 15:00
      // (expiry 17:00); dup at 16:30 drops; riser to 19:30 -> wm 17:30
      // evicts u1 (a 16:30 extension would hold it to 18:30); u1 at
      // 18:00 then re-emits — proving the dup never touched the state
      in.addData(ev(14, 1, "16:30"))
      q.processAllAvailable()
      in.addData(ev(15, 98, "19:30"))
      q.processAllAvailable()
      in.addData(ev(16, 1, "18:00"))
      q.processAllAvailable()
      assert(emitted() == Set(1L, 3L, 9L, 10L, 15L, 16L))
      // state is horizon-bounded: only keys with expiry >= wm 17:30
      // remain — u1 (re-admitted 18:00, expiry 20:00), u98 (19:30 ->
      // 21:30) and u99 (16:00 -> 18:00, still 30 min from eviction);
      // u2 and u3 are long gone, so the bound is 3 live keys, never
      // the 5-key history
      val rowsTotal = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(rowsTotal <= 3, s"TTL state must stay horizon-bounded: $rowsTotal")
    } finally q.stop()
  }

  test("native session_window MERGES at an exact gap boundary (q226 oracle pin)") {
    import org.apache.spark.sql.functions._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[EventRow]
    val agg = in.toDF()
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("n_events"))
    val q = agg.writeStream.format("memory").queryName("sesswin")
      .outputMode(OutputMode.Append).start()
    try {
      // u1: events at 10:00 and EXACTLY 10:30 -> sessions merge when
      // start_B <= end_A (inclusive), so this is ONE session of 2 —
      // the same semantics as q52's custom operator; q226's oracle
      // splits only on strict >. u2: 10:00 and 10:29 -> one session.
      in.addData(ev(1, 1, "10:00"), ev(2, 1, "10:30"),
                 ev(3, 2, "10:00"), ev(4, 2, "10:29"))
      q.processAllAvailable()
      in.addData(ev(9, 9, "23:00")) // watermark past every session end
      q.processAllAvailable()
      val got = spark.table("sesswin").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
      assert(got(1L) == Seq(2L), s"u1 must merge at the exact gap: $got")
      assert(got(2L) == Seq(2L), s"u2 must merge: $got")
    } finally q.stop()
  }
}
