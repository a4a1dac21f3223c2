package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, concat, date_format, lit, max}
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.Streaming
import graft.streaming.Streaming.{Ev, SessOut}

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(hour: Int, min: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 $hour%02d:$min%02d:00")

  case class EvRow(ts: Timestamp, user_id: Long, event_type: String, value: Double)

  test("st01 streaming windowed agg emits closed windows after watermark") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[EvRow]
    val q = Streaming.st01Stream(input.toDF)
      .writeStream.format("memory").queryName("st01_sink")
      .outputMode("append").start()
    try {
      input.addData(
        EvRow(ts(0, 10), 1, "click", 1.0), EvRow(ts(0, 20), 1, "click", 2.0),
        EvRow(ts(0, 30), 2, "view", 5.0))
      q.processAllAvailable()
      // advance event time beyond watermark (2h) + window end
      input.addData(EvRow(ts(5), 1, "click", 9.0))
      q.processAllAvailable()
      val rows = spark.table("st01_sink")
        .select("event_type", "n", "sum_value").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(rows == Set(("click", 2L, 3.0), ("view", 1L, 5.0)))
    } finally q.stop()
  }

  test("st07 stream-static enrichment joins the dim in every micro-batch") {
    implicit val ctx = spark.sqlContext
    val nation = Tables(spark, sfDir, "nation")
    val input = MemoryStream[EvRow]
    val q = Streaming.st07Stream(input.toDF, nation)
      .writeStream.format("memory").queryName("st07_sink")
      .outputMode("complete").start()
    try {
      input.addData(
        EvRow(ts(1), 0, "click", 1.0),   // user 0 → nation 0
        EvRow(ts(1, 30), 25, "view", 2.0), // user 25 → nation 0 too
        EvRow(ts(2), 1, "click", 5.0))   // user 1 → nation 1
      q.processAllAvailable()
      val rows = spark.table("st07_sink")
        .select("n_name", "n", "sum_value").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      val names = nation.select(col("n_nationkey").cast("long"), col("n_name"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(rows == Set((names(0L), 2L, 3.0), (names(1L), 1L, 5.0)))
    } finally q.stop()
  }

  test("a Mongo aggregation pipeline runs unchanged on a STREAM") {
    // the pipeline compiler emits pure column algebra, so the same JSON
    // pipeline a mongosh user runs on a collection drives a Structured
    // Streaming query — $match/$addFields/$project stages micro-batch
    // incrementally with no changes
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[EvRow]
    val piped = Graft.aggregate(input.toDF, """[
      {"$match": {"value": {"$gte": 2}, "event_type": {"$ne": "noise"}}},
      {"$redact": {"$cond": [{"$lt": [{"$ifNull": ["$value", 0]}, 8]},
                             "$$DESCEND", "$$PRUNE"]}},
      {"$addFields": {"bucket": {"$cond": {"if": {"$gte": ["$value", 5]},
                                           "then": "big", "else": "small"}},
                      "hour": {"$hour": "$ts"}}},
      {"$project": {"user_id": 1, "bucket": 1, "hour": 1}}
    ]""")
    val q = piped.writeStream.format("memory").queryName("pipe_sink")
      .outputMode("append").start()
    try {
      input.addData(
        EvRow(ts(3, 10), 1, "click", 1.0),  // filtered: value < 2
        EvRow(ts(4, 20), 2, "noise", 9.0),  // filtered: event_type
        EvRow(ts(5, 30), 3, "click", 3.0),
        EvRow(ts(6, 40), 4, "view", 7.0),
        EvRow(ts(7, 50), 5, "view", 8.5))  // $redact-pruned: value >= 8
      q.processAllAvailable()
      val rows = spark.table("pipe_sink").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
      assert(rows == Set((3L, "small", 5), (4L, "big", 6)))
    } finally q.stop()
  }

  test("st02 streaming sessionizer matches gap semantics across batches") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = Streaming.st02Stream(input.toDS()).writeStream
      .format("memory").queryName("st02_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      // user 1: two events 10 min apart (one session), then 2h silence
      input.addData(Ev(1, 1000, 1), Ev(1, 1600, 2))
      q.processAllAvailable()
      input.addData(Ev(1, 1600 + 7200, 3)) // gap > 1800s → a new session
      q.processAllAvailable()
      // nothing emits yet: every event is still inside the lateness
      // horizon (event-time buffering — an admitted-late arrival could
      // still reorder them)
      assert(spark.table("st02_sink").count() == 0)
      // a far-future clock event advances the watermark past everything:
      // both sessions are provably final and flush
      input.addData(Ev(-1, 1000000, 99))
      q.processAllAvailable()
      val out = spark.table("st02_sink").as[SessOut].collect()
        .filter(_.user_id == 1).toSet
      assert(out == Set(SessOut(1, 0, 2, 1000, 600),
        SessOut(1, 1, 1, 8800, 0)), out)
    } finally q.stop()
  }

  test("st02/st13 streaming twins are arrival-order independent") {
    // the round-9 review caught the pre-buffering twins folding
    // admitted-late cross-batch events into whatever session was open
    // (mis-merged sessions; for st13, stages the batch twin can never
    // produce). Events now fold in event-time order once final.
    implicit val ctx = spark.sqlContext
    import graft.streaming.Streaming.{FunnelEv, FunnelOut}
    val in02 = MemoryStream[Ev]
    val q02 = Streaming.st02Stream(in02.toDS()).writeStream
      .format("memory").queryName("st02_ooo_sink")
      .outputMode(OutputMode.Append()).start()
    val in13 = MemoryStream[FunnelEv]
    val q13 = Streaming.st13Stream(in13.toDS()).writeStream
      .format("memory").queryName("st13_ooo_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      // event-time order: 1000, 1600 | 8000, 8500 (two sessions);
      // arrival order scrambles across batches within the 2 h lateness
      in02.addData(Ev(1, 8000, 3), Ev(1, 1000, 1)); q02.processAllAvailable()
      in02.addData(Ev(1, 1600, 2), Ev(1, 8500, 4)); q02.processAllAvailable()
      in02.addData(Ev(-1, 1000000, 99)); q02.processAllAvailable()
      val got02 = spark.table("st02_ooo_sink").as[SessOut].collect()
        .filter(_.user_id == 1).toSet
      assert(got02 == Set(SessOut(1, 0, 2, 1000, 600),
        SessOut(1, 1, 2, 8000, 500)), got02)
      // st13: a purchase that ARRIVES late but happened (sec=1050)
      // between click(1000) and view(1100) must fold in event-time
      // order: click→1, purchase (needs a view first) no-op, view→2.
      // Arrival-order folding would reach stage 3.
      in13.addData(FunnelEv(1, 1000, 1, "click"),
        FunnelEv(1, 1100, 3, "view"))
      q13.processAllAvailable()
      in13.addData(FunnelEv(1, 1050, 2, "purchase"))
      q13.processAllAvailable()
      in13.addData(FunnelEv(-1, 1000000, 99, "click"))
      q13.processAllAvailable()
      val got13 = spark.table("st13_ooo_sink").as[FunnelOut].collect()
        .filter(o => o.user_id == 1 && o.session_seq == 0).map(_.stage).toSeq
      assert(got13 == Seq(2L), got13)
    } finally { q02.stop(); q13.stop() }
  }

  test("st09 streaming EMA carries per-key state across batches") {
    import Streaming.{EmaEv, EmaOut}
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[EmaEv]
    val q = Streaming.st09Stream(input.toDS()).writeStream
      .format("memory").queryName("st09_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(EmaEv(1, 10, 1, 100.0), EmaEv(1, 20, 2, 50.0),
        EmaEv(2, 10, 3, 8.0))
      q.processAllAvailable()
      // batch 2 folds from the carried state, not from scratch
      input.addData(EmaEv(1, 30, 4, 10.0))
      q.processAllAvailable()
      val out = spark.table("st09_sink").as[EmaOut].collect()
        .map(o => o.event_id -> o.ema).toMap
      assert(out(1L) == 100.0)                       // first value seeds
      assert(out(2L) == 0.5 * 50 + 0.5 * 100.0)      // 75
      assert(out(3L) == 8.0)
      assert(out(4L) == 0.5 * 10 + 0.5 * 75.0)       // 42.5 — state carried
    } finally q.stop()
  }

  test("st09 streaming EMA equals the batch ladder on the events table") {
    import Streaming.{EmaEv, EmaOut}
    implicit val ctx = spark.sqlContext
    val events = Tables(spark, sfDir, "events")
      .selectExpr("user_id", "CAST(unix_timestamp(ts) AS BIGINT) AS sec",
        "event_id", "value").as[EmaEv].collect().toSeq
      .sortBy(e => (e.sec, e.event_id))
    val (a, b) = events.splitAt(events.size / 2)
    val input = MemoryStream[EmaEv]
    val q = Streaming.st09Stream(input.toDS()).writeStream
      .format("memory").queryName("st09_full_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(a); q.processAllAvailable()
      input.addData(b); q.processAllAvailable()
      // the online final value per user agrees with the batch ladder key
      // to the ladder's documented precision
      val byEvent = spark.table("st09_full_sink").as[EmaOut].collect()
        .map(o => o.event_id -> o.ema).toMap
      // final state per user = the ema at its last event in fold order
      val online = events.groupBy(_.user_id).map { case (u, es) =>
        u -> byEvent(es.maxBy(e => (e.sec, e.event_id)).event_id) }
      val batch = Streaming.st09StreamEma(spark, sfDir).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(online.keySet == batch.keySet)
      for ((u, v) <- online)
        assert(math.abs(v - batch(u)) < 1e-3, s"user $u: online $v batch ${batch(u)}")
    } finally q.stop()
  }

  test("st02 streaming sessions equal batch twin on ALL sessions once flushed") {
    implicit val ctx = spark.sqlContext
    val events = Tables(spark, sfDir, "events")
      .selectExpr("user_id", "CAST(unix_timestamp(ts) AS BIGINT) AS sec",
        "event_id").as[Ev].collect().toSeq.sortBy(e => (e.sec, e.event_id))
    val input = MemoryStream[Ev]
    val q = Streaming.st02Stream(input.toDS()).writeStream
      .format("memory").queryName("st02_full_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      val (first, second) = events.splitAt(events.size / 2)
      input.addData(first); q.processAllAvailable()
      input.addData(second); q.processAllAvailable()
      // a far-future sentinel (its own key) advances the watermark past
      // every real session's last + gap + lateness: the timeout flushes
      // each user's FINAL session, so stream parity covers ALL sessions
      input.addData(Ev(-1L, events.last.sec + 1000000L, -1L))
      q.processAllAvailable()
      val streamed = spark.table("st02_full_sink").as[SessOut].collect()
        .filter(_.user_id >= 0)
        .map(s => (s.user_id, s.session_seq) -> (s.n_events, s.start_sec)).toMap
      val batch = Streaming.st02Sessionize(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
      assert(streamed == batch,
        s"full parity: streamed ${streamed.size} vs batch ${batch.size}")
    } finally q.stop()
  }

  test("st02/st13 flush a quiet user's final session when the watermark passes") {
    implicit val ctx = spark.sqlContext
    import graft.streaming.Streaming.{FunnelEv, FunnelOut}
    val in02 = MemoryStream[Ev]
    val q02 = Streaming.st02Stream(in02.toDS()).writeStream
      .format("memory").queryName("st02_flush_sink")
      .outputMode(OutputMode.Append()).start()
    val in13 = MemoryStream[FunnelEv]
    val q13 = Streaming.st13Stream(in13.toDS()).writeStream
      .format("memory").queryName("st13_flush_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      in02.addData(Ev(1, 1000, 1), Ev(1, 1600, 2))
      q02.processAllAvailable()
      in13.addData(FunnelEv(1, 1000, 1, "click"), FunnelEv(1, 1600, 2, "view"))
      q13.processAllAvailable()
      // user 1 goes quiet FOREVER; another user's traffic advances the
      // watermark past 1600 + gap + lateness → the timeout must emit
      // user 1's stranded session (the round-8 semantics gap)
      in02.addData(Ev(2, 500000, 3)); q02.processAllAvailable()
      in13.addData(FunnelEv(2, 500000, 3, "click")); q13.processAllAvailable()
      val got02 = spark.table("st02_flush_sink").as[SessOut].collect().toSet
      assert(got02.contains(SessOut(1, 0, 2, 1000, 600)), got02)
      val got13 = spark.table("st13_flush_sink").as[FunnelOut].collect().toSet
      assert(got13.contains(FunnelOut(1, 0, 2)), got13)
      // and a RETURNING user numbers the next session after the cursor
      in02.addData(Ev(1, 600000, 4), Ev(1, 700000, 5))
      q02.processAllAvailable()
      in02.addData(Ev(1, 900000, 6)) // closes seq-1 session by gap
      q02.processAllAvailable()
      val seqs = spark.table("st02_flush_sink").as[SessOut].collect()
        .filter(_.user_id == 1).map(_.session_seq).toSet
      assert(seqs.contains(1L), s"post-flush seq continuity: $seqs")
    } finally { q02.stop(); q13.stop() }
  }

  test("st03 stream dedup keeps one row per key within watermark") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[EvRow]
    val q = Streaming.st03Stream(input.toDF).writeStream
      .format("memory").queryName("st03_sink")
      .outputMode("append").start()
    try {
      input.addData(
        EvRow(ts(1, 0), 1, "click", 1.0), EvRow(ts(1, 5), 1, "click", 2.0),
        EvRow(ts(1, 10), 1, "view", 3.0), EvRow(ts(1, 12), 2, "click", 4.0))
      q.processAllAvailable()
      val keys = spark.table("st03_sink")
        .select("user_id", "event_type").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(keys.size == 3)
      assert(keys.toSet == Set((1L, "click"), (1L, "view"), (2L, "click")))
    } finally q.stop()
  }

  test("st08 left-outer interval join emits abandoned clicks after the watermark") {
    implicit val ctx = spark.sqlContext
    val clicks = MemoryStream[(Timestamp, Long, Long)]
    val purchases = MemoryStream[(Timestamp, Long, Long)]
    val joined = Streaming.st08Stream(
      clicks.toDF.toDF("click_ts", "user_id", "click_id"),
      purchases.toDF.toDF("purchase_ts", "p_user_id", "purchase_id"))
      .select("user_id", "click_id", "purchase_id")
    val q = joined.writeStream.format("memory").queryName("st08_sink")
      .outputMode("append").start()
    try {
      clicks.addData((ts(1, 0), 1L, 100L), (ts(1, 0), 2L, 101L))
      purchases.addData((ts(1, 20), 1L, 200L)) // converts click 100
      q.processAllAvailable()
      // the null row for click 101 may only emit once the watermark
      // proves no purchase can still match — advance BOTH watermarks
      clicks.addData((ts(9, 0), 9L, 999L))
      purchases.addData((ts(9, 0), 9L, 998L))
      q.processAllAvailable()
      val rows = spark.table("st08_sink").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
      assert(rows.contains((1L, 100L, 200L)), rows)  // converted
      assert(rows.contains((2L, 101L, -1L)), rows)   // abandoned → null
    } finally q.stop()
  }

  test("st04 stream-stream interval join with bounded state") {
    implicit val ctx = spark.sqlContext
    val clicks = MemoryStream[(Timestamp, Long, Long)]
    val purchases = MemoryStream[(Timestamp, Long, Long)]
    val joined = Streaming.st04Stream(
      clicks.toDF.toDF("click_ts", "user_id", "click_id"),
      purchases.toDF.toDF("purchase_ts", "p_user_id", "purchase_id"))
      .select("user_id", "click_id", "purchase_id")
    val q = joined.writeStream.format("memory").queryName("st04_sink")
      .outputMode("append").start()
    try {
      clicks.addData((ts(1, 0), 1L, 100L), (ts(2, 0), 2L, 101L))
      purchases.addData(
        (ts(1, 20), 1L, 200L), // within 30 min of click 100 → joins
        (ts(1, 45), 1L, 201L), // 45 min after → outside the interval
        (ts(2, 10), 2L, 202L)) // within → joins
      q.processAllAvailable()
      val rows = spark.table("st04_sink").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(rows == Set((1L, 100L, 200L), (2L, 101L, 202L)))
    } finally q.stop()
  }

  test("st05 latest-state upsert emits the current row per touched key") {
    implicit val ctx = spark.sqlContext
    import Streaming.UpEv
    val input = MemoryStream[UpEv]
    val q = Streaming.st05Stream(input.toDS).writeStream
      .format("memory").queryName("st05_sink")
      .outputMode("update").start()
    try {
      input.addData(
        UpEv(1L, 100L, 10L, "click", 1.0),
        UpEv(1L, 200L, 11L, "purchase", 2.0), // newer → wins for user 1
        UpEv(2L, 150L, 12L, "view", 3.0))
      q.processAllAvailable()
      // a later batch with an OLDER event must not regress the state
      input.addData(UpEv(1L, 50L, 13L, "click", 9.0))
      q.processAllAvailable()
      val byUser = spark.table("st05_sink").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      // final state rows (last emission per user): user 1 keeps event 11
      val finalRows = byUser.groupBy(_._1).map { case (_, v) => v.last }.toSet
      assert(finalRows == Set((1L, 11L, "purchase"), (2L, 12L, "view")))
    } finally q.stop()
  }

  test("st06 streaming as-of enrichment tracks the latest prior order") {
    implicit val ctx = spark.sqlContext
    import Streaming.AsofIn
    val input = MemoryStream[AsofIn]
    val q = Streaming.st06Stream(input.toDS).writeStream
      .format("memory").queryName("st06_sink")
      .outputMode("append").start()
    try {
      // batch 1: user 1's order at t=100 precedes its event at t=150;
      // user 2 has an event but no order yet
      input.addData(
        AsofIn(1L, 100L, 0, 0L, 500L, 12.5),
        AsofIn(1L, 150L, 1, 1000L, 0L, 0.0),
        AsofIn(2L, 150L, 1, 2000L, 0L, 0.0))
      q.processAllAvailable()
      // batch 2: a newer order for user 1, then a later event → new order
      // wins; user 2's late order enriches user 2's NEXT event only
      input.addData(
        AsofIn(1L, 200L, 0, 0L, 501L, 99.0),
        AsofIn(1L, 250L, 1, 1001L, 0L, 0.0),
        AsofIn(2L, 120L, 0, 0L, 600L, 7.0),
        AsofIn(2L, 260L, 1, 2001L, 0L, 0.0))
      q.processAllAvailable()
      val rows = spark.table("st06_sink").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(2)) -1L else r.getLong(2)))
        .toMap
      assert(rows == Map(
        1000L -> 500L, // first event sees the t=100 order
        2000L -> -1L,  // no order yet → null enrichment
        1001L -> 501L, // newer order supersedes
        2001L -> 600L)) // late-arriving order visible from here on
    } finally q.stop()
  }

  test("st10 streaming window quantiles: exact p50/p95 per closed window") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[EvRow]
    val q = Streaming.st10Stream(input.toDF)
      .writeStream.format("memory").queryName("st10_sink")
      .outputMode("append").start()
    try {
      // window 00:00–01:00, "click": values 1..5 → p50=3, p95=4.8
      input.addData((1 to 5).map(i =>
        EvRow(ts(0, i), 1, "click", i.toDouble)): _*)
      input.addData(EvRow(ts(0, 40), 2, "view", 10.0))
      q.processAllAvailable()
      input.addData(EvRow(ts(5), 1, "click", 9.0)) // advance watermark
      q.processAllAvailable()
      val rows = spark.table("st10_sink")
        .select("event_type", "p50", "p95", "n").collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
          r.getLong(3))).toSet
      assert(rows == Set(
        ("click", 3.0, 4.8, 5L),
        ("view", 10.0, 10.0, 1L)))
    } finally q.stop()
  }

  test("st12 streaming anomaly flags equal the batch twin on closed windows") {
    implicit val ctx = spark.sqlContext
    import graft.streaming.Streaming.AnEv
    val batch = Streaming.st12AnomalyWindows(spark, sfDir)
      .select(col("window_start"), col("event_type"), col("n"),
        col("t_sum"), col("is_anomaly"))
    val evs = Tables(spark, sfDir, "events")
      .select(col("ts"), col("event_type"))
      .collect().map(r => AnEv(r.getTimestamp(0), r.getString(1)))
    val input = MemoryStream[AnEv]
    val q = Streaming.st12Stream(input.toDS())
      .writeStream.format("memory").queryName("st12_sink")
      .outputMode("update").start()
    try {
      input.addData(evs.toSeq: _*)
      q.processAllAvailable()
      // a far-future sentinel closes every real window; its own type has
      // no trailing history and its window never closes, so it emits
      // nothing itself
      val maxTs = evs.map(_.ts.getTime).max
      input.addData(AnEv(new Timestamp(maxTs + 2592000000L), "__probe"))
      q.processAllAvailable()
      val stream = spark.table("st12_sink")
        .select(date_format(col("window_start").cast("timestamp"),
          "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"), col("n"), col("t_sum"), col("is_anomaly"))
      assert(stream.count() > 0)
      assert(stream.exceptAll(batch).isEmpty && batch.exceptAll(stream).isEmpty)
    } finally q.stop()
  }

  test("st12 late events inside the lateness land in their closed window") {
    implicit val ctx = spark.sqlContext
    import graft.streaming.Streaming.AnEv
    def at(day: Int, hour: Int, min: Int): Timestamp =
      Timestamp.valueOf(f"2024-01-0$day $hour%02d:$min%02d:00")
    val input = MemoryStream[AnEv]
    val q = Streaming.st12Stream(input.toDS(), latenessSec = 7200L)
      .writeStream.format("memory").queryName("st12_late_sink")
      .outputMode("update").start()
    try {
      // hours 0-2 build the trailing ring (1, 2, 3 events); hour 3 gets
      // 2 events now and 1 LATE event later
      input.addData(
        Seq(at(1, 0, 5)) ++ Seq.fill(2)(at(1, 1, 5)) ++
          Seq.fill(3)(at(1, 2, 5)) ++ Seq.fill(2)(at(1, 3, 5))
          map (t => AnEv(t, "click")): _*)
      q.processAllAvailable()
      // watermark after this batch = 03:05 - 2h = 01:05: window 3 is
      // still open, so a 03:30 arrival is late-but-admissible
      input.addData(AnEv(at(1, 3, 30), "click"))
      q.processAllAvailable()
      // seal everything
      input.addData(AnEv(at(2, 23, 0), "click"))
      q.processAllAvailable()
      val rows = spark.table("st12_late_sink")
        .select("window_start", "n", "t_sum", "is_anomaly").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getBoolean(3))).toSet
      // window 3 scored with n = 3 (late event INCLUDED), trail 1+2+3=6:
      // dev = 9-6 = 3 > 0, dev² = 9 vs 4·(3·14−36) = 24 → not anomalous
      val w3 = Timestamp.valueOf("2024-01-01 03:00:00").getTime / 1000L
      assert(rows.contains((w3, 3L, 6L, false)), rows)
      assert(rows.size == 1, s"only window 3 has a full ring: $rows")
    } finally q.stop()
  }

  test("st17 streaming drift flags equal the batch twin on sealed days") {
    implicit val ctx = spark.sqlContext
    import graft.streaming.Streaming.DrEv
    val batch = Streaming.st17DistributionDrift(spark, sfDir)
      .select(col("window_start"), col("event_type"), col("n"),
        col("prev_n"), col("n_events"), col("prev_events"), col("drifted"))
    val evs = Tables(spark, sfDir, "events")
      .select(col("ts"), col("event_type"))
      .collect().map(r => DrEv(r.getTimestamp(0), r.getString(1)))
    val input = MemoryStream[DrEv]
    val q = Streaming.st17Stream(input.toDS())
      .writeStream.format("memory").queryName("st17_sink")
      .outputMode("update").start()
    try {
      input.addData(evs.toSeq: _*)
      q.processAllAvailable()
      // far-future sentinel seals every real comparison day; its own
      // day has no previous-day events (mm = 0) so it emits nothing
      val maxTs = evs.map(_.ts.getTime).max
      input.addData(DrEv(new Timestamp(maxTs + 2592000000L), "__probe"))
      q.processAllAvailable()
      val stream = spark.table("st17_sink")
        .select(date_format(col("window_start").cast("timestamp"),
          "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"), col("n"), col("prev_n"),
          col("n_events"), col("prev_events"), col("drifted"))
      assert(stream.count() > 0)
      assert(stream.exceptAll(batch).isEmpty && batch.exceptAll(stream).isEmpty)
    } finally q.stop()
  }

  test("st17 a planted share shift drifts; a stable stream does not") {
    implicit val ctx = spark.sqlContext
    import graft.streaming.Streaming.DrEv
    def at(day: Int, n: Int): Timestamp =
      Timestamp.valueOf(f"2024-01-0$day 0${n % 6}:0${n % 10}:00")
    val input = MemoryStream[DrEv]
    val q = Streaming.st17Stream(input.toDS())
      .writeStream.format("memory").queryName("st17_plant_sink")
      .outputMode("update").start()
    try {
      // day 1: 90 click / 10 view; day 2: 50/50 — a 40-point share swing
      val d1 = (1 to 90).map(i => DrEv(at(1, i), "click")) ++
        (1 to 10).map(i => DrEv(at(1, i), "view"))
      val d2 = (1 to 50).map(i => DrEv(at(2, i), "click")) ++
        (1 to 50).map(i => DrEv(at(2, i), "view"))
      // day 3: same as day 2 (stable) — plus a sealer
      val d3 = (1 to 50).map(i => DrEv(at(3, i), "click")) ++
        (1 to 50).map(i => DrEv(at(3, i), "view"))
      input.addData((d1 ++ d2 ++ d3): _*)
      q.processAllAvailable()
      input.addData(DrEv(Timestamp.valueOf("2024-01-09 00:00:00"), "seal"))
      q.processAllAvailable()
      val rows = spark.table("st17_plant_sink")
        .collect().map(r => (r.getLong(0), r.getString(1),
          r.getBoolean(r.fieldIndex("drifted")))).toSet
      val day2 = Timestamp.valueOf("2024-01-02 00:00:00").getTime / 1000L
      val day3 = day2 + 86400L
      assert(rows((day2, "click", true)) && rows((day2, "view", true)),
        rows.toString) // the swing fires both sides
      assert(rows((day3, "click", false)) && rows((day3, "view", false)),
        rows.toString) // identical distributions never fire
    } finally q.stop()
  }

  test("st13 funnel order matters: stages advance only click→view→purchase") {
    implicit val ctx = spark.sqlContext
    import graft.streaming.Streaming.{FunnelEv, FunnelOut}
    val input = MemoryStream[FunnelEv]
    val q = Streaming.st13Stream(input.toDS()).writeStream
      .format("memory").queryName("st13_sink")
      .outputMode("append").start()
    try {
      input.addData(
        // user 1: full ordered funnel → stage 3
        FunnelEv(1, 1000, 1, "click"), FunnelEv(1, 1010, 2, "view"),
        FunnelEv(1, 1020, 3, "purchase"),
        // user 2: view before click never counts → stage 2, not 3
        FunnelEv(2, 1000, 4, "view"), FunnelEv(2, 1010, 5, "click"),
        FunnelEv(2, 1020, 6, "view"),
        // user 3: purchase before any click/view → stage 1 only
        FunnelEv(3, 1000, 7, "purchase"), FunnelEv(3, 1010, 8, "click"))
      q.processAllAvailable()
      // a clock event advances the watermark past everything: the first
      // sessions are provably final and flush with their stages
      input.addData(FunnelEv(-1, 1000000, 99, "click"))
      q.processAllAvailable()
      val out = spark.table("st13_sink").as[FunnelOut].collect()
        .filter(o => o.user_id > 0 && o.session_seq == 0)
        .map(o => o.user_id -> o.stage).toMap
      assert(out == Map(1L -> 3L, 2L -> 2L, 3L -> 1L), out)
    } finally q.stop()
  }

  test("st13 streaming stages equal the batch fold on the events table") {
    implicit val ctx = spark.sqlContext
    import graft.streaming.Streaming.{FunnelEv, FunnelOut}
    import org.apache.spark.sql.functions.{expr => sexpr}
    val evs = Tables(spark, sfDir, "events")
      .selectExpr("user_id", "CAST(unix_timestamp(ts) AS BIGINT) AS sec",
        "event_id", "event_type").as[FunnelEv].collect().toSeq
    val input = MemoryStream[FunnelEv]
    val q = Streaming.st13Stream(input.toDS()).writeStream
      .format("memory").queryName("st13_full_sink")
      .outputMode("append").start()
    try {
      input.addData(evs: _*)
      q.processAllAvailable()
      // far-future sentinel advances the watermark → every user's final
      // session flushes via the timeout, so parity covers ALL sessions
      input.addData(FunnelEv(-1L,
        evs.map(_.sec).max + 1000000L, -1L, "click"))
      q.processAllAvailable()
      // batch per-session stages, recomputed through the SAME windows
      // the operator uses (the registry key only publishes counts)
      val ev = Tables(spark, sfDir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"),
          sexpr("CAST(unix_timestamp(ts) AS BIGINT)").as("sec"))
      val byUser = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
      val batch = ev.withColumn("new_session",
          org.apache.spark.sql.functions.when(
            col("sec") - org.apache.spark.sql.functions.lag(col("sec"), 1)
              .over(byUser) > Streaming.SessionGapSeconds, 1L)
            .otherwise(org.apache.spark.sql.functions.lit(0L)))
        .withColumn("session_seq",
          org.apache.spark.sql.functions.sum(col("new_session"))
            .over(byUser.rowsBetween(
              org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("session_seq"))
        .agg(sexpr("""aggregate(
          transform(array_sort(collect_list(
            struct(sec, event_id, event_type))), e -> e.event_type),
          0L,
          (st, t) -> CASE WHEN st = 0L AND t = 'click' THEN 1L
                          WHEN st = 1L AND t = 'view' THEN 2L
                          WHEN st = 2L AND t = 'purchase' THEN 3L
                          ELSE st END)""").as("stage"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      // gap-closed sessions + watermark-flushed finals = ALL sessions
      val got = spark.table("st13_full_sink").as[FunnelOut].collect()
        .filter(_.user_id >= 0)
        .map(o => (o.user_id, o.session_seq) -> o.stage).toMap
      assert(got == batch,
        s"session stages diverge: ${got.size} vs ${batch.size}")
    } finally q.stop()
  }

  test("st14 SCD2 twin: versions close on attribute change, in event-time " +
      "order, and closed versions equal the batch history") {
    implicit val ctx = spark.sqlContext
    import graft.streaming.Streaming.{FunnelEv, Scd2Out}
    val input = MemoryStream[FunnelEv]
    val q = Streaming.st14Stream(input.toDS()).writeStream
      .format("memory").queryName("st14_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      // change-detection: click, click (no-op), view (closes v1),
      // arriving with a LATE click at sec=1500 that must fold between —
      // it is a no-op (same attribute as current) in event-time order,
      // while arrival-order folding after the view would fabricate v3
      input.addData(FunnelEv(1, 1000, 1, "click"),
        FunnelEv(1, 2000, 3, "view"))
      q.processAllAvailable()
      input.addData(FunnelEv(1, 1500, 2, "click"))
      q.processAllAvailable()
      input.addData(FunnelEv(-1, 1000000, 99, "click")) // clock
      q.processAllAvailable()
      val mini = spark.table("st14_sink").as[Scd2Out].collect()
        .filter(_.user_id == 1).toSet
      assert(mini == Set(Scd2Out(1, 1, "click", 1000, 2000)), mini)
    } finally q.stop()

    // full-table parity: every CLOSED version matches the batch history
    // exactly (the current open version per user rides in state, which
    // is the SCD2 semantics — the batch twin marks it is_current)
    val evs = Tables(spark, sfDir, "events")
      .selectExpr("user_id", "CAST(unix_timestamp(ts) AS BIGINT) AS sec",
        "event_id", "event_type").as[FunnelEv].collect().toSeq
    val input2 = MemoryStream[FunnelEv]
    val q2 = Streaming.st14Stream(input2.toDS()).writeStream
      .format("memory").queryName("st14_full_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      input2.addData(evs: _*)
      q2.processAllAvailable()
      input2.addData(FunnelEv(-1L, evs.map(_.sec).max + 1000000L, -1L,
        "click"))
      q2.processAllAvailable()
      val got = spark.table("st14_full_sink").as[Scd2Out].collect()
        .filter(_.user_id >= 0)
        .map(o => (o.user_id, o.version) ->
          (o.event_type, o.valid_from_sec, o.valid_to_sec)).toMap
      val want = Streaming.st14Scd2(spark, sfDir).collect()
        .filter(!_.getBoolean(5)) // closed versions only
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getString(2), r.getLong(3), r.getLong(4))).toMap
      assert(got == want, s"${got.size} vs ${want.size}")
    } finally q2.stop()
  }

  test("st14 lateness torture: closed versions equal the batch history " +
      "under RANDOM arrival permutations within the lateness horizon") {
    // VERDICT r9 #8 — the property the one-late-event mini-spec cannot
    // give: ANY admissible arrival order (every event arrives before
    // the watermark passes its own timestamp) must fold to the same
    // history. Permutations are built by sorting on a pseudo-arrival
    // key sec + U[0, lateness/2): when an event arrives, every earlier
    // arrival has key ≤ its key, so maxSec ≤ sec + lateness/2 and the
    // watermark maxSec − lateness sits strictly below sec — admissible
    // by construction, with cross-batch displacement up to half the
    // horizon.
    implicit val ctx = spark.sqlContext
    import graft.streaming.Streaming.{FunnelEv, Scd2Out}
    val evs = Tables(spark, sfDir, "events")
      .selectExpr("user_id", "CAST(unix_timestamp(ts) AS BIGINT) AS sec",
        "event_id", "event_type").as[FunnelEv].collect().toSeq
    val want = Streaming.st14Scd2(spark, sfDir).collect()
      .filter(!_.getBoolean(5)) // closed versions only
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getString(2), r.getLong(3), r.getLong(4))).toMap
    for (seed <- Seq(11, 77)) {
      val rnd = new scala.util.Random(seed)
      val arrival = evs.map(e => (e.sec + rnd.nextInt(3600), e))
        .sortBy { case (k, e) => (k, e.event_id) }.map(_._2)
      val input = MemoryStream[FunnelEv]
      val q = Streaming.st14Stream(input.toDS()).writeStream
        .format("memory").queryName(s"st14_torture_$seed")
        .outputMode(OutputMode.Append()).start()
      try {
        arrival.grouped((arrival.size / 8) + 1).foreach { chunk =>
          input.addData(chunk: _*); q.processAllAvailable()
        }
        input.addData(FunnelEv(-1L, evs.map(_.sec).max + 1000000L, -1L,
          "click"))
        q.processAllAvailable()
        val got = spark.table(s"st14_torture_$seed").as[Scd2Out].collect()
          .filter(_.user_id >= 0)
          .map(o => (o.user_id, o.version) ->
            (o.event_type, o.valid_from_sec, o.valid_to_sec)).toMap
        assert(got == want, s"seed $seed: ${got.size} vs ${want.size}")
      } finally q.stop()
    }
  }

  test("st16 PIT join: every fact sees its second's FINAL dimension " +
      "state, the planted same-second flips are the only grain effects") {
    val df = SparkEntry.queries("st16_pit_join")(spark, sfDir).cache()
    val raw = Tables(spark, sfDir, "events")
    val nRaw = raw.count()
    val nPl = raw.filter(col("event_id") % 97 === 13).count()
    // the join is total: one output row per fact (raw + planted)
    assert(df.count() == nRaw + nPl)
    // grain effect: EXACTLY the raw events sharing a (user, second)
    // with a plant carry an attr differing from their own event_type —
    // derived from the data, not assumed (a raw co-event in a plant's
    // second also inherits the "_chg" state; review r10c)
    val rawSec = raw.select(col("user_id"),
      org.apache.spark.sql.functions.unix_timestamp(col("ts")).as("sec"),
      col("event_id"))
    val plantLoc = rawSec.filter(col("event_id") % 97 === 13)
      .select("user_id", "sec").distinct()
    val expectedMism = rawSec.join(plantLoc, Seq("user_id", "sec"))
      .select("event_id").distinct().count()
    val mism = df.filter(col("attr") =!= col("event_type")).cache()
    assert(mism.count() == expectedMism,
      s"${mism.count()} vs $expectedMism")
    assert(expectedMism >= nPl) // each plant's own source co-locates
    assert(mism.filter(col("attr") =!=
      concat(col("event_type"), lit("_chg"))).count() == 0)
    // every mismatched fact sits in a planted second
    val pl2 = plantLoc.withColumnRenamed("user_id", "u2")
      .withColumnRenamed("sec", "s2")
    assert(mism.join(pl2, mism("user_id") === pl2("u2") &&
      mism("sec") === pl2("s2"), "left_anti").count() == 0)
    mism.unpersist(); df.unpersist()
  }

  test("st16 streaming twin: per-fact version tags equal the batch PIT " +
      "join under random arrival permutations within lateness") {
    implicit val ctx = spark.sqlContext
    import graft.streaming.Streaming.{FunnelEv, PitOut}
    // the twin consumes the SAME planted event set the batch key builds
    val raw = Tables(spark, sfDir, "events")
      .selectExpr("user_id", "CAST(unix_timestamp(ts) AS BIGINT) AS sec",
        "event_id", "event_type").as[FunnelEv].collect().toSeq
    val mx = raw.map(_.event_id).max + 1
    val evs = raw ++ raw.filter(_.event_id % 97 == 13)
      .map(e => FunnelEv(e.user_id, e.sec, e.event_id + mx,
        e.event_type + "_chg"))
    val want = SparkEntry.queries("st16_pit_join")(spark, sfDir).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4),
          r.getString(5))).toMap
    for (seed <- Seq(5, 42)) {
      val rnd = new scala.util.Random(seed)
      val arrival = evs.map(e => (e.sec + rnd.nextInt(3600), e))
        .sortBy { case (k, e) => (k, e.event_id) }.map(_._2)
      val input = MemoryStream[FunnelEv]
      val q = Streaming.st16Stream(input.toDS()).writeStream
        .format("memory").queryName(s"st16_torture_$seed")
        .outputMode(OutputMode.Append()).start()
      try {
        arrival.grouped((arrival.size / 8) + 1).foreach { chunk =>
          input.addData(chunk: _*); q.processAllAvailable()
        }
        input.addData(FunnelEv(-1L, evs.map(_.sec).max + 1000000L, -1L,
          "click"))
        q.processAllAvailable()
        val got = spark.table(s"st16_torture_$seed").as[PitOut].collect()
          .filter(_.user_id >= 0)
          .map(o => o.event_id ->
            (o.user_id, o.sec, o.event_type, o.version, o.attr)).toMap
        assert(got == want, s"seed $seed: ${got.size} vs ${want.size}")
      } finally q.stop()
    }
  }

  test("st15 ingestion gate: the planted wave fully decided — recrawls " +
      "corpus-caught, new pages kept, re-submissions stream-caught") {
    val rows = Streaming.st15IngestDedup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    val b3 = rows.filter(_._1 < 6000000L)
    val b5 = rows.filter(r => r._1 >= 6000000L && r._1 < 6300000L)
    val b5r = rows.filter(_._1 >= 6300000L)
    assert(b3.nonEmpty && b5.nonEmpty && b5r.nonEmpty)
    // recrawls: the corpus probe must catch every one (dd16's contract)
    b3.foreach { case (id, nc, _, keep) =>
      assert(nc > 0 && !keep, s"b3 $id") }
    // new pages: suffix-disjoint from the corpus ALWAYS (structural);
    // a NATURAL near-dup pair among the base docs makes its two
    // suffixed pages match each other, and the later arrival loses —
    // the earlier-arrival rule working, so the keep claim is
    // keep ⇔ no earlier stream match, with the clean majority pinned
    b5.foreach { case (id, nc, ns, keep) =>
      assert(nc == 0L && keep == (ns == 0L), s"b5 $id") }
    assert(b5.count(_._4) * 10 >= b5.length * 9, "b5 majority not kept")
    // re-submissions: invisible to the corpus (dd16 would KEEP them),
    // caught only by the within-stream rule
    b5r.foreach { case (id, nc, ns, keep) =>
      assert(nc == 0L && ns > 0 && !keep, s"b5r $id") }
  }

  test("st15 streaming twin: identical verdicts under random id-ordered " +
      "micro-batch splits, signatures accumulated in the store") {
    implicit val ctx = spark.sqlContext
    import graft.streaming.Streaming.DocRow
    val corpusSigs = graft.operators.Dedup.ensureMinhashSigArtifact(spark, sfDir)
      .select(col("doc_id").as("cid"), col("sig").as("csig"))
    val wave = Streaming.st15Wave(spark, sfDir).orderBy("doc_id")
      .collect().map(r => DocRow(r.getLong(0), r.getString(1)))
    val want = Streaming.st15IngestDedup(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toMap
    for (seed <- Seq(5, 23)) {
      val rnd = new scala.util.Random(seed)
      val storePath = java.nio.file.Files
        .createTempDirectory(s"st15store$seed").toString + "/sigs"
      val ckpt = java.nio.file.Files
        .createTempDirectory(s"st15ckpt$seed").toString
      val input = MemoryStream[DocRow]
      val outs =
        scala.collection.mutable.ArrayBuffer[Array[org.apache.spark.sql.Row]]()
      val q = input.toDS().toDF().writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          outs += Streaming.st15Stream(corpusSigs, storePath)(b, id).collect()
          ()
        }.start()
      try {
        var rest = wave.toList
        while (rest.nonEmpty) {
          val (chunk, more) = rest.splitAt(1 + rnd.nextInt(8))
          input.addData(chunk: _*); q.processAllAvailable()
          rest = more
        }
        val got = outs.flatten.map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
        assert(got == want, s"seed $seed: ${got.size} vs ${want.size}")
      } finally q.stop()
    }
  }

  test("st11 space-saving heavy hitters equal the batch twin at ample capacity") {
    implicit val ctx = spark.sqlContext
    import graft.streaming.Streaming.HhEv
    val batch = Streaming.st11HeavyHitters(spark, sfDir)
    val evs = Tables(spark, sfDir, "events")
      .select(col("ts"), col("event_type"))
      .collect().map(r => HhEv(r.getTimestamp(0), r.getString(1)))
    val input = MemoryStream[HhEv]
    val q = Streaming.st11Stream(input.toDS())
      .writeStream.format("memory").queryName("st11_sink")
      .outputMode("update").start()
    try {
      input.addData(evs.toSeq: _*)
      q.processAllAvailable()
      val stream = spark.table("st11_sink")
        .select(date_format(col("window_start").cast("timestamp"),
          "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"), col("n"), col("rank"))
      assert(stream.exceptAll(batch).isEmpty && batch.exceptAll(stream).isEmpty)
    } finally q.stop()
  }

  test("st11 space-saving eviction keeps heavy keys under tight capacity") {
    implicit val ctx = spark.sqlContext
    import graft.streaming.Streaming.HhEv
    val input = MemoryStream[HhEv]
    // capacity 2: the two heavy keys must survive the noise keys
    val q = Streaming.st11Stream(input.toDS(), capacity = 2)
      .writeStream.format("memory").queryName("st11_tight_sink")
      .outputMode("update").start()
    try {
      val heavy = Seq.fill(20)(HhEv(ts(0, 5), "click")) ++
        Seq.fill(10)(HhEv(ts(0, 10), "view"))
      val noise = Seq("a", "b", "c").map(t => HhEv(ts(0, 15), t))
      input.addData((heavy ++ noise): _*)
      q.processAllAvailable()
      val top = spark.table("st11_tight_sink")
        .filter(col("rank") === 1).select("event_type").collect()
      assert(top.map(_.getString(0)).contains("click"))
      // space-saving guarantee: counts overestimate by at most the min
      // counter — the top key's reported count is ≥ its true frequency
      val n = spark.table("st11_tight_sink")
        .filter(col("event_type") === "click").agg(max(col("n")))
        .head.getLong(0)
      assert(n >= 20)
    } finally q.stop()
  }

  test("st11 closed-window state is purged once the watermark passes") {
    implicit val ctx = spark.sqlContext
    import graft.streaming.Streaming.HhEv

    def stateRows(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
      q.recentProgress.reverseIterator
        .find(_.stateOperators.nonEmpty)
        .map(_.stateOperators.map(_.numRowsTotal).sum)
        .getOrElse(-1L)

    val input = MemoryStream[HhEv]
    val q = Streaming.st11Stream(input.toDS())
      .writeStream.format("memory").queryName("st11_evict_sink")
      .outputMode("update").start()
    try {
      // three distinct hour windows open
      input.addData(HhEv(ts(0, 5), "click"), HhEv(ts(1, 5), "view"),
        HhEv(ts(2, 5), "click"))
      q.processAllAvailable()
      assert(stateRows(q) == 3L)
      // advance the watermark far past all three windows' end + lateness:
      // ts=10:00 → watermark 08:00 > (02:00-hour end 03:00) + 2h = 05:00
      input.addData(HhEv(ts(10, 5), "view"))
      q.processAllAvailable()
      // the three closed windows' state left the store; only the hour-10
      // window (still inside the watermark horizon) remains
      assert(stateRows(q) == 1L)
      // and the purge emitted nothing new for the closed windows: their
      // last update-mode rows are still the final answer
      val win0 = spark.table("st11_evict_sink")
        .filter(col("window_start") === ts(0).getTime / 1000L)
        .select("event_type", "n").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(win0 == Set(("click", 1L)))
    } finally q.stop()
  }

  test("state-lifecycle audit: every stateful twin declares and honors its bound") {
    // Every (flat)mapGroupsWithState twin must either (a) key its state by
    // a bounded ENTITY (user/key — cardinality-bounded, time-free: feeding
    // 12 hours of events for 2 entities leaves exactly 2 state rows), or
    // (b) key by TIME and arm EventTimeTimeout so the watermark purges
    // closed keys (st11). A time-keyed NoTimeout twin would grow its store
    // with stream lifetime — the class of bug this table pins down.
    // Entity-keyed twins holding OPEN-SESSION values (st02/st13) arm
    // EventTimeTimeout too — not for the store bound (the entity key
    // already bounds it) but for EMISSION COMPLETENESS: a quiet user's
    // final session must flush when the watermark proves it final.
    implicit val ctx = spark.sqlContext
    import graft.streaming.Streaming._
    import org.apache.spark.sql.catalyst.plans.logical.{FlatMapGroupsWithState => FMGWS}

    def stateRows(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
      q.recentProgress.reverseIterator
        .find(_.stateOperators.nonEmpty)
        .map(_.stateOperators.map(_.numRowsTotal).sum)
        .getOrElse(-1L)

    def declaredTimeouts(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.analyzed.collect { case f: FMGWS => f.timeout.toString }

    def run(name: String, df: org.apache.spark.sql.DataFrame, mode: String)(
        feed: () => Unit): (Long, Seq[String]) = {
      val q = df.writeStream.format("memory")
        .queryName(s"audit_${name}_sink").outputMode(mode).start()
      try { feed(); q.processAllAvailable(); (stateRows(q), declaredTimeouts(df)) }
      finally q.stop()
    }

    val hours = 0 until 12
    val users = Seq(1L, 2L)

    // -- entity-keyed twins: NoTimeout is SAFE because the key is time-free
    val in02 = MemoryStream[Ev]
    val (s02Rows, s02To) = run("st02", Streaming.st02Stream(in02.toDS).toDF,
      "append") { () =>
      in02.addData((for { u <- users; h <- hours }
        yield Ev(u, h * 3600L, u * 100 + h)): _*)
    }
    val in05 = MemoryStream[UpEv]
    val (s05Rows, s05To) = run("st05", Streaming.st05Stream(in05.toDS).toDF,
      "update") { () =>
      in05.addData((for { u <- users; h <- hours }
        yield UpEv(u, h * 3600L, u * 100 + h, "click", h.toDouble)): _*)
    }
    val in06 = MemoryStream[AsofIn]
    val (s06Rows, s06To) = run("st06", Streaming.st06Stream(in06.toDS).toDF,
      "append") { () =>
      in06.addData((for { u <- users; h <- hours }
        yield AsofIn(u, h * 3600L, h % 2, u * 100 + h, u * 100 + h, 1.0)): _*)
    }
    val in09 = MemoryStream[EmaEv]
    val (s09Rows, s09To) = run("st09", Streaming.st09Stream(in09.toDS).toDF,
      "append") { () =>
      in09.addData((for { u <- users; h <- hours }
        yield EmaEv(u, h * 3600L, u * 100 + h, h.toDouble)): _*)
    }
    // -- time-keyed twin: MUST arm EventTimeTimeout (watermark purges)
    val in11 = MemoryStream[HhEv]
    val (s11Rows, s11To) = run("st11", Streaming.st11Stream(in11.toDS).toDF,
      "update") { () =>
      in11.addData(hours.map(h =>
        HhEv(Timestamp.valueOf(f"2024-01-01 $h%02d:05:00"), "click")): _*)
      // second batch far in the future: watermark passes every window above
      in11.addData(HhEv(Timestamp.valueOf("2024-01-03 02:00:00"), "view"))
    }

    val in13 = MemoryStream[FunnelEv]
    val (s13Rows, s13To) = run("st13", Streaming.st13Stream(in13.toDS).toDF,
      "append") { () =>
      in13.addData((for { u <- users; h <- hours }
        yield FunnelEv(u, h * 3600L, u * 100 + h, "click")): _*)
    }

    val in14 = MemoryStream[FunnelEv]
    val (s14Rows, s14To) = run("st14", Streaming.st14Stream(in14.toDS).toDF,
      "append") { () =>
      in14.addData((for { u <- users; h <- hours }
        yield FunnelEv(u, h * 3600L, u * 100 + h, "click")): _*)
    }

    val in16 = MemoryStream[FunnelEv]
    val (s16Rows, s16To) = run("st16", Streaming.st16Stream(in16.toDS).toDF,
      "append") { () =>
      in16.addData((for { u <- users; h <- hours }
        yield FunnelEv(u, h * 3600L, u * 100 + h, "click")): _*)
    }

    // -- entity-keyed twin whose state VALUE is time-bounded internally:
    // one state row per event_type; the value holds open windows (purged
    // on watermark closure inside the function) + a trailing-3 ring
    val in12 = MemoryStream[AnEv]
    val (s12Rows, s12To) = run("st12", Streaming.st12Stream(in12.toDS).toDF,
      "update") { () =>
      in12.addData((for { t <- Seq("click", "view"); h <- hours }
        yield AnEv(Timestamp.valueOf(f"2024-01-01 $h%02d:05:00"), t)): _*)
      in12.addData(AnEv(Timestamp.valueOf("2024-01-03 02:00:00"), "click"))
    }

    // The audit table. bound = what limits the state store's size; the
    // behavioral column PROVES it (12 hours of data, state ∝ bound only).
    val audit = Seq(
      //  twin     timeouts   rows     bound
      ("st02", s02To, s02Rows, users.size.toLong, "EventTimeTimeout",
        "user_id — one row per user holding the watermark-horizon event " +
          "buffer + open session/seq cursor; timeout ripens the buffer " +
          "and flushes a quiet user's final session"),
      ("st05", s05To, s05Rows, users.size.toLong, "NoTimeout",
        "user_id — one latest-row upsert per user, time-free key"),
      ("st06", s06To, s06Rows, users.size.toLong, "NoTimeout",
        "key — one latest-order row per user, time-free key"),
      ("st09", s09To, s09Rows, users.size.toLong, "NoTimeout",
        "user_id — one running double per user, time-free key"),
      ("st11", s11To, s11Rows, 1L, "EventTimeTimeout",
        "open windows inside the watermark horizon — closed windows purged"),
      ("st13", s13To, s13Rows, users.size.toLong, "EventTimeTimeout",
        "user_id — one row per user (event buffer + session + automaton " +
          "Long); timeout ripens the buffer and flushes a quiet user's " +
          "final session"),
      ("st14", s14To, s14Rows, users.size.toLong, "EventTimeTimeout",
        "user_id — lateness event buffer + the open SCD2 version per " +
          "user; timeout only ripens the buffer (the current version " +
          "is open-ended by design)"),
      ("st16", s16To, s16Rows, users.size.toLong, "EventTimeTimeout",
        "user_id — st14's exact state shape (lateness buffer + open " +
          "version); facts emit once their SECOND ripens, the version " +
          "rides in state"),
      ("st12", s12To, s12Rows, 2L, "EventTimeTimeout",
        "event_type — entity-keyed ROWS; the VALUE is horizon-bounded by " +
          "timeout-driven closure: sealed windows leave the open map " +
          "through the trailing-3 ring even when the type goes quiet"))
    audit.foreach { case (name, timeouts, rows, bound, expectTo, why) =>
      assert(timeouts.nonEmpty && timeouts.forall(_.contains(expectTo)),
        s"$name: expected $expectTo, declared $timeouts ($why)")
      assert(rows == bound,
        s"$name: state rows $rows != bound $bound ($why)")
    }
  }

  test("st10 streaming quantiles equal the batch twin on the events table") {
    implicit val ctx = spark.sqlContext
    val batch = Streaming.st10WindowQuantiles(spark, sfDir)
    val evs = Tables(spark, sfDir, "events")
      .select(col("ts"), col("user_id"), col("event_type"), col("value"))
      .collect().map(r => EvRow(r.getTimestamp(0), r.getLong(1),
        r.getString(2), r.getDouble(3)))
    val input = MemoryStream[EvRow]
    val q = Streaming.st10Stream(input.toDF)
      .writeStream.format("memory").queryName("st10_full_sink")
      .outputMode("complete").start()
    try {
      input.addData(evs.toSeq: _*)
      q.processAllAvailable()
      val stream = spark.table("st10_full_sink")
        .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
            .as("window_start"),
          col("event_type"), col("p50"), col("p95"), col("n"))
      assert(stream.exceptAll(batch).isEmpty && batch.exceptAll(stream).isEmpty)
    } finally q.stop()
  }

  // st18 shared in-memory reference: fold ops per user in (sec, eid)
  // order through the $set/tombstone transition
  private def st18Ref(evs: Seq[(Long, Long, Long, String, Double)])
      : Map[Long, (Option[String], Option[Double], Option[Double],
        Option[Double], Long, Long)] = {
    evs.groupBy(_._1).flatMap { case (u, ops) =>
      var doc: Option[(Option[String], Option[Double], Option[Double],
        Option[Double], Long, Long)] = None
      ops.sortBy(o => (o._2, o._3)).foreach { case (_, sec, _, t, v) =>
        t match {
          case "error" => doc = None
          case "signup" =>
            val d = doc.getOrElse((None, None, None, None, 0L, 0L))
            doc = Some((Some("free"), d._2, d._3, d._4, d._5 + 1, sec))
          case "click" =>
            val d = doc.getOrElse((None, None, None, None, 0L, 0L))
            doc = Some((d._1, Some(v), d._3, d._4, d._5 + 1, sec))
          case "view" =>
            val d = doc.getOrElse((None, None, None, None, 0L, 0L))
            doc = Some((d._1, d._2, Some(v), d._4, d._5 + 1, sec))
          case _ =>
            val d = doc.getOrElse((None, None, None, None, 0L, 0L))
            doc = Some((Some("paid"), d._2, d._3, Some(v), d._5 + 1, sec))
        }
      }
      doc.map(u -> _)
    }
  }

  private def st18Events: Seq[(Long, Long, Long, String, Double)] =
    Tables(spark, sfDir, "events")
      .selectExpr("user_id", "CAST(unix_timestamp(ts) AS BIGINT)",
        "event_id", "event_type", "value")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getDouble(4))).toSeq

  test("st18: the batch oplog merge replicates an in-memory per-user " +
      "fold — per-field $set, tombstone reset, deleted users absent") {
    val got = Streaming.st18OplogMerge(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((Option(r.getString(1)),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)),
        r.getLong(5), r.getLong(6)))).toMap
    val evs = st18Events
    val want = st18Ref(evs)
    assert(got == want, s"${got.size} live docs vs ${want.size}")
    // tombstone semantics are LIVE: some user ends deleted, and some
    // live doc has ops both before and after a delete (reset observed)
    val deleted = evs.map(_._1).distinct.filterNot(want.contains)
    assert(deleted.nonEmpty, "no user ends deleted — tombstone path dead")
    val resetUser = evs.groupBy(_._1).find { case (u, ops) =>
      want.contains(u) && ops.exists(_._4 == "error")
    }
    assert(resetUser.nonEmpty, "no live doc behind a delete — reset dead")
    // the reset is REAL: that user's n_ops counts only post-delete ops
    resetUser.foreach { case (u, ops) =>
      val sorted = ops.sortBy(o => (o._2, o._3))
      val lastDel = sorted.lastIndexWhere(_._4 == "error")
      assert(got(u)._5 == (sorted.length - lastDel - 1).toLong, s"user $u")
    }
  }

  test("st18 twin: the materialized document view equals the batch " +
      "merge under RANDOM admissible arrival permutations (deletes as " +
      "tombstone rows)") {
    implicit val ctx = spark.sqlContext
    import graft.streaming.Streaming.{DocOut, OpEv}
    val evs = st18Events
    val want = st18Ref(evs)
    val rnd = new scala.util.Random(20260816L)
    val lateness = 7200L
    // st14's admissibility construction: pseudo-arrival key
    // sec + U[0, lateness/2) keeps every event ahead of the watermark
    val arrival = evs.map(e =>
      (e, e._2 + rnd.nextLong(lateness / 2))).sortBy(_._2).map(_._1)
    val input = MemoryStream[OpEv]
    val q = Streaming.st18Stream(input.toDS()).writeStream
      .format("memory").queryName("st18_sink")
      .outputMode(OutputMode.Update()).start()
    try {
      arrival.grouped(977).foreach { chunk =>
        input.addData(chunk.map(e => OpEv(e._1, e._2, e._3, e._4, e._5,
          new Timestamp(e._2 * 1000L))): _*)
        q.processAllAvailable()
      }
      input.addData(OpEv(-1L, evs.map(_._2).max + 1000000L, -1L,
        "click", 0.0, new Timestamp((evs.map(_._2).max + 1000000L) * 1000L)))
      q.processAllAvailable()
      val byUser = spark.table("st18_sink").as[DocOut].collect()
        .filter(_.user_id >= 0).groupBy(_.user_id)
      // final emission per user = max (fold_sec, fold_eid) — the
      // last-folded-op key is strictly monotone per user by watermark
      // admissibility (round 13: it replaced the stateful fold_seq
      // counter so tombstoned state can be REMOVED without breaking
      // the order key); distinctness is the monotonicity receipt
      byUser.foreach { case (u, ds) =>
        val keys = ds.map(d => (d.fold_sec, d.fold_eid))
        assert(keys.distinct.length == keys.length, s"user $u emission keys")
      }
      val got = byUser.view
        .mapValues(_.maxBy(d => (d.fold_sec, d.fold_eid))).toMap
      // every op folded exactly once: per-emission n_folded sums to
      // the ops ever sent for the user
      evs.groupBy(_._1).foreach { case (u, ops) =>
        assert(byUser(u).map(_.n_folded).sum == ops.length.toLong,
          s"user $u folds")
      }
      val gotLive = got.filter(_._2.exists).map { case (u, d) =>
        u -> ((d.plan, d.last_click, d.last_view, d.last_purchase,
          d.n_ops, d.last_sec))
      }
      assert(gotLive == want,
        s"${gotLive.size} live stream docs vs ${want.size} batch")
      // deleted users surface as tombstones, not silence
      assert(got.exists(!_._2.exists), "no tombstone emission")
      // state hygiene (ADVICE r12): after the flush event ripens every
      // op, ended-tombstoned users are REMOVED — the store holds
      // exactly the live documents plus the flush user
      val stateRows = q.lastProgress.stateOperators
        .map(_.numRowsTotal).sum
      assert(stateRows == want.size.toLong + 1L,
        s"state rows $stateRows vs ${want.size} live docs + flush user")
    } finally q.stop()
  }

  test("st19: the CDC view equals st18's live documents, and the " +
      "at-least-once duplicates are really absorbed") {
    val view = Streaming.st19OplogView(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r).toMap
    val st18 = Streaming.st18OplogMerge(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((Option(r.getString(1)),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)),
        r.getLong(5), r.getLong(6)))).toMap
    assert(view.keySet == st18.keySet,
      s"${view.size} view rows vs ${st18.size} st18 docs")
    view.foreach { case (u, r) =>
      val d = (Option(r.getString(1)),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)),
        r.getAs[Long]("n_ops"), r.getAs[Long]("last_sec"))
      assert(d == st18(u), s"user $u view/producer drift")
      assert(r.getAs[Long]("n_versions") <= r.getAs[Long]("n_log_rows"))
    }
    // duplicates are live in the fixture AND absorbed: some user has
    // more deliveries than versions, and no user double-counts
    assert(view.values.exists(r =>
      r.getAs[Long]("n_log_rows") > r.getAs[Long]("n_versions")),
      "no duplicate delivery exercised — the at-least-once layer is dead")
  }

  test("st19 twin: the stateful max-fold consumer materializes the " +
      "same view from a RANDOMLY PERMUTED duplicated log — no " +
      "watermark, no admissibility constraint at all") {
    implicit val ctx = spark.sqlContext
    import graft.streaming.Streaming.{ViewOut, ViewUpd}
    val log = Streaming.st19Log(spark, sfDir).collect().map { r =>
      val d = r.getStruct(r.fieldIndex("doc"))
      ViewUpd(r.getLong(0), r.getLong(r.fieldIndex("okey")),
        d.getBoolean(0), Option(d.getString(1)),
        if (d.isNullAt(2)) None else Some(d.getDouble(2)),
        if (d.isNullAt(3)) None else Some(d.getDouble(3)),
        if (d.isNullAt(4)) None else Some(d.getDouble(4)),
        d.getLong(5), d.getLong(6))
    }
    // ARBITRARY order — st18's twin needs watermark admissibility, the
    // view consumer must not (max-fold): full uniform shuffle
    val rnd = new scala.util.Random(20260816L)
    val arrival = rnd.shuffle(log.toSeq)
    val input = MemoryStream[ViewUpd]
    val q = Streaming.st19Stream(input.toDS()).writeStream
      .format("memory").queryName("st19_sink")
      .outputMode(OutputMode.Update()).start()
    try {
      arrival.grouped(977).foreach { chunk =>
        input.addData(chunk: _*)
        q.processAllAvailable()
      }
      val got = spark.table("st19_sink").as[ViewOut].collect()
        .groupBy(_.user_id).view.mapValues(_.maxBy(_.okey)).toMap
      val want = Streaming.st19OplogView(spark, sfDir).collect()
        .map(r => r.getLong(0) -> ((Option(r.getString(1)),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)),
          if (r.isNullAt(4)) None else Some(r.getDouble(4)),
          r.getAs[Long]("n_ops"), r.getAs[Long]("last_sec")))).toMap
      val gotLive = got.filter(_._2.ex).map { case (u, d) =>
        u -> ((d.plan, d.last_click, d.last_view, d.last_purchase,
          d.n_ops, d.last_sec))
      }
      assert(gotLive == want,
        s"${gotLive.size} live view rows vs ${want.size} batch")
      assert(got.exists(!_._2.ex), "no tombstoned user reached the view")
    } finally q.stop()
  }

  test("st20 twin: foreachBatch merges st19Stream's Update output into " +
      "the docstore sink; REPLAYING the last batch leaves the " +
      "collection byte-identical and the live rows equal the batch " +
      "view (the exactly-once receipt)") {
    implicit val ctx = spark.sqlContext
    import graft.streaming.Streaming.ViewUpd
    val log = Streaming.st19Log(spark, sfDir).collect().map { r =>
      val d = r.getStruct(r.fieldIndex("doc"))
      ViewUpd(r.getLong(0), r.getLong(r.fieldIndex("okey")),
        d.getBoolean(0), Option(d.getString(1)),
        if (d.isNullAt(2)) None else Some(d.getDouble(2)),
        if (d.isNullAt(3)) None else Some(d.getDouble(3)),
        if (d.isNullAt(4)) None else Some(d.getDouble(4)),
        d.getLong(5), d.getLong(6))
    }
    val rnd = new scala.util.Random(20260814L)
    val arrival = rnd.shuffle(log.toSeq)
    val path = java.nio.file.Files
      .createTempDirectory("st20_twin").toString + "/view"
    val batches = scala.collection.mutable.ArrayBuffer[Array[org.apache.spark.sql.Row]]()
    val input = MemoryStream[ViewUpd]
    val q = Streaming.st19Stream(input.toDS()).writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[
          graft.streaming.Streaming.ViewOut], _: Long) =>
        val rows = b.toDF.collect()
        batches += rows
        Streaming.st20Merge(
          spark.createDataFrame(spark.sparkContext.parallelize(
            rows.toSeq), b.toDF.schema), path)
        ()
      }.start()
    def readState(): Map[Long, String] =
      spark.read.format("docstore").option("path", path).load()
        .collect().map { r =>
          r.getAs[Long]("user_id") ->
            r.getValuesMap[Any](r.schema.fieldNames.sorted).toString
        }.toMap
    try {
      arrival.grouped(1499).foreach { chunk =>
        input.addData(chunk: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val state1 = readState()
    assert(batches.nonEmpty && batches.last.nonEmpty)
    // the foreachBatch failure contract: the LAST batch re-delivers
    val voutSchema = spark.emptyDataset[graft.streaming.Streaming
      .ViewOut](org.apache.spark.sql.Encoders.product).toDF.schema
    Streaming.st20Merge(
      spark.createDataFrame(spark.sparkContext.parallelize(
        batches.last.toSeq), voutSchema), path)
    val state2 = readState()
    assert(state1 == state2,
      "replaying the last batch changed the collection — the sink is " +
        "not exactly-once under foreachBatch re-delivery")
    // live rows equal the batch view on the shared columns
    val live = spark.read.format("docstore").option("path", path).load()
      .filter(col("ex"))
      .collect().map(r => r.getAs[Long]("user_id") ->
        ((Option(r.getAs[String]("plan")),
          Option(r.getAs[Any]("last_click")).map(_.toString.toDouble),
          r.getAs[Long]("n_ops"), r.getAs[Long]("last_sec")))).toMap
    val want = Streaming.st19OplogView(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((Option(r.getString(1)),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        r.getAs[Long]("n_ops"), r.getAs[Long]("last_sec")))).toMap
    assert(live == want, s"${live.size} live rows vs ${want.size} batch")
  }

  test("st19→st20 checkpoint RESTART (VERDICT r14 #2): stop the " +
      "stateful view stream mid-log after a clean query.stop(), " +
      "restart from the SAME checkpointLocation, and the docstore " +
      "read-back is identical to an uninterrupted run — " +
      "flatMapGroupsWithState's per-user state and the file source's " +
      "processed-file log both recover") {
    import graft.streaming.Streaming.ViewUpd
    val log = Streaming.st19Log(spark, sfDir).collect().map { r =>
      val d = r.getStruct(r.fieldIndex("doc"))
      ViewUpd(r.getLong(0), r.getLong(r.fieldIndex("okey")),
        d.getBoolean(0), Option(d.getString(1)),
        if (d.isNullAt(2)) None else Some(d.getDouble(2)),
        if (d.isNullAt(3)) None else Some(d.getDouble(3)),
        if (d.isNullAt(4)) None else Some(d.getDouble(4)),
        d.getLong(5), d.getLong(6))
    }
    val rnd = new scala.util.Random(20260817L)
    val arrival = rnd.shuffle(log.toSeq)
    // the log lands as 6 single-file parquet arrival waves — the FILE
    // source is the replayable source the checkpoint contract needs
    // (a MemoryStream's data dies with the query, so it cannot prove
    // restart)
    val waves = arrival.grouped(math.max(1, arrival.size / 6 + 1)).toSeq
    val root = java.nio.file.Files.createTempDirectory("st20_restart")
      .toString
    val schema = org.apache.spark.sql.Encoders.product[ViewUpd].schema
    def land(src: String, ws: Seq[Seq[ViewUpd]]): Unit = ws.foreach { w =>
      spark.createDataset(w).coalesce(1).write.mode("append").parquet(src)
    }
    def drain(src: String, ckpt: String, sink: String): Unit = {
      val q = Streaming.st19Stream(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(src).as[ViewUpd])
        .writeStream.outputMode(OutputMode.Update())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[
            graft.streaming.Streaming.ViewOut], _: Long) =>
          Streaming.st20Merge(b.toDF, sink); ()
        }.start()
      try q.processAllAvailable() finally q.stop()
    }
    def readState(sink: String): Map[Long, String] =
      spark.read.format("docstore").option("path", sink).load()
        .collect().map { r =>
          r.getAs[Long]("user_id") ->
            r.getValuesMap[Any](r.schema.fieldNames.sorted).toString
        }.toMap
    // interrupted run: 3 waves, clean stop, 3 more waves, restart from
    // the same checkpoint dir into the same sink collection
    val (srcA, ckA, snA) = (s"$root/srcA", s"$root/ckA", s"$root/viewA")
    land(srcA, waves.take(3))
    drain(srcA, ckA, snA)
    val mid = readState(snA)
    assert(mid.nonEmpty, "no rows merged before the stop")
    land(srcA, waves.drop(3))
    drain(srcA, ckA, snA) // RESTART
    // uninterrupted control: same waves, one run, fresh checkpoint/sink
    val (srcB, ckB, snB) = (s"$root/srcB", s"$root/ckB", s"$root/viewB")
    land(srcB, waves)
    drain(srcB, ckB, snB)
    val (a, b) = (readState(snA), readState(snB))
    assert(mid != a,
      "the post-restart run processed no new waves — restart unproven")
    assert(a == b, s"restarted read-back (${a.size} users) differs from " +
      s"uninterrupted (${b.size}) — checkpoint recovery lost state")
  }

  test("st19 okey guard: the packing is an order for in-range components " +
      "and raises LOUDLY past 2^31 — a large event_id must never bleed " +
      "into the sec component (ADVICE r13)") {
    val shift = 2147483648L
    // in-range: packing preserves (sec, event_id) lexicographic order
    val ok = Seq((1L, shift - 1), (2L, 0L), (2L, 7L))
      .toDF("sec", "eid")
      .select((Streaming.st19Guard(col("sec"), 4294967296L, "sec") * shift +
        Streaming.st19Guard(col("eid"), shift, "event_id")).as("okey"))
      .collect().map(_.getLong(0)).toSeq
    assert(ok == ok.sorted && ok.distinct == ok,
      s"packed keys not strictly ordered: $ok")
    // out-of-range event_id: loud failure naming the component, never a
    // silently corrupted key (the ScaleUp x27+ directory of ADVICE r13)
    val e = intercept[Exception] {
      Seq((1L, shift)).toDF("sec", "eid")
        .select(Streaming.st19Guard(col("eid"), shift, "event_id"))
        .collect()
    }
    assert(e.getMessage.contains("event_id outside"),
      s"guard did not name the component: ${e.getMessage}")
  }
}
