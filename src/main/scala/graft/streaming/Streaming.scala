package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType, StringType}

import graft.Tables

/** Structured-Streaming surface (SURVEY.md §2.4).
  *
  * The reference is batch-only (DuckDB scans a Mongo snapshot); a
  * Spark-native engine gets continuous processing from the same logical
  * plans, so each operator here is ONE transform applied to either a
  * batch DataFrame (what Verify/oracle runs) or a readStream DataFrame
  * (exercised with MemoryStream in the specs). That batch/stream twin
  * discipline is the point: at 100 TB the backfill and the live pipeline
  * must be the same code.
  *
  * Scale: windowed aggregation is a streaming-state hash agg keyed by
  * (window, event_type) — state size ∝ active windows, bounded by the
  * watermark; sessionization state is per-user and emitted/cleared on
  * gap timeout; dedup state is bounded by the watermark horizon.
  */
object Streaming {

  val SessionGapSeconds = 1800L

  // ---------------------------------------------------------------- st01
  /** Tumbling 1-hour window count/sum — batch and stream share this. */
  def windowedAggRaw(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))

  /** Batch twin with deterministic, oracle-comparable output. */
  def st01WindowedAgg(spark: SparkSession, dir: String): DataFrame =
    windowedAggRaw(Tables(spark, dir, "events"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("window_start"), col("event_type"))

  /** Streaming twin: same transform + watermark, for the spec. */
  def st01Stream(events: DataFrame): DataFrame =
    windowedAggRaw(events.withWatermark("ts", "2 hours"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  val st01Sql: String =
    """SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS window_start,
      |  event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- st02
  /** Sessionization, batch twin: a session ends after a 30-min silence
    * per user. Declarative lag + running-sum session ids — two shuffles
    * on user_id (window + groupBy reuse the same hash partitioning, so
    * Catalyst plans a single exchange). */
  def st02Sessionize(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        unix_timestamp(col("ts")).as("sec"))
    // canonical event order = (sec, event_id): the session family's
    // streaming twins fold on whole-second event time + id, so the
    // batch twins DECLARE the same resolution — ordering by the raw
    // microsecond ts here would silently diverge from the stream on
    // same-second events whose id order disagrees (round-9 review)
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("sec"), col("event_id"))
    val flagged = ev.withColumn("new_session",
      when(col("sec") - lag(col("sec"), 1).over(byUser) > SessionGapSeconds, 1L)
        .otherwise(lit(0L)))
      .withColumn("session_seq",
        sum(col("new_session")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
    flagged
      .groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("n_events"),
        min(col("sec")).as("start_sec"),
        (max(col("sec")) - min(col("sec"))).as("duration_sec"))
      .select(col("user_id"), col("session_seq"), col("n_events"),
        col("start_sec"), col("duration_sec"))
      .orderBy(col("user_id"), col("session_seq"))
  }

  val st02Sql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, ts,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS sec,
      |    CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
      |           - lag(CAST(floor(epoch(ts)) AS BIGINT))
      |               OVER (PARTITION BY user_id
      |                     ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id)
      |           > 1800 THEN 1 ELSE 0 END AS new_session
      |  FROM events),
      |sess AS (
      |  SELECT user_id, sec,
      |    CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY sec, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
      |  FROM flagged)
      |SELECT user_id, session_seq, COUNT(*) AS n_events,
      |  MIN(sec) AS start_sec, MAX(sec) - MIN(sec) AS duration_sec
      |FROM sess GROUP BY user_id, session_seq
      |ORDER BY user_id, session_seq""".stripMargin

  /** Streaming twin: per-user custom state via flatMapGroupsWithState —
    * the KeyValueGroupedDataset path, with TRUE event-time semantics
    * under any arrival order (round-9 review fix: the earlier twin
    * folded admitted-late cross-batch events into whatever session was
    * open, which both mis-merged sessions and regressed their bounds).
    *
    * Design: admitted events BUFFER in state until the watermark proves
    * them final (an event is foldable once `sec < watermark` — every
    * later arrival must carry `ts ≥ watermark`, so nothing can ever
    * precede it). The ripe prefix folds through the gap automaton in
    * (sec, event_id) order — exactly the batch twin's order — closing
    * sessions by gap as it goes; the open session additionally flushes
    * the moment the watermark passes its gap horizon (`wm > last + gap`:
    * no pending or future event can extend it — VERDICT r8 #3's quiet-
    * user case). `EventTimeTimeout` is armed at the earlier of (earliest
    * pending event + 1) and (gap horizon + 1), so both ripening and
    * flushing happen even if the user never sends again.
    *
    * State per user: the pending buffer (bounded by the lateness
    * horizon — the standard price of exact out-of-order folding) + one
    * open session + a seq cursor. Entity-keyed rows, audited.
    */
  final case class Ev(user_id: Long, sec: Long, event_id: Long)
  final case class EvW(user_id: Long, sec: Long, event_id: Long,
      ts: java.sql.Timestamp)
  final case class EvLite(sec: Long, event_id: Long)
  final case class SessState(startSec: Long, lastSec: Long, n: Long, seq: Long)
  final case class SessBuf(pend: List[EvLite], startSec: Long, lastSec: Long,
      n: Long, seq: Long, live: Boolean)
  final case class SessOut(user_id: Long, session_seq: Long, n_events: Long,
      start_sec: Long, duration_sec: Long)

  /** The watermark-buffered session automaton shared by st02/st13 (the
    * round-9 review asked for one definition): partition the buffer into
    * the provably-final ripe prefix (`sec < wm` — every later arrival
    * carries ts ≥ wm) and the still-pending rest, fold ripe events in
    * (sec, event_id) order through the gap automaton, close-by-gap as
    * folding, then flush the open session once the watermark passes its
    * gap horizon. Returns (pending, open, seq cursor, emissions in
    * chronological order). Pure function — the twins differ only in the
    * session payload they thread through `extend`/`start`/`emit`.
    */
  private def foldSessions[E, S, O](wm: Long, pend0: List[E],
      open0: Option[S], cursor0: Long,
      sec: E => Long, eid: E => Long,
      lastSec: S => Long, seqOf: S => Long,
      extend: (S, E) => S, start: (E, Long) => S, emit: S => O)
      : (List[E], Option[S], Long, List[O]) = {
    val (ripe, pend) = ripen(wm, pend0, sec, eid)
    var open = open0
    var cursor = cursor0
    var closed = List.empty[O]
    def close(s: S): Unit = { closed ::= emit(s); cursor = seqOf(s) + 1 }
    // ripe events can never precede the restored session's end: a folded
    // event had sec < wm_then, and everything admitted later carries
    // sec ≥ wm_then — the gap test is order-safe
    ripe.foreach { e =>
      open match {
        case Some(s) if sec(e) - lastSec(s) <= SessionGapSeconds =>
          open = Some(extend(s, e))
        case Some(s) => close(s); open = Some(start(e, cursor))
        case None => open = Some(start(e, cursor))
      }
    }
    // watermark closure: extending needs sec ≤ last + gap, but every
    // pending/future event has sec ≥ wm
    open.filter(s => wm > lastSec(s) + SessionGapSeconds).foreach { s =>
      close(s); open = None
    }
    (pend, open, cursor, closed.reverse)
  }

  /** The ripening step every watermark-buffered twin shares: split the
    * buffer into the provably-final prefix — already SORTED in the
    * canonical (sec, event_id) fold order — and the still-pending rest.
    */
  private def ripen[E](wm: Long, pend0: List[E], sec: E => Long,
      eid: E => Long): (List[E], List[E]) = {
    val (ripe, pend) = pend0.partition(e => sec(e) < wm)
    (ripe.sortBy(e => (sec(e), eid(e))), pend)
  }

  /** Arm the wake-up at the earlier of (earliest pending event + 1) and
    * (open session's gap horizon + 1) — both strictly above the current
    * watermark (pending sec ≥ wm; a passed horizon was already flushed),
    * so the timestamp is always legal. */
  private def armSessionWakeup(state: GroupState[_], pendSecs: Seq[Long],
      openLast: Option[Long]): Unit =
    (pendSecs.map(_ + 1L) ++
      openLast.map(_ + SessionGapSeconds + 1L)).minOption
      .foreach(t => state.setTimeoutTimestamp(t * 1000L))

  def st02Stream(events: Dataset[Ev],
      latenessSec: Long = 7200L): Dataset[SessOut] = {
    import events.sparkSession.implicits._
    events.map(e => EvW(e.user_id, e.sec, e.event_id,
        new java.sql.Timestamp(e.sec * 1000L)))
      .withWatermark("ts", s"$latenessSec seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessBuf, SessOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, evs: Iterator[EvW], state: GroupState[SessBuf]) =>
          val wm = state.getCurrentWatermarkMs() / 1000L
          val st0 = state.getOption
            .getOrElse(SessBuf(Nil, 0L, 0L, 0L, 0L, live = false))
          val (pend, open, cursor, out) =
            foldSessions[EvLite, SessState, SessOut](
              wm, st0.pend ++ evs.map(e => EvLite(e.sec, e.event_id)),
              if (st0.live)
                Some(SessState(st0.startSec, st0.lastSec, st0.n, st0.seq))
              else None,
              if (st0.live) st0.seq + 1L else st0.seq,
              _.sec, _.event_id, _.lastSec, _.seq,
              (s, e) => s.copy(lastSec = e.sec, n = s.n + 1),
              (e, c) => SessState(e.sec, e.sec, 1, c),
              s => SessOut(user, s.seq, s.n, s.startSec,
                s.lastSec - s.startSec))
          state.update(open match {
            case Some(s) =>
              SessBuf(pend, s.startSec, s.lastSec, s.n, s.seq, live = true)
            case None => SessBuf(pend, 0L, 0L, 0L, cursor, live = false)
          })
          armSessionWakeup(state, pend.map(_.sec), open.map(_.lastSec))
          out.iterator
      }
  }

  // ---------------------------------------------------------------- st03
  /** Dedup, batch twin: first event per (user_id, event_type) — the
    * batch semantics of dropDuplicatesWithinWatermark. */
  def st03StreamDedup(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    Tables(spark, dir, "events")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_timestamp(col("ts")).as("first_sec"))
      .orderBy(col("user_id"), col("event_type"))
  }

  val st03Sql: String =
    """SELECT user_id, event_type, event_id,
      |  CAST(floor(epoch(ts)) AS BIGINT) AS first_sec
      |FROM events
      |QUALIFY row_number() OVER (PARTITION BY user_id, event_type
      |  ORDER BY ts, event_id) = 1
      |ORDER BY user_id, event_type""".stripMargin

  /** Streaming twin for the spec: watermarked stream dedup — state
    * bounded by the watermark horizon, the scale-safe streaming dedup. */
  def st03Stream(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type")

  // ---------------------------------------------------------------- st04
  /** Stream-stream interval join, batch twin: purchases within 30 min
    * after a click by the same user. Equi-key (user_id) + time-range
    * condition — shuffles on the key, range applied post-join; in
    * streaming the same condition bounds both sides' state by the
    * watermark + interval. */
  def st04IntervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        unix_timestamp(col("ts")).as("click_sec"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
        unix_timestamp(col("ts")).as("purchase_sec"),
        round(col("value"), 4).as("value"))
    clicks.join(purchases,
        col("user_id") === col("p_user_id") &&
          col("purchase_sec") >= col("click_sec") &&
          col("purchase_sec") <= col("click_sec") + 1800L)
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        (col("purchase_sec") - col("click_sec")).as("delay_sec"), col("value"))
      .orderBy(col("user_id"), col("click_id"), col("purchase_id"))
  }

  val st04Sql: String =
    """SELECT c.user_id, c.click_id, p.purchase_id,
      |  p.purchase_sec - c.click_sec AS delay_sec, p.value
      |FROM (SELECT user_id, event_id AS click_id,
      |        CAST(floor(epoch(ts)) AS BIGINT) AS click_sec
      |      FROM events WHERE event_type = 'click') c
      |JOIN (SELECT user_id, event_id AS purchase_id,
      |        CAST(floor(epoch(ts)) AS BIGINT) AS purchase_sec,
      |        ROUND(value, 4) AS value
      |      FROM events WHERE event_type = 'purchase') p
      |  ON c.user_id = p.user_id
      | AND p.purchase_sec >= c.click_sec
      | AND p.purchase_sec <= c.click_sec + 1800
      |ORDER BY c.user_id, c.click_id, p.purchase_id""".stripMargin

  /** Streaming twin: watermarked stream-stream inner join with a time
    * bound — state on each side is dropped once the watermark passes the
    * interval (bounded state, the only join shape that scales on infinite
    * streams). */
  def st04Stream(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.withWatermark("click_ts", "1 hour")
    val p = purchases.withWatermark("purchase_ts", "1 hour")
    c.join(p,
      expr("""user_id = p_user_id AND
              purchase_ts >= click_ts AND
              purchase_ts <= click_ts + interval 30 minutes"""))
  }

  // ---------------------------------------------------------------- st08
  /** Stream-stream LEFT OUTER interval join, batch twin: every click,
    * converted or ABANDONED — the funnel analysis st04's inner join
    * can't express. Null-extended purchase columns mark abandonment.
    * Scale: same single equi-key shuffle as st04; in streaming the
    * outer side's null rows emit only once the watermark proves no
    * match can still arrive (bounded state + correct abandonment).
    */
  def st08AbandonedClicks(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        unix_timestamp(col("ts")).as("click_sec"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
        unix_timestamp(col("ts")).as("purchase_sec"))
    clicks.join(purchases,
        col("user_id") === col("p_user_id") &&
          col("purchase_sec") >= col("click_sec") &&
          col("purchase_sec") <= col("click_sec") + 1800L,
        "left_outer")
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        (col("purchase_sec") - col("click_sec")).as("delay_sec"),
        col("purchase_id").isNotNull.as("converted"))
      .orderBy(col("user_id"), col("click_id"),
        col("purchase_id").asc_nulls_first)
  }

  val st08Sql: String =
    """SELECT c.user_id, c.click_id, p.purchase_id,
      |  p.purchase_sec - c.click_sec AS delay_sec,
      |  p.purchase_id IS NOT NULL AS converted
      |FROM (SELECT user_id, event_id AS click_id,
      |        CAST(floor(epoch(ts)) AS BIGINT) AS click_sec
      |      FROM events WHERE event_type = 'click') c
      |LEFT JOIN (SELECT user_id, event_id AS purchase_id,
      |        CAST(floor(epoch(ts)) AS BIGINT) AS purchase_sec
      |      FROM events WHERE event_type = 'purchase') p
      |  ON c.user_id = p.user_id
      | AND p.purchase_sec >= c.click_sec
      | AND p.purchase_sec <= c.click_sec + 1800
      |ORDER BY c.user_id, c.click_id, p.purchase_id NULLS FIRST""".stripMargin

  /** Streaming twin: watermarked left-outer stream-stream join — null
    * rows for unmatched clicks emit when the watermark passes the
    * interval end (Spark evicts the click's state knowing no purchase
    * can still match). */
  def st08Stream(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.withWatermark("click_ts", "1 hour")
    val p = purchases.withWatermark("purchase_ts", "1 hour")
    c.join(p,
      expr("""user_id = p_user_id AND
              purchase_ts >= click_ts AND
              purchase_ts <= click_ts + interval 30 minutes"""),
      "leftOuter")
  }

  // ---------------------------------------------------------------- st05
  /** Latest-state materialization, batch twin: the current value per key
    * — what a Mongo change-stream consumer maintains (upsert on _id).
    * Argmax by (ts, event_id); at scale one shuffle on the key, state
    * size ∝ |keys| not |events|.
    */
  def st05LatestState(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables(spark, dir, "events")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id").as("last_event_id"),
        col("event_type").as("last_event_type"),
        unix_timestamp(col("ts")).as("last_sec"),
        round(col("value"), 4).as("last_value"))
      .orderBy(col("user_id"))
  }

  val st05Sql: String =
    """SELECT user_id, event_id AS last_event_id,
      |  event_type AS last_event_type,
      |  CAST(floor(epoch(ts)) AS BIGINT) AS last_sec,
      |  ROUND(value, 4) AS last_value
      |FROM events
      |QUALIFY row_number() OVER (PARTITION BY user_id
      |  ORDER BY ts DESC, event_id DESC) = 1
      |ORDER BY user_id""".stripMargin

  /** Streaming twin: per-key upsert state via mapGroupsWithState (Update
    * mode) — each micro-batch emits the new current row for keys it
    * touched, exactly a change-stream materialized view. */
  final case class UpEv(user_id: Long, sec: Long, event_id: Long,
      event_type: String, value: Double)
  final case class LatestOut(user_id: Long, last_event_id: Long,
      last_event_type: String, last_sec: Long, last_value: Double)

  def st05Stream(events: Dataset[UpEv]): Dataset[LatestOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[LatestOut, LatestOut](GroupStateTimeout.NoTimeout()) {
        (user: Long, evs: Iterator[UpEv], state: GroupState[LatestOut]) =>
          val latest = (state.getOption.iterator ++ evs.map(e =>
            LatestOut(user, e.event_id, e.event_type, e.sec, e.value)))
            .maxBy(o => (o.last_sec, o.last_event_id))
          state.update(latest)
          latest
      }
  }

  // ---------------------------------------------------------------- st06
  /** As-of (point-in-time) join: each event is enriched with the user's
    * most recent order at or before the event time — the feature-store
    * lookup that keeps training pipelines leakage-free.
    *
    * Spark has no ASOF JOIN operator, so this is the single-shuffle
    * union trick: tag both sides, union, ONE shuffle on the key, and a
    * running `last(_, ignoreNulls)` window carries the latest order
    * forward onto each event row. A naive range join (key equality +
    * time inequality) would multiply every event by every earlier order
    * before aggregating — O(events × orders/user) shuffle volume; the
    * union form moves each row exactly once, and in streaming the same
    * shape is st05's per-key latest-state joined to the event stream.
    *
    * Orders are first collapsed to one row per (custkey, orderdate) —
    * the as-of tie (two orders at the same timestamp) would otherwise be
    * nondeterministic in ANY engine; max_by(orderkey) makes the pick
    * explicit and cross-engine stable.
    */
  def st06AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ordType = "struct<order_key:bigint,order_date:timestamp,order_price:double>"
    val ords = Tables(spark, dir, "orders")
      .groupBy(col("o_custkey").as("key"), col("o_orderdate").as("t"))
      .agg(max(col("o_orderkey")).as("order_key"),
        round(max_by(col("o_totalprice"), col("o_orderkey")), 4)
          .as("order_price"))
      .select(col("key"), col("t"), lit(0).as("tag"),
        lit(null).cast("bigint").as("event_id"),
        struct(col("order_key"), col("t").as("order_date"),
          col("order_price")).as("ord"))
    val evs = Tables(spark, dir, "events")
      .select(col("user_id").as("key"), col("ts").as("t"), lit(1).as("tag"),
        col("event_id"), lit(null).cast(ordType).as("ord"))
    // orders sort before events at the same instant (tag 0 < 1) — the
    // join condition is `order_date <= ts`, inclusive
    val w = Window.partitionBy(col("key")).orderBy(col("t"), col("tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ords.unionByName(evs)
      .withColumn("asof", last(col("ord"), ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
      .select(col("event_id"), col("key").as("user_id"),
        col("asof.order_key").as("order_key"),
        col("asof.order_date").as("order_date"),
        col("asof.order_price").as("order_price"))
      .orderBy(col("event_id"))
  }

  /** Streaming twin: one tagged stream (orders tag 0, events tag 1)
    * keyed by user; state = the latest order seen so far, each event
    * emits its enrichment — the online half of the feature-store lookup
    * (the batch form above is the leakage-free offline backfill). Within
    * a micro-batch rows are processed in event-time order; an order
    * arriving in a LATER batch than an event it precedes follows
    * at-processing-time semantics, the standard online-serving contract.
    */
  final case class AsofIn(key: Long, sec: Long, tag: Int, event_id: Long,
      order_key: Long, order_price: Double)
  final case class AsofState(sec: Long, orderKey: Long, price: Double)
  final case class AsofOut(event_id: Long, user_id: Long,
      order_key: Option[Long], order_sec: Option[Long],
      order_price: Option[Double])

  def st06Stream(input: Dataset[AsofIn]): Dataset[AsofOut] = {
    import input.sparkSession.implicits._
    input.groupByKey(_.key)
      .flatMapGroupsWithState[List[AsofState], AsofOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[AsofIn], state: GroupState[List[AsofState]]) =>
          var latest = state.getOption.flatMap(_.headOption)
          val out = Vector.newBuilder[AsofOut]
          rows.toVector.sortBy(r => (r.sec, r.tag, r.event_id)).foreach { r =>
            if (r.tag == 0) {
              if (latest.forall(s =>
                  s.sec < r.sec || (s.sec == r.sec && s.orderKey < r.order_key)))
                latest = Some(AsofState(r.sec, r.order_key, r.order_price))
            } else {
              out += AsofOut(r.event_id, key, latest.map(_.orderKey),
                latest.map(_.sec), latest.map(_.price))
            }
          }
          state.update(latest.toList)
          out.result().iterator
      }
  }

  /** Oracle: DuckDB's native ASOF LEFT JOIN over the same deduplicated
    * order snapshots. */
  val st06Sql: String =
    """WITH ords AS (
      |  SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS order_key,
      |    ROUND(arg_max(o_totalprice, o_orderkey), 4) AS order_price
      |  FROM orders GROUP BY 1, 2)
      |SELECT e.event_id, e.user_id, d.order_key,
      |  d.o_orderdate AS order_date, d.order_price
      |FROM events e ASOF LEFT JOIN ords d
      |  ON e.user_id = d.o_custkey AND d.o_orderdate <= e.ts
      |ORDER BY e.event_id""".stripMargin

  // ---------------------------------------------------------------- st07
  /** Stream-static enrichment: every micro-batch of the event stream
    * joins a STATIC dimension (the standard lookup-enrichment pattern —
    * no watermark or state needed; the dim is broadcast to every batch).
    * Batch twin for the oracle; the streaming twin in the spec is the
    * same transform on a readStream frame.
    *
    * Scale: dim is bounded (nation) → broadcast; the stream side never
    * shuffles before the enrichment, so the join is map-side in every
    * micro-batch; the windowed roll-up after it is the only stateful op.
    */
  private def st07Raw(events: DataFrame, nation: DataFrame): DataFrame =
    events
      .withColumn("nation_key", col("user_id") % 25)
      .join(broadcast(nation.select(col("n_nationkey").cast("long").as("nation_key"),
        col("n_name"))), Seq("nation_key"))
      .groupBy(window(col("ts"), "6 hours").as("w"), col("n_name"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))

  def st07StreamEnrich(spark: SparkSession, dir: String): DataFrame =
    st07Raw(Tables(spark, dir, "events"), Tables(spark, dir, "nation"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("n_name"), col("n"), col("sum_value"))
      .orderBy(col("window_start"), col("n_name"))

  /** Streaming twin: identical transform over a readStream frame. */
  def st07Stream(events: DataFrame, nation: DataFrame): DataFrame =
    st07Raw(events.withWatermark("ts", "2 hours"), nation)
      .select(col("w.start").as("window_start"), col("n_name"),
        col("n"), col("sum_value"))

  val st07Sql: String =
    """SELECT strftime(time_bucket(INTERVAL 6 HOUR, ts), '%Y-%m-%d %H:%M:%S')
      |    AS window_start,
      |  n_name, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
      |FROM events JOIN nation ON user_id % 25 = n_nationkey
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- st09
  /** Per-key exponential moving average over event time — the classic
    * online feature (reference has no streaming at all; this pairs the
    * `$expMovingAvg` window operator with its continuous twin).
    *
    * Batch twin: the blocked-scan ladder (`Ladders.expMovingAvg`) — no
    * sequential scan operator, bounded windows only; alpha = 0.5 makes
    * each ~49-row block boundary cross the banded unroll path, so the
    * oracle gates the ladder's cross-block recurrence too.
    *
    * The gate compares each user's FINAL ema (the full 49–86-step chain,
    * so every block boundary still matters) at 4 decimals: the ladder
    * reorders float additions vs the textbook recurrence, so agreement
    * is ~1e-11 absolute, far inside 4dp but NOT bit-for-bit — per-row
    * 6dp gating measurably straddles a rounding boundary once in ~10k
    * rows (seen at sf0.01). Per-row values stay spec-covered with a
    * tolerance in MongoPipelineSpec.
    */
  def st09StreamEma(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Ladders.expMovingAvg(
        Tables(spark, dir, "events"),
        Seq(col("user_id")), Seq(col("ts").asc), col("value"), 0.5, "__ema")
      .groupBy(col("user_id"))
      .agg(round(max_by(col("__ema"), col("ts")), 4).as("ema"),
        count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))

  final case class EmaEv(user_id: Long, sec: Long, event_id: Long, value: Double)
  final case class EmaOut(user_id: Long, event_id: Long, ema: Double)

  /** Streaming twin: per-user running state via flatMapGroupsWithState;
    * state is ONE double per key (bounded forever), each micro-batch
    * folds its events in event-time order from the carried value. */
  def st09Stream(events: Dataset[EmaEv], alpha: Double = 0.5): Dataset[EmaOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[Double, EmaOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, evs: Iterator[EmaEv], state: GroupState[Double]) =>
          var acc = state.getOption
          val out = evs.toVector.sortBy(e => (e.sec, e.event_id)).map { e =>
            val v = acc.fold(e.value)(p => alpha * e.value + (1 - alpha) * p)
            acc = Some(v)
            EmaOut(user, e.event_id, v)
          }
          acc.foreach(state.update)
          out.iterator
      }
  }

  val st09Sql: String =
    """SELECT user_id,
      |  ROUND(list_reduce(list(value ORDER BY ts),
      |                    (a, b) -> 0.5*b + 0.5*a), 4) AS ema,
      |  COUNT(*) AS n_events
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- st10
  /** Per-(hour window, event_type) EXACT value quantiles (p50/p95) — the
    * latency/quality-distribution monitor every streaming pipeline runs.
    * Batch and stream share one aggregation: `percentile` is a
    * TypedImperativeAggregate, so the same logical plan runs as a
    * streaming stateful agg, its buffer holding the open window's values
    * (state ∝ watermark horizon × per-window volume — the price of
    * EXACTNESS; at 100 TB swap `percentile` for `approx_percentile` to
    * get sketch-sized state in the identical plan shape, the documented
    * trade). Both engines interpolate the same R-7 definition
    * (index p·(n−1), linear between neighbors), so 4dp rounding gives
    * cross-engine equality.
    */
  def windowQuantilesRaw(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(round(expr("percentile(value, 0.5D)"), 4).as("p50"),
        round(expr("percentile(value, 0.95D)"), 4).as("p95"),
        count(lit(1)).as("n"))

  /** Batch twin with deterministic, oracle-comparable output. */
  def st10WindowQuantiles(spark: SparkSession, dir: String): DataFrame =
    windowQuantilesRaw(Tables(spark, dir, "events"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"),
        col("event_type"), col("p50"), col("p95"), col("n"))
      .orderBy(col("window_start"), col("event_type"))

  /** Streaming twin: same transform + watermark, for the spec. */
  def st10Stream(events: DataFrame): DataFrame =
    windowQuantilesRaw(events.withWatermark("ts", "2 hours"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("p50"), col("p95"), col("n"))

  val st10Sql: String =
    """SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS window_start,
      |  event_type,
      |  ROUND(quantile_cont(value, 0.5), 4) AS p50,
      |  ROUND(quantile_cont(value, 0.95), 4) AS p95,
      |  COUNT(*) AS n
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- st11
  /** Per-window heavy hitters: the top-3 event types of every hour, the
    * trending/alerting staple. Batch twin: windowed counts + a rank over
    * the per-window type counts — that rank's partitions are (windows ×
    * types) rows, BOUNDED by the type cardinality, never data-sized.
    *
    * Streaming twin: the space-saving sketch (Metwally et al. 2005) in
    * `flatMapGroupsWithState`, state = one bounded counter map per open
    * window (capacity is the knob; with capacity ≥ distinct keys the
    * sketch degenerates to exact counting, which the spec exploits to
    * equal the batch twin; at real cardinalities it bounds state at
    * O(capacity) per window — the actual production trade).
    */
  def st11HeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables(spark, dir, "events")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val rk = Window.partitionBy(col("w"))
      .orderBy(col("n").desc, col("event_type"))
    counts.withColumn("rank", row_number().over(rk).cast("long"))
      .filter(col("rank") <= 3)
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"),
        col("event_type"), col("n"), col("rank"))
      .orderBy(col("window_start"), col("rank"))
  }

  final case class HhEv(ts: java.sql.Timestamp, event_type: String)
  final case class HhOut(window_start: Long, event_type: String, n: Long,
      rank: Long)

  /** Streaming twin: per-window space-saving counters; each batch folds
    * its events into the bounded map and emits the current top-3.
    *
    * State LIFECYCLE: the state key is the hour window — a TIME-indexed
    * key, so unlike the entity-keyed twins (st02/st05/st06/st09, bounded
    * by user/key cardinality) the number of keys grows with stream
    * lifetime. Each window therefore arms `EventTimeTimeout` at
    * window_end + allowed lateness; once the watermark passes that point
    * the window can receive no more rows (the watermark pre-filter drops
    * them), its state is purged, and total store size stays bounded at
    * O(capacity × open windows within the watermark horizon) — the same
    * discipline the windowed-agg twins get from `withWatermark` for free.
    */
  def st11Stream(events: Dataset[HhEv], capacity: Int = 16,
      latenessSec: Long = 7200L): Dataset[HhOut] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", s"$latenessSec seconds")
      .groupByKey(e => Math.floorDiv(e.ts.getTime, 3600000L) * 3600L)
      .flatMapGroupsWithState[Map[String, Long], HhOut](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout()) {
        (w: Long, evs: Iterator[HhEv], state: GroupState[Map[String, Long]]) =>
          if (state.hasTimedOut) {
            // watermark > window_end + lateness: no row for this window
            // can ever arrive again — drop its counters from the store.
            // Update-mode consumers already hold the final top-3 from the
            // last data batch, so purge emits nothing.
            state.remove()
            Iterator.empty
          } else {
            var m = state.getOption.getOrElse(Map.empty[String, Long])
            evs.foreach { e =>
              m.get(e.event_type) match {
                case Some(c) => m = m.updated(e.event_type, c + 1)
                case None if m.size < capacity =>
                  m = m.updated(e.event_type, 1L)
                case None => // space-saving: evict the min, inherit its count
                  val (mk, mc) = m.minBy { case (k, c) => (c, k) }
                  m = (m - mk).updated(e.event_type, mc + 1)
              }
            }
            state.update(m)
            // Any event that survived the watermark filter has ts ≥
            // watermark and ts < window_end, so window_end + lateness >
            // watermark always holds — the timestamp is valid to arm.
            state.setTimeoutTimestamp((w + 3600L + latenessSec) * 1000L)
            m.toSeq.sortBy { case (k, c) => (-c, k) }.take(3).zipWithIndex
              .map { case ((k, c), i) => HhOut(w, k, c, i + 1L) }.iterator
          }
      }
  }

  val st11Sql: String =
    """SELECT window_start, event_type, n, rank FROM (
      |  SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts),
      |      '%Y-%m-%d %H:%M:%S') AS window_start,
      |    event_type, COUNT(*) AS n,
      |    row_number() OVER (
      |      PARTITION BY time_bucket(INTERVAL 1 HOUR, ts)
      |      ORDER BY COUNT(*) DESC, event_type) AS rank
      |  FROM events GROUP BY time_bucket(INTERVAL 1 HOUR, ts), event_type)
      |WHERE rank <= 3 ORDER BY window_start, rank""".stripMargin

  // ---------------------------------------------------------------- st12
  /** Trailing-window anomaly flags — the volume-spike monitor: each
    * (hour, event_type) count is z-scored against that type's 3
    * PRECEDING hourly counts and flagged when z > 2 (classic rate
    * alerting). The z-test runs in EXACT INTEGER algebra:
    * n > mean + 2σ over trailing counts x₁..x₃ is equivalent to
    * 3n − Σx > 0 ∧ (3n − Σx)² > 4·(3Σx² − (Σx)²) — both engines
    * compare the same BIGINTs, so the flag can never flip on a
    * stddev ulp (Spark's Welford vs DuckDB's accumulation WOULD
    * diverge in low bits near the boundary). The reported z itself is
    * display-only: a division and a correctly-rounded IEEE sqrt of
    * integers, identical in both engines, rounded 4dp; NULL when the
    * trailing window is flat (σ = 0).
    *
    * Scale: one windowed-count shuffle (streaming-state shaped), then a
    * window over the per-type COUNT frame — partitions are (type ×
    * hours) AGGREGATE rows (~9k/year per type), never raw events; row
    * frame, so calendar gaps mean "previous 3 observed windows", the
    * deterministic reading in both engines.
    */
  def st12AnomalyWindows(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables(spark, dir, "events")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("ws"), col("event_type"), col("n"))
    val f = Window.partitionBy(col("event_type")).orderBy(col("ws"))
      .rowsBetween(-3, -1)
    val scored = counts
      .withColumn("t_cnt", count(lit(1)).over(f))
      .withColumn("t_sum", sum(col("n")).over(f))
      .withColumn("t_sum2", sum(col("n") * col("n")).over(f))
      .filter(col("t_cnt") === 3)
    val dev = col("n") * 3 - col("t_sum")
    val varTerm = col("t_sum2") * 3 - col("t_sum") * col("t_sum")
    scored
      .withColumn("is_anomaly", dev > 0 && dev * dev > varTerm * 4)
      .withColumn("z", when(varTerm > 0,
        round(dev.cast("double") / sqrt(varTerm.cast("double")), 4)))
      .select(date_format(col("ws"), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"),
        col("event_type"), col("n"), col("t_sum"), col("z"),
        col("is_anomaly"))
      .orderBy(col("window_start"), col("event_type"))
  }

  val st12Sql: String =
    """WITH counts AS (
      |  SELECT time_bucket(INTERVAL 1 HOUR, ts) AS ws, event_type,
      |    COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |trail AS (
      |  SELECT ws, event_type, n,
      |    COUNT(*) OVER f AS t_cnt,
      |    SUM(n) OVER f AS t_sum,
      |    SUM(n * n) OVER f AS t_sum2
      |  FROM counts
      |  WINDOW f AS (PARTITION BY event_type ORDER BY ws
      |    ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING))
      |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
      |  event_type, n, CAST(t_sum AS BIGINT) AS t_sum,
      |  CASE WHEN t_sum2 * 3 - t_sum * t_sum > 0
      |    THEN round(CAST(n * 3 - t_sum AS DOUBLE)
      |      / sqrt(CAST(t_sum2 * 3 - t_sum * t_sum AS DOUBLE)), 4)
      |  END AS z,
      |  (n * 3 - t_sum > 0 AND
      |   (n * 3 - t_sum) * (n * 3 - t_sum)
      |     > 4 * (t_sum2 * 3 - t_sum * t_sum)) AS is_anomaly
      |FROM trail WHERE t_cnt = 3
      |ORDER BY window_start, event_type""".stripMargin

  final case class AnEv(ts: java.sql.Timestamp, event_type: String)
  final case class AnOut(window_start: Long, event_type: String, n: Long,
      t_sum: Long, is_anomaly: Boolean)
  final case class AnState(open: Map[Long, Long], trail: Vector[Long])

  /** Streaming twin: `flatMapGroupsWithState` keyed by event_type — an
    * ENTITY key (cardinality-bounded state ROWS, the st02/st05
    * taxonomy) whose VALUE is time-bounded by the st11 discipline:
    * open windows accumulate counts, `EventTimeTimeout` is armed at
    * the EARLIEST open window's close time (window_end + lateness), and
    * when the watermark passes it the group wakes WITHOUT data, scores
    * the sealed windows against the trailing-3 ring in window order,
    * appends them to the ring and drops them — a quiet type cannot
    * strand open-window state (the round-7 st11 bug class), and each
    * closed window emits its flag EXACTLY ONCE. Same integer z-test as
    * the batch twin; the per-type trailing ring (3 longs) persists, as
    * the entity-keyed taxonomy allows.
    */
  def st12Stream(events: Dataset[AnEv],
      latenessSec: Long = 7200L): Dataset[AnOut] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", s"$latenessSec seconds")
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[AnState, AnOut](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout()) {
        (tpe: String, evs: Iterator[AnEv], state: GroupState[AnState]) =>
          // on timeout wake-up `evs` is empty — the closure sweep below
          // is the whole purpose of the call
          val st0 = state.getOption.getOrElse(AnState(Map.empty, Vector.empty))
          var open = st0.open
          evs.foreach { e =>
            val w = Math.floorDiv(e.ts.getTime, 3600000L) * 3600L
            open = open.updated(w, open.getOrElse(w, 0L) + 1L)
          }
          val wm = state.getCurrentWatermarkMs() / 1000L
          // close every window the watermark has sealed, in time order
          val (closed, stillOpen) =
            open.partition { case (w, _) => w + 3600L + latenessSec <= wm }
          var trail = st0.trail
          val out = closed.toSeq.sortBy(_._1).flatMap { case (w, n) =>
            val emit = if (trail.length == 3) {
              val tSum = trail.sum
              val tSum2 = trail.map(x => x * x).sum
              val dev = n * 3 - tSum
              val varT = tSum2 * 3 - tSum * tSum
              Some(AnOut(w, tpe, n, tSum,
                dev > 0 && dev * dev > varT * 4))
            } else None
            trail = (trail :+ n).takeRight(3)
            emit
          }
          state.update(AnState(stillOpen, trail))
          // every still-open window satisfies w_end + lateness > wm, so
          // the armed timestamp is always legal (> current watermark)
          if (stillOpen.nonEmpty)
            state.setTimeoutTimestamp(
              (stillOpen.keys.min + 3600L + latenessSec) * 1000L)
          out.iterator
      }
  }

  // ---------------------------------------------------------------- st17
  /** Distribution drift monitor — the data-quality alarm every ingest
    * pipeline runs (Evidently/TFX-style categorical drift): per UTC day,
    * each event_type's share vs the PREVIOUS calendar day, flagged by a
    * pooled two-proportion z-test (z > 2). A fixed total-variation
    * threshold would be statistically wrong — TV of a stable stream
    * shrinks ∝ 1/√N, so one τ is dead at one volume and all-fire at
    * another (measured: tv max 0.41 at sf0.001 vs 0.034 at sf0.1); the
    * z-test compares the shift against its own sampling noise and fires
    * at the same ~5 % tail rate at every SF. The test is EXACT INTEGER
    * algebra (§5, the st12 rule): with c/N the current share and p/M the
    * previous, z² > 4 ⟺ (cM−pN)²·(N+M) > 4·(c+p)·(N+M−c−p)·N·M — both
    * engines compare the same integers, Spark in DECIMAL(38,0), DuckDB
    * in HUGEINT (the cubed magnitudes pass BIGINT at ~2M events/day;
    * decimal keeps the flag exact to 10^38). z itself is display-only:
    * exact integer products cast once, one division, one IEEE sqrt, one
    * division, round 4 — identical in both engines; NULL when the
    * pooled variance is 0. A vanished type (c=0) and a brand-new type
    * (p=0) both produce rows — exactly the drifts worth flagging.
    *
    * Scale: one windowed-count shuffle (streaming-state shaped); the
    * self-comparison is a full-outer join of the (days × types)
    * AGGREGATE frame against itself shifted one day, and the totals
    * window partitions on the day key — cells hold ≤ |types| aggregate
    * rows, never events.
    */
  /** One comparison's volume bound for exact-integer drift (N+M):
    * worst-case dev²·(N+M) at 1.5e7+1.5e7 is ~1.5e36, safely inside
    * DECIMAL(38,0)/HUGEINT. Beyond it every lane raises this message. */
  private[streaming] val St17MaxDay = 30000000L
  private[streaming] val St17GuardMsg =
    "st17: day volume exceeds the exact-integer envelope; shard the monitor"

  def st17DistributionDrift(spark: SparkSession, dir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val counts = Tables(spark, dir, "events")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("d"), col("event_type"), col("n"))
    val prev = counts.select(
      (col("d") + expr("INTERVAL 1 DAY")).as("d"),
      col("event_type"), col("n").as("pn"))
    val pairs = counts.join(prev, Seq("d", "event_type"), "full_outer")
      .select(col("d"), col("event_type"),
        coalesce(col("n"), lit(0L)).as("c"),
        coalesce(col("pn"), lit(0L)).as("p"))
    val wD = Window.partitionBy(col("d"))
    val tot = pairs
      .withColumn("nn", sum(col("c")).over(wD))
      .withColumn("mm", sum(col("p")).over(wD))
      .filter(col("nn") > 0 && col("mm") > 0)
      // Exactness envelope (review r12, pass 2): the cubic statistic
      // dev²·(N+M) tops 10^38 from ~3.6e7 events/day worst-case — the
      // DECIMAL lane would ANSI-throw and the HUGEINT oracle overflow
      // while the BigInt stream twin kept going. All three lanes now
      // fail LOUDLY and identically at one documented bound instead:
      // a drift monitor at higher volume shards by segment (what
      // production monitors do), it does not need a wider integer.
      .withColumn("nn", when(col("nn") + col("mm") <= lit(St17MaxDay),
        col("nn")).otherwise(raise_error(lit(St17GuardMsg))))
      // dev in DECIMAL too (review r12): at high volume c·M tops BIGINT
      .withColumn("dev", col("c").cast(dec) * col("mm").cast(dec) -
        col("p").cast(dec) * col("nn").cast(dec))
      .withColumn("vp", (col("c") + col("p")).cast(dec) *
        (col("nn") + col("mm") - col("c") - col("p")).cast(dec) *
        col("nn").cast(dec) * col("mm").cast(dec))
    tot.select(
        date_format(col("d"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("c").as("n"), col("p").as("prev_n"),
        col("nn").as("n_events"), col("mm").as("prev_events"),
        when(col("vp") > lit(0).cast(dec),
          round(col("dev").cast(DoubleType) /
            sqrt(col("vp").cast(DoubleType) /
              (col("nn") + col("mm")).cast(DoubleType)), 4)).as("z"),
        (col("dev").cast(dec) * col("dev").cast(dec) *
          (col("nn") + col("mm")).cast(dec) >
          col("vp") * lit(4).cast(dec)).as("drifted"))
      .orderBy(col("window_start"), col("event_type"))
  }

  /** HUGEINT is the oracle's exact-integer lane (DuckDB `^` is float
    * pow — the squares are spelled x*x). */
  val st17Sql: String =
    """WITH counts AS (
      |  SELECT time_bucket(INTERVAL 1 DAY, ts) AS d, event_type,
      |    COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |pairs AS (
      |  SELECT COALESCE(c.d, p.d + INTERVAL 1 DAY) AS d,
      |    COALESCE(c.event_type, p.event_type) AS event_type,
      |    COALESCE(c.n, 0) AS c, COALESCE(p.n, 0) AS p
      |  FROM counts c FULL OUTER JOIN counts p
      |    ON c.d = p.d + INTERVAL 1 DAY AND c.event_type = p.event_type),
      |tot AS (
      |  SELECT d, event_type, c, p,
      |    SUM(c) OVER (PARTITION BY d) AS nn,
      |    SUM(p) OVER (PARTITION BY d) AS mm
      |  FROM pairs)
      |SELECT strftime(d, '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
      |  CAST(c AS BIGINT) AS n, CAST(p AS BIGINT) AS prev_n,
      |  CAST(CASE WHEN nn + mm > 30000000 THEN error(
      |    'st17: day volume exceeds the exact-integer envelope; shard the monitor')
      |    ELSE nn END AS BIGINT) AS n_events,
      |  CAST(mm AS BIGINT) AS prev_events,
      |  CASE WHEN (c+p)::HUGEINT * (nn+mm-c-p) * nn * mm > 0 THEN
      |    round((c*mm - p*nn)::DOUBLE
      |      / sqrt(((c+p)::HUGEINT * (nn+mm-c-p) * nn * mm)::DOUBLE
      |             / (nn+mm)::DOUBLE), 4)
      |  END AS z,
      |  (c*mm - p*nn)::HUGEINT * (c*mm - p*nn) * (nn+mm)
      |    > 4::HUGEINT * (c+p) * (nn+mm-c-p) * nn * mm AS drifted
      |FROM tot WHERE nn > 0 AND mm > 0
      |ORDER BY window_start, event_type""".stripMargin

  final case class DrEv(ts: java.sql.Timestamp, event_type: String)
  final case class DrSide(day: Long, cur: Boolean, event_type: String,
      ts: java.sql.Timestamp)
  final case class DrOut(window_start: Long, event_type: String, n: Long,
      prev_n: Long, n_events: Long, prev_events: Long, drifted: Boolean)
  final case class DrState(counts: Map[String, (Long, Long)])

  /** st17's streaming twin: each event contributes to TWO comparison
    * days — its own (current side) and the next (previous side) — so
    * the whole drift computation for one day lives in ONE keyed group
    * and needs no cross-group join. Groups are keyed by comparison day
    * (time-bounded state rows, the st11/st12 taxonomy): counts
    * accumulate per (type, side), `EventTimeTimeout` is armed at
    * day_end + lateness (every contributing event's time is < day_end,
    * so the seal is legal and complete), and the sealed group emits the
    * batch twin's integer flag rows exactly once — BigInt products, the
    * same exact algebra as the DECIMAL(38,0) plan. Expansion happens
    * BEFORE the watermark so lateness is judged on the event's real
    * time on both sides.
    */
  def st17Stream(events: Dataset[DrEv],
      latenessSec: Long = 7200L): Dataset[DrOut] = {
    import events.sparkSession.implicits._
    events
      .flatMap { e =>
        val day = Math.floorDiv(e.ts.getTime, 86400000L) * 86400L
        Seq(DrSide(day, cur = true, e.event_type, e.ts),
          DrSide(day + 86400L, cur = false, e.event_type, e.ts))
      }
      .withWatermark("ts", s"$latenessSec seconds")
      .groupByKey(_.day)
      .flatMapGroupsWithState[DrState, DrOut](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout()) {
        (day: Long, evs: Iterator[DrSide], state: GroupState[DrState]) =>
          val st0 = state.getOption.getOrElse(DrState(Map.empty))
          var m = st0.counts
          evs.foreach { s =>
            val (c0, p0) = m.getOrElse(s.event_type, (0L, 0L))
            m = m.updated(s.event_type,
              if (s.cur) (c0 + 1L, p0) else (c0, p0 + 1L))
          }
          val wm = state.getCurrentWatermarkMs() / 1000L
          if (day + 86400L + latenessSec <= wm) {
            state.remove() // sealed: every in-lateness event has arrived
            val nn = m.valuesIterator.map(_._1).sum
            val mm = m.valuesIterator.map(_._2).sum
            // same loud envelope as the batch plan and the oracle, and
            // in the same place: only COMPARED days are guarded — the
            // batch lane filters one-sided days (nn=0 or mm=0) before
            // its raise_error projection, so an isolated backfill spike
            // must pass quietly here too (review r12 pass 3)
            if (nn > 0 && mm > 0) require(nn + mm <= St17MaxDay, St17GuardMsg)
            if (nn > 0 && mm > 0)
              m.toSeq.sortBy(_._1).iterator.map { case (t, (c, p)) =>
                val dev = BigInt(c) * mm - BigInt(p) * nn
                val vp = BigInt(c + p) * (nn + mm - c - p) * nn * mm
                DrOut(day, t, c, p, nn, mm,
                  dev * dev * (nn + mm) > vp * 4)
              }
            else Iterator.empty
          } else {
            state.update(DrState(m))
            state.setTimeoutTimestamp((day + 86400L + latenessSec) * 1000L)
            Iterator.empty
          }
      }
  }

  // ---------------------------------------------------------------- st18
  /** Oplog $set/delete replay — the CDC materialization at the heart of
    * the reference's domain (a MongoDB oplog tailed into a warehouse;
    * Debezium's MongoDB connector ships exactly this fold): each event
    * is an upsert-$set or a delete on the user's document, applied in
    * event-time order, and the materialized view is the final document
    * per live user. Unlike st05 (whole-row last-writer-wins), $set is
    * a PER-FIELD merge — each field keeps its own last write — and a
    * delete is a tombstone that resets the document: only ops after the
    * LAST delete contribute, and a user whose final op is a delete is
    * absent from the view.
    *
    * Op mapping (the corpus's event_types as an oplog): signup →
    * $set {plan:'free'}, click → $set {last_click}, view →
    * $set {last_view}, purchase → $set {last_purchase, plan:'paid'},
    * error → delete. All writes upsert (the Debezium materialize
    * default).
    *
    * §5: field values are SELECTED (never summed) — DECIMAL(12,2) in
    * flight, DOUBLE at the edge is the identity roundtrip; op order is
    * the (sec, event_id) total order both twins declare (second
    * resolution, the st02/st05 convention).
    *
    * Scale: ONE hash exchange on user_id; the tombstone segmentation
    * (running delete count), the per-field last(ignoreNulls) carries,
    * and the final-row pick all share the same per-entity sort — cells
    * hold one user's ops, state ∝ |users| in the streaming twin.
    */
  def st18OplogMerge(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
      .select(col("user_id"), unix_timestamp(col("ts")).as("sec"),
        col("event_id"), col("event_type"),
        col("value").cast(DecimalType(12, 2)).as("v"),
        (col("event_type") === "error").cast("long").as("is_del"))
    val byUser = Window.partitionBy(col("user_id"))
    val ord = byUser.orderBy(col("sec"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val live = ev
      .withColumn("seg", sum(col("is_del")).over(ord))
      .withColumn("seg_max", sum(col("is_del")).over(byUser))
      .filter(col("is_del") === 0 && col("seg") === col("seg_max"))
    val folded = live
      .withColumn("plan", last(when(col("event_type") === "signup", "free")
        .when(col("event_type") === "purchase", "paid"),
        ignoreNulls = true).over(ord))
      .withColumn("last_click",
        last(when(col("event_type") === "click", col("v")),
          ignoreNulls = true).over(ord))
      .withColumn("last_view",
        last(when(col("event_type") === "view", col("v")),
          ignoreNulls = true).over(ord))
      .withColumn("last_purchase",
        last(when(col("event_type") === "purchase", col("v")),
          ignoreNulls = true).over(ord))
      .withColumn("rn", row_number().over(
        byUser.orderBy(col("sec"), col("event_id"))))
      .withColumn("n_live", count(lit(1)).over(byUser))
    folded.filter(col("rn") === col("n_live"))
      .select(col("user_id"), col("plan"),
        col("last_click").cast(DoubleType).as("last_click"),
        col("last_view").cast(DoubleType).as("last_view"),
        col("last_purchase").cast(DoubleType).as("last_purchase"),
        col("rn").cast(LongType).as("n_ops"), col("sec").as("last_sec"))
      .orderBy(col("user_id"))
  }

  /** Same tombstone segmentation, same per-field IGNORE NULLS carries. */
  val st18Sql: String =
    """WITH ev AS (
      |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec, event_id,
      |    event_type, CAST(value AS DECIMAL(12,2)) AS v,
      |    CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_del
      |  FROM events),
      |seg AS (
      |  SELECT *,
      |    SUM(is_del) OVER (PARTITION BY user_id ORDER BY sec, event_id
      |      ROWS UNBOUNDED PRECEDING) AS seg,
      |    SUM(is_del) OVER (PARTITION BY user_id) AS seg_max
      |  FROM ev),
      |live AS (SELECT * FROM seg WHERE is_del = 0 AND seg = seg_max),
      |folded AS (
      |  SELECT user_id, sec, event_id,
      |    last_value(CASE WHEN event_type = 'signup' THEN 'free'
      |      WHEN event_type = 'purchase' THEN 'paid' END IGNORE NULLS)
      |      OVER w AS plan,
      |    CAST(last_value(CASE WHEN event_type = 'click' THEN v END
      |      IGNORE NULLS) OVER w AS DOUBLE) AS last_click,
      |    CAST(last_value(CASE WHEN event_type = 'view' THEN v END
      |      IGNORE NULLS) OVER w AS DOUBLE) AS last_view,
      |    CAST(last_value(CASE WHEN event_type = 'purchase' THEN v END
      |      IGNORE NULLS) OVER w AS DOUBLE) AS last_purchase,
      |    row_number() OVER w AS rn,
      |    COUNT(*) OVER (PARTITION BY user_id) AS n_live
      |  FROM live
      |  WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT user_id, plan, last_click, last_view, last_purchase,
      |  CAST(rn AS BIGINT) AS n_ops, sec AS last_sec
      |FROM folded WHERE rn = n_live ORDER BY user_id""".stripMargin

  final case class OpEv(user_id: Long, sec: Long, event_id: Long,
      event_type: String, value: Double,
      ts: java.sql.Timestamp)
  final case class OpLite(sec: Long, event_id: Long, event_type: String,
      value: Double)
  final case class DocState(pend: List[OpLite], exists: Boolean,
      plan: Option[String], lastClick: Option[Double],
      lastView: Option[Double], lastPurchase: Option[Double],
      nOps: Long, lastSec: Long)
  final case class DocOut(user_id: Long, exists: Boolean,
      plan: Option[String], last_click: Option[Double],
      last_view: Option[Double], last_purchase: Option[Double],
      n_ops: Long, last_sec: Long, fold_sec: Long, fold_eid: Long,
      n_folded: Long)

  /** Streaming twin: the change-stream consumer — per-user document
    * state via flatMapGroupsWithState (Update mode), watermark-buffered
    * so ops fold in the (sec, event_id) order the batch twin declares
    * under ANY admissible arrival order (the st14 lateness discipline):
    * ops ripen when the watermark passes their second, fold through the
    * same $set/tombstone transition, and each fold emits the user's new
    * document row (exists=false = the tombstone the view consumer
    * deletes on). State per user = open document + in-horizon buffer.
    */
  def st18Stream(events: Dataset[OpEv],
      latenessSec: Long = 7200L): Dataset[DocOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", s"$latenessSec seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[DocState, DocOut](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, evs: Iterator[OpEv], state: GroupState[DocState]) =>
          val wm = state.getCurrentWatermarkMs() / 1000L
          val st0 = state.getOption.getOrElse(
            DocState(Nil, exists = false, None, None, None, None, 0L, 0L))
          val buf = st0.pend ++ evs.map(e =>
            OpLite(e.sec, e.event_id, e.event_type, e.value))
          val (ripe, pend) = buf.partition(_.sec < wm)
          var s = st0
          ripe.sortBy(o => (o.sec, o.event_id)).foreach { o =>
            s = o.event_type match {
              case "error" => s.copy(exists = false, plan = None,
                lastClick = None, lastView = None, lastPurchase = None,
                nOps = 0L, lastSec = 0L)
              case "signup" => s.copy(exists = true,
                plan = Some("free"), nOps = s.nOps + 1, lastSec = o.sec)
              case "click" => s.copy(exists = true,
                lastClick = Some(o.value), nOps = s.nOps + 1,
                lastSec = o.sec)
              case "view" => s.copy(exists = true,
                lastView = Some(o.value), nOps = s.nOps + 1,
                lastSec = o.sec)
              case _ => s.copy(exists = true, plan = Some("paid"),
                lastPurchase = Some(o.value), nOps = s.nOps + 1,
                lastSec = o.sec)
            }
          }
          // state hygiene (ADVICE r12): a tombstoned document with
          // nothing buffered IS the initial state — post-error the fold
          // resets every field, so removing the entry is
          // semantics-free (a reappearing user reconstructs bit-equal
          // state) and caps the store at |live + in-flight users|, not
          // |users ever seen|. Removal also disarms any previously-set
          // event-time timeout; otherwise timeouts re-arm only while
          // something is actually pending (a fired timeout clears
          // itself, so a drained buffer leaves nothing armed).
          if (pend.isEmpty && !s.exists) state.remove()
          else {
            state.update(s.copy(pend = pend))
            // wake when the earliest buffered op can ripen (strictly
            // above the current watermark: pending sec ≥ wm)
            pend.map(_.sec + 1L).minOption
              .foreach(t => state.setTimeoutTimestamp(t * 1000L))
          }
          if (ripe.nonEmpty) {
            // the emission order key is the LAST FOLDED op's
            // (sec, event_id) — strictly monotone per user across
            // emissions by watermark admissibility (every later-folded
            // op has sec ≥ the wm that ripened the earlier ones), and
            // unlike a per-key counter it needs no state, so it
            // survives tombstone removal; n_folded receipts
            // exactly-once folding (Σ over emissions = ops ever seen)
            val lastKey = ripe.map(o => (o.sec, o.event_id)).max
            Iterator.single(DocOut(user, s.exists, s.plan, s.lastClick,
              s.lastView, s.lastPurchase, s.nOps, s.lastSec,
              lastKey._1, lastKey._2, ripe.length.toLong))
          } else Iterator.empty
      }
  }

  /** Loud okey-component range guard (ADVICE r13): values outside
    * [0, bound) raise with the component named instead of silently
    * corrupting the packed order key. Object-level so the spec can
    * exercise it directly. */
  private[graft] def st19Guard(c: org.apache.spark.sql.Column, bound: Long,
      what: String): org.apache.spark.sql.Column =
    when(c >= 0 && c < bound, c).otherwise(raise_error(concat(
      lit(s"st19: $what outside [0, $bound): "), c.cast("string"))))

  // ---------------------------------------------------------------- st19
  /** CDC VIEW CONSUMER (round 13, VERDICT r12 #8) — the other half of
    * st18's producer: the materialized table a downstream reader
    * actually queries. The update LOG is every per-op document version
    * (st18's fold emitted at every step, tombstones included), and the
    * consumer must materialize the view under the delivery contract
    * real CDC consumers face: AT-LEAST-ONCE (duplicates) and
    * REORDERING. Deterministic duplicates (every log row with
    * event_id % 3 = 0 delivered twice) ride the same plan; the apply
    * is last-write-wins by the per-user order key
    * okey = sec·2³¹ + event_id — a MAX-fold, so duplicated and
    * permuted deliveries land on the identical view (idempotent +
    * commutative by construction, which is why the streaming twin
    * needs NO watermark at all, unlike st18's fold-order buffering).
    * A user whose max-okey version is a tombstone is absent from the
    * view; n_log_rows / n_versions audit that duplicates were really
    * absorbed (n_log_rows > n_versions wherever a dup landed).
    *
    * Version fields reset across tombstones WITHOUT a per-segment
    * window: the error op writes a SENTINEL into each carry column
    * (plan: '⟂'; values: {d:1} structs; n_ops: the error row's rn) so
    * one user_id-partitioned window computes every segment's carries —
    * ONE exchange, the st18 discipline.
    *
    * Scale: one user_id exchange for the log windows, the view agg is
    * a map-side-combined max_by/count per user (no second sort), and
    * the at-least-once union is map-only. Output ∝ live users.
    */
  def st19OplogView(spark: SparkSession, dir: String): DataFrame =
    st19Log(spark, dir).groupBy(col("user_id"))
      .agg(max_by(col("doc"), col("okey")).as("cur"),
        count(lit(1)).as("n_log_rows"),
        countDistinct(col("okey")).as("n_versions"))
      .filter(col("cur.ex"))
      .select(col("user_id"), col("cur.plan").as("plan"),
        col("cur.last_click").as("last_click"),
        col("cur.last_view").as("last_view"),
        col("cur.last_purchase").as("last_purchase"),
        col("cur.n_ops").as("n_ops"), col("cur.last_sec").as("last_sec"),
        col("n_log_rows"), col("n_versions"))
      .orderBy(col("user_id"))

  /** st19's duplicated update log: every per-op document version with
    * its okey, each event_id % 3 == 0 row delivered twice (the
    * deterministic at-least-once layer).
    *
    * okey packs (sec, event_id) into one BIGINT so the LWW fold is a
    * plain MAX. The packing is only an order iff event_id < the shift
    * width — a silent violation would let a large event_id bleed into
    * the sec component and an older-second version win (ADVICE r13),
    * and BOTH engines share the formula so oracle parity cannot catch
    * it. Shift = 2³¹ (headroom past ScaleUp's i·10⁷ offsets to factor
    * ~214), and out-of-range ids fail LOUDLY here (the s16/dd18
    * discipline); sec < 2³² keeps sec·2³¹ + event_id inside BIGINT
    * (epoch 2106 — generator invariant, guarded all the same). */
  private[graft] def st19Log(spark: SparkSession, dir: String): DataFrame = {
    val okShift = 2147483648L // 2³¹
    val ev = Tables(spark, dir, "events")
      .select(col("user_id"),
        st19Guard(unix_timestamp(col("ts")), 4294967296L, "sec").as("sec"),
        st19Guard(col("event_id"), okShift, "event_id").as("event_id"),
        col("event_type"),
        col("value").cast(DecimalType(12, 2)).as("v"),
        (col("event_type") === "error").cast("long").as("is_del"))
    val ord = Window.partitionBy(col("user_id"))
      .orderBy(col("sec"), col("event_id"))
    val w = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def dv(cond: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(col("is_del") === 1,
        struct(lit(1L).as("d"),
          lit(null).cast(DecimalType(12, 2)).as("v")))
      .when(cond, struct(lit(0L).as("d"), col("v").as("v")))
    val rn = ev.withColumn("rn", row_number().over(ord))
    val lg = rn
      .withColumn("planc", last(when(col("is_del") === 1, "⟂")
        .when(col("event_type") === "signup", "free")
        .when(col("event_type") === "purchase", "paid"),
        ignoreNulls = true).over(w))
      .withColumn("ck", last(dv(col("event_type") === "click"),
        ignoreNulls = true).over(w))
      .withColumn("vw", last(dv(col("event_type") === "view"),
        ignoreNulls = true).over(w))
      .withColumn("pr", last(dv(col("event_type") === "purchase"),
        ignoreNulls = true).over(w))
      .withColumn("ldrn", last(when(col("is_del") === 1, col("rn")),
        ignoreNulls = true).over(w))
      .select(col("user_id"),
        (col("sec") * lit(2147483648L) + col("event_id")).as("okey"),
        col("event_id"),
        struct(
          (col("is_del") === 0).as("ex"),
          when(col("planc") =!= "⟂", col("planc")).as("plan"),
          when(col("ck.d") === 0, col("ck.v").cast(DoubleType))
            .as("last_click"),
          when(col("vw.d") === 0, col("vw.v").cast(DoubleType))
            .as("last_view"),
          when(col("pr.d") === 0, col("pr.v").cast(DoubleType))
            .as("last_purchase"),
          when(col("is_del") === 1, 0L)
            .otherwise(col("rn") - coalesce(col("ldrn"), lit(0L)))
            .as("n_ops"),
          col("sec").as("last_sec")).as("doc"))
    // deterministic at-least-once delivery: a third of the log twice.
    // Duplicated MAP-SIDE via explode (round 16): the old
    // `lg ∪ lg.filter(…)` re-ran the whole five-fold window chain for
    // the duplicate branch (exchange reuse shares the user_id shuffle,
    // but the Window + struct projection executed twice — half of
    // st19's and st20's CPU); the exploded multiplier emits the same
    // multiset off ONE window pass.
    lg.select(col("user_id"), col("okey"), col("event_id"), col("doc"),
        explode(when(col("event_id") % 3 === 0, array(lit(0), lit(1)))
          .otherwise(array(lit(0)))).as("__dup"))
      .drop("__dup")
  }

  /** Same sentinel-reset carries, same max-okey apply. */
  val st19Sql: String =
    """WITH ev AS (
      |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec, event_id,
      |    event_type, CAST(value AS DECIMAL(12,2)) AS v,
      |    CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_del
      |  FROM events),
      |rn AS (
      |  SELECT *, row_number() OVER (PARTITION BY user_id
      |    ORDER BY sec, event_id) AS rn
      |  FROM ev),
      |lg AS (
      |  SELECT user_id, sec * 2147483648 + event_id AS okey, event_id,
      |    {'ex': is_del = 0,
      |     'plan': CASE WHEN planc <> '⟂' THEN planc END,
      |     'last_click': CASE WHEN ck.d = 0
      |       THEN CAST(ck.v AS DOUBLE) END,
      |     'last_view': CASE WHEN vw.d = 0 THEN CAST(vw.v AS DOUBLE) END,
      |     'last_purchase': CASE WHEN pr.d = 0
      |       THEN CAST(pr.v AS DOUBLE) END,
      |     'n_ops': CASE WHEN is_del = 1 THEN 0
      |       ELSE rn - COALESCE(ldrn, 0) END,
      |     'last_sec': sec} AS doc
      |  FROM (
      |    SELECT *,
      |      last_value(CASE WHEN is_del = 1 THEN '⟂'
      |        WHEN event_type = 'signup' THEN 'free'
      |        WHEN event_type = 'purchase' THEN 'paid' END IGNORE NULLS)
      |        OVER w AS planc,
      |      last_value(CASE WHEN is_del = 1
      |          THEN {'d': 1, 'v': NULL::DECIMAL(12,2)}
      |        WHEN event_type = 'click' THEN {'d': 0, 'v': v} END
      |        IGNORE NULLS) OVER w AS ck,
      |      last_value(CASE WHEN is_del = 1
      |          THEN {'d': 1, 'v': NULL::DECIMAL(12,2)}
      |        WHEN event_type = 'view' THEN {'d': 0, 'v': v} END
      |        IGNORE NULLS) OVER w AS vw,
      |      last_value(CASE WHEN is_del = 1
      |          THEN {'d': 1, 'v': NULL::DECIMAL(12,2)}
      |        WHEN event_type = 'purchase' THEN {'d': 0, 'v': v} END
      |        IGNORE NULLS) OVER w AS pr,
      |      last_value(CASE WHEN is_del = 1 THEN rn END IGNORE NULLS)
      |        OVER w AS ldrn
      |    FROM rn
      |    WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))),
      |alo AS (
      |  SELECT * FROM lg
      |  UNION ALL SELECT * FROM lg WHERE event_id % 3 = 0),
      |viewt AS (
      |  SELECT user_id, arg_max(doc, okey) AS cur,
      |    CAST(COUNT(*) AS BIGINT) AS n_log_rows,
      |    CAST(COUNT(DISTINCT okey) AS BIGINT) AS n_versions
      |  FROM alo GROUP BY user_id)
      |SELECT user_id, cur.plan AS plan, cur.last_click AS last_click,
      |  cur.last_view AS last_view, cur.last_purchase AS last_purchase,
      |  CAST(cur.n_ops AS BIGINT) AS n_ops, cur.last_sec AS last_sec,
      |  n_log_rows, n_versions
      |FROM viewt WHERE cur.ex ORDER BY user_id""".stripMargin

  /** Streaming twin: the view consumer as a stateful MAX-fold — state
    * per user is the best-okey version seen; every batch emits the
    * user's current view row (Update mode). At-least-once duplicates
    * and arbitrary reordering collapse by construction (max is
    * idempotent + commutative), so NO watermark or buffering is
    * needed — the spec feeds a duplicated, randomly permuted log and
    * gets the batch view bit-for-bit. */
  def st19Stream(updates: Dataset[ViewUpd]): Dataset[ViewOut] = {
    import updates.sparkSession.implicits._
    updates.groupByKey(_.user_id)
      .flatMapGroupsWithState[ViewUpd, ViewOut](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (user: Long, it: Iterator[ViewUpd], state: GroupState[ViewUpd]) =>
          val best = (state.getOption.iterator ++ it)
            .maxBy(u => u.okey)
          state.update(best)
          Iterator.single(ViewOut(user, best.okey, best.ex, best.plan,
            best.last_click, best.last_view, best.last_purchase,
            best.n_ops, best.last_sec))
      }
  }

  final case class ViewUpd(user_id: Long, okey: Long, ex: Boolean,
      plan: Option[String], last_click: Option[Double],
      last_view: Option[Double], last_purchase: Option[Double],
      n_ops: Long, last_sec: Long)
  final case class ViewOut(user_id: Long, okey: Long, ex: Boolean,
      plan: Option[String], last_click: Option[Double],
      last_view: Option[Double], last_purchase: Option[Double],
      n_ops: Long, last_sec: Long)

  // ---------------------------------------------------------------- st20
  /** One micro-batch of view rows merged into the docstore collection at
    * `path` — the `$merge` upsert (d15's machinery) keyed on user_id,
    * whenMatched replace / whenNotMatched insert. This is THE sink
    * st20 and its streaming twin share: replace-by-key makes a re-run
    * of the SAME batch a no-op, which is exactly the foreachBatch
    * exactly-once contract (Spark re-delivers the last batch after a
    * failure — never an arbitrary old one). */
  private[graft] def st20Merge(batch: DataFrame, path: String): Unit =
    graft.Graft.aggregate(batch,
      s"""[{"$$merge": {"into": "$path", "on": "user_id",
            "whenMatched": "replace", "whenNotMatched": "insert"}}]""")

  /** CDC EXACTLY-ONCE VIEW SINK (round 14, VERDICT r13 #5) — the last
    * leg of the st18 → st19 CDC chain: st18 produces the oplog, st19
    * materializes the consumer view, st20 WRITES that view to the
    * serving store idempotently. The write path is exercised under the
    * delivery fault it must absorb: the view lands in two half-batches
    * (`$out` seed of even user_ids, `$merge` of odd), and the second
    * batch is REPLAYED — the duplicate `$merge` must leave the
    * collection byte-identical (replace-by-key idempotence, the
    * foreachBatch re-delivery contract). The key's RESULT is the
    * READ-BACK of the written collection, not the computed view — so
    * the oracle (st19's SQL, the view definition) gates the whole
    * write → re-deliver → read round trip, exactly how d15 gates
    * `$merge` itself.
    *
    * Scale: the view is output-sized (∝ live users); `$out`/`$merge`
    * write through the docstore sink partition-parallel, and the merge
    * joins batch-vs-collection on the `on` key — at deployment scale
    * this is the idempotent bulk-upsert every CDC serving store runs.
    * The streaming twin (spec) drives the SAME [[st20Merge]] from
    * foreachBatch over [[st19Stream]]'s Update-mode output and replays
    * a batch to prove state equality. */
  def st20ViewSink(spark: SparkSession, dir: String): DataFrame = {
    // one collection per JVM: two concurrent drivers on the same sfDir
    // must not interleave one's $out truncate with the other's $merge.
    // Within a run the path is stable, so a replay still hits the same
    // collection (the idempotence under test).
    val path = graft.operators.DocstoreOps.scratchCollection("st20_view", dir)
    val view = Tables.ckptNarrow(st19OplogView(spark, dir), 8)
    val odd = view.filter(col("user_id") % 2 === 1)
    graft.Graft.aggregate(view.filter(col("user_id") % 2 === 0),
      s"""[{"$$out": "$path"}]""")
    st20Merge(odd, path) // batch 2
    st20Merge(odd, path) // batch 2 REPLAYED — must be absorbed
    spark.read.format("docstore").option("path", path).load()
      .select(col("user_id").cast(LongType).as("user_id"),
        col("plan").cast(StringType).as("plan"),
        col("last_click").cast(DoubleType).as("last_click"),
        col("last_view").cast(DoubleType).as("last_view"),
        col("last_purchase").cast(DoubleType).as("last_purchase"),
        col("n_ops").cast(LongType).as("n_ops"),
        col("last_sec").cast(LongType).as("last_sec"),
        col("n_log_rows").cast(LongType).as("n_log_rows"),
        col("n_versions").cast(LongType).as("n_versions"))
      .orderBy(col("user_id"))
  }

  /** The sink's oracle IS the view definition: if the
    * write → replay → read round trip is exactly-once, the collection
    * equals st19's view. */
  val st20Sql: String = st19Sql

  // ---------------------------------------------------------------- st13
  /** Session conversion funnel — the product-analytics staple on top of
    * sessionization: within each st02 session (same gap rule, same
    * windows), how far did the user get through the ORDERED
    * click → view → purchase funnel? Stage = the prefix-automaton fold
    * over the session's events in (sec, event_id) order: a `view` only
    * counts after a `click`, a `purchase` only after such a `view` —
    * set-membership ("did both happen") funnels overcount precisely
    * the broken orderings a funnel exists to expose. Output: sessions
    * per stage reached (0–3).
    *
    * Scale: st02's audited per-user windows; the fold runs inside one
    * aggregation over each session's (gap-bounded) event list — pure
    * discrete string/int logic, so both engines fold identically with
    * no float hazard (§5).
    */
  def st13SessionFunnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        unix_timestamp(col("ts")).as("sec"))
    // (sec, event_id) = the session family's canonical event order (see
    // st02Sessionize) — already what the fold's array_sort uses below
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("sec"), col("event_id"))
    val flagged = ev.withColumn("new_session",
      when(col("sec") - lag(col("sec"), 1).over(byUser) > SessionGapSeconds,
        1L).otherwise(lit(0L)))
      .withColumn("session_seq", sum(col("new_session"))
        .over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
    val folded = flagged.groupBy(col("user_id"), col("session_seq"))
      .agg(aggregate(
        transform(array_sort(collect_list(
          struct(col("sec"), col("event_id"), col("event_type")))),
          e => e.getField("event_type")),
        lit(0L),
        (st, t) => when(st === 0L && t === "click", 1L)
          .when(st === 1L && t === "view", 2L)
          .when(st === 2L && t === "purchase", 3L)
          .otherwise(st)).as("stage"))
    folded.groupBy(col("stage"))
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("stage"))
  }

  /** Oracle: the same automaton as a list_reduce over ordered event
    * types; DuckDB's list_reduce has no init, so stage rides as a
    * prepended string digit. */
  val st13Sql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, ts, event_type,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS sec,
      |    CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
      |           - lag(CAST(floor(epoch(ts)) AS BIGINT))
      |               OVER (PARTITION BY user_id
      |                     ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id)
      |           > 1800 THEN 1 ELSE 0 END AS new_session
      |  FROM events),
      |sess AS (
      |  SELECT user_id, sec, event_id, event_type,
      |    CAST(SUM(new_session) OVER (PARTITION BY user_id
      |      ORDER BY sec, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS session_seq
      |  FROM flagged),
      |c1 AS (
      |  SELECT user_id, session_seq,
      |    MIN(CASE WHEN event_type = 'click'
      |      THEN ROW(sec, event_id) END) AS k1
      |  FROM sess GROUP BY 1, 2),
      |v2 AS (
      |  SELECT s.user_id, s.session_seq,
      |    MIN(CASE WHEN s.event_type = 'view'
      |          AND ROW(s.sec, s.event_id) > c.k1
      |      THEN ROW(s.sec, s.event_id) END) AS k2
      |  FROM sess s JOIN c1 c USING (user_id, session_seq)
      |  GROUP BY 1, 2),
      |p3 AS (
      |  SELECT s.user_id, s.session_seq,
      |    MIN(CASE WHEN s.event_type = 'purchase'
      |          AND ROW(s.sec, s.event_id) > v.k2
      |      THEN ROW(s.sec, s.event_id) END) AS k3
      |  FROM sess s JOIN v2 v USING (user_id, session_seq)
      |  GROUP BY 1, 2),
      |folded AS (
      |  -- the prefix automaton DECOMPOSED into earliest-transition
      |  -- aggregates (stage 1 at the first click, 2 at the first view
      |  -- after it, 3 at the first purchase after that): the greedy
      |  -- fold takes the earliest qualifying event at every stage, so
      |  -- the min-struct chain is the same function — and unlike
      |  -- list(x ORDER BY ...) + list_reduce it is ORDER-FREE, which
      |  -- matters because DuckDB's ordered list aggregate is
      |  -- nondeterministic under multi-threaded grouping at sf1 row
      |  -- counts (round-13 full-sf1 gate finding: four runs, four
      |  -- different stage tallies; threads=1 agreed with Spark)
      |  SELECT c.user_id, c.session_seq,
      |    CAST(CASE WHEN c.k1 IS NULL THEN 0
      |         WHEN v.k2 IS NULL THEN 1
      |         WHEN p.k3 IS NULL THEN 2 ELSE 3 END AS BIGINT) AS stage
      |  FROM c1 c JOIN v2 v USING (user_id, session_seq)
      |    JOIN p3 p USING (user_id, session_seq))
      |SELECT stage, COUNT(*) AS n_sessions
      |FROM folded GROUP BY stage ORDER BY stage""".stripMargin

  final case class FunnelEv(user_id: Long, sec: Long, event_id: Long,
      event_type: String)
  final case class FunnelEvW(user_id: Long, sec: Long, event_id: Long,
      event_type: String, ts: java.sql.Timestamp)
  final case class FunnelLite(sec: Long, event_id: Long, event_type: String)
  final case class FunnelState(startSec: Long, lastSec: Long, seq: Long,
      stage: Long)
  final case class FunnelBuf(pend: List[FunnelLite], startSec: Long,
      lastSec: Long, seq: Long, stage: Long, live: Boolean)
  final case class FunnelOut(user_id: Long, session_seq: Long, stage: Long)

  /** Streaming twin: the funnel automaton POSITION rides st02's
    * per-user session machinery — st02Stream's event-time-buffered
    * design (pending events fold in (sec, event_id) order once the
    * watermark proves them final; the open session flushes when the
    * watermark passes its gap horizon), with one extra Long of state.
    * Buffering matters doubly here: the automaton is ORDER-SENSITIVE —
    * folding an admitted-late purchase after an already-seen view would
    * reach stages the batch twin never produces (round-9 review). */
  def st13Stream(events: Dataset[FunnelEv],
      latenessSec: Long = 7200L): Dataset[FunnelOut] = {
    import events.sparkSession.implicits._
    def adv(stage: Long, t: String): Long =
      if (stage == 0L && t == "click") 1L
      else if (stage == 1L && t == "view") 2L
      else if (stage == 2L && t == "purchase") 3L
      else stage
    events.map(e => FunnelEvW(e.user_id, e.sec, e.event_id, e.event_type,
        new java.sql.Timestamp(e.sec * 1000L)))
      .withWatermark("ts", s"$latenessSec seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelBuf, FunnelOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, evs: Iterator[FunnelEvW],
            state: GroupState[FunnelBuf]) =>
          val wm = state.getCurrentWatermarkMs() / 1000L
          val st0 = state.getOption
            .getOrElse(FunnelBuf(Nil, 0L, 0L, 0L, 0L, live = false))
          val (pend, open, cursor, out) =
            foldSessions[FunnelLite, FunnelState, FunnelOut](
              wm, st0.pend ++ evs.map(e =>
                FunnelLite(e.sec, e.event_id, e.event_type)),
              if (st0.live)
                Some(FunnelState(st0.startSec, st0.lastSec, st0.seq,
                  st0.stage))
              else None,
              if (st0.live) st0.seq + 1L else st0.seq,
              _.sec, _.event_id, _.lastSec, _.seq,
              (s, e) => s.copy(lastSec = e.sec,
                stage = adv(s.stage, e.event_type)),
              (e, c) => FunnelState(e.sec, e.sec, c, adv(0L, e.event_type)),
              s => FunnelOut(user, s.seq, s.stage))
          state.update(open match {
            case Some(s) =>
              FunnelBuf(pend, s.startSec, s.lastSec, s.seq, s.stage,
                live = true)
            case None => FunnelBuf(pend, 0L, 0L, cursor, 0L, live = false)
          })
          armSessionWakeup(state, pend.map(_.sec), open.map(_.lastSec))
          out.iterator
      }
  }

  // ---------------------------------------------------------------- st14
  /** SCD type-2 attribute history — the warehouse/CDC staple st05's
    * latest-state (SCD1) upsert cannot express: every CHANGE of a key's
    * attribute opens a new versioned validity interval
    * [valid_from, valid_to), the current version open-ended — the shape
    * a dimension table keeps so facts join "as of" any point in time
    * (st06's as-of join is this table's consumer). Attribute here =
    * event_type per user; consecutive equal values collapse into one
    * interval.
    *
    * Scale: per-user windows (lag for change detection, row_number +
    * lead for versions/intervals) — partitions bounded by one user's
    * events, both windows share one user_id exchange. Output ∝ changes,
    * not events.
    */
  /** The unordered SCD2 version chain over a given event frame
    * (columns user_id, event_id, event_type, sec), factored so st16's
    * point-in-time join runs the SAME chain st14 presents over its
    * planted event set (one definition, no inner presentation sort in
    * the consumer's plan). */
  private[graft] def scd2VersionsOf(ev: DataFrame): DataFrame = {
    // (sec, event_id) = the session family's canonical event order (see
    // st02Sessionize) — the change-stream twin folds on exactly this key
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("sec"), col("event_id"))
    val changes = ev
      .withColumn("prev", lag(col("event_type"), 1).over(byUser))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
    changes
      .withColumn("version", row_number().over(byUser).cast("long"))
      .withColumn("valid_to_sec", lead(col("sec"), 1).over(byUser))
      .select(col("user_id"), col("version"), col("event_type"),
        col("sec").as("valid_from_sec"), col("valid_to_sec"),
        col("valid_to_sec").isNull.as("is_current"))
  }

  private def rawEvents(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_timestamp(col("ts")).as("sec"))

  def st14Scd2(spark: SparkSession, dir: String): DataFrame =
    scd2VersionsOf(rawEvents(spark, dir))
      .orderBy(col("user_id"), col("version"))

  val st14Sql: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, event_type,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS sec
      |  FROM events),
      |ch AS (
      |  SELECT * FROM (
      |    SELECT user_id, event_id, event_type, sec,
      |      lag(event_type) OVER (PARTITION BY user_id
      |        ORDER BY sec, event_id) AS prev
      |    FROM ev)
      |  WHERE prev IS NULL OR prev <> event_type),
      |v AS (
      |  SELECT user_id, event_type, sec AS valid_from_sec,
      |    row_number() OVER w AS version,
      |    lead(sec) OVER w AS valid_to_sec
      |  FROM ch
      |  WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id))
      |SELECT user_id, CAST(version AS BIGINT) AS version, event_type,
      |  valid_from_sec, valid_to_sec, valid_to_sec IS NULL AS is_current
      |FROM v ORDER BY user_id, version""".stripMargin

  final case class Scd2Buf(pend: List[FunnelLite], curType: String,
      curFrom: Long, version: Long, live: Boolean)
  final case class Scd2Out(user_id: Long, version: Long, event_type: String,
      valid_from_sec: Long, valid_to_sec: Long)

  /** Streaming twin: the change-stream consumer that MAINTAINS the SCD2
    * table — st02's watermark-buffering discipline (events ripen once
    * `sec < wm` and fold in event-time order; order matters doubly here
    * because a late out-of-order event can change WHERE the attribute
    * changed), but with NO gap horizon: an SCD2 current version is
    * open-ended by definition, so only superseded versions emit (with
    * their closing timestamp) and the open version rides in state.
    * Timeout arms only to ripen pending events. Entity-keyed, O(1) +
    * lateness buffer per user.
    */
  def st14Stream(events: Dataset[FunnelEv],
      latenessSec: Long = 7200L): Dataset[Scd2Out] = {
    import events.sparkSession.implicits._
    events.map(e => FunnelEvW(e.user_id, e.sec, e.event_id, e.event_type,
        new java.sql.Timestamp(e.sec * 1000L)))
      .withWatermark("ts", s"$latenessSec seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Scd2Buf, Scd2Out](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, evs: Iterator[FunnelEvW], state: GroupState[Scd2Buf]) =>
          val wm = state.getCurrentWatermarkMs() / 1000L
          val st0 = state.getOption
            .getOrElse(Scd2Buf(Nil, "", 0L, 0L, live = false))
          val (ripe, pend) = ripen[FunnelLite](wm,
            st0.pend ++ evs.map(e => FunnelLite(e.sec, e.event_id,
              e.event_type)), _.sec, _.event_id)
          var cur: Option[(String, Long, Long)] =
            if (st0.live) Some((st0.curType, st0.curFrom, st0.version))
            else None
          var closed = List.empty[Scd2Out]
          ripe.foreach { e =>
            cur match {
              case Some((t, _, _)) if t == e.event_type => () // unchanged
              case Some((t, f, v)) =>
                closed ::= Scd2Out(user, v, t, f, e.sec)
                cur = Some((e.event_type, e.sec, v + 1))
              case None => cur = Some((e.event_type, e.sec, 1L))
            }
          }
          state.update(cur match {
            case Some((t, f, v)) => Scd2Buf(pend, t, f, v, live = true)
            case None => Scd2Buf(pend, "", 0L, 0L, live = false)
          })
          // no gap horizon: an open SCD2 version is open-ended, so the
          // wake-up only ripens pending events
          armSessionWakeup(state, pend.map(_.sec), None)
          closed.reverseIterator
      }
  }

  // ---------------------------------------------------------------- st15
  /** Streaming-ingestion dedup — the production gate at the crawl
    * feed's mouth, one step past dd16: a stream of new documents
    * dedups against the EXISTING corpus (dd16's artifact probe) AND
    * against EARLIER-ARRIVED stream documents — the case dd16 cannot
    * see (a page submitted twice in one crawl wave is absent from the
    * corpus both times; the gate must drop the second copy). Verdict
    * per new doc: corpus-match count, earlier-stream-match count,
    * keep = both zero.
    *
    * Batch twin (the oracle): arrival order = doc_id order (the
    * family's canonical-order rule), so "earlier-arrived" = lower id.
    * Stream self-matches ride dd02's capped LSH machinery
    * ([[graft.operators.Dedup.minhashCandidates]] + est ≥ 0.5)
    * restricted to id_a < id_b. Matching is against earlier-ARRIVED,
    * not earlier-KEPT docs: no verdict depends on another verdict
    * (no recursive chain), which is what makes the operator
    * order-stable, SQL-expressible, and micro-batch-split invariant —
    * the streaming twin emits IDENTICAL verdicts for any id-ordered
    * micro-batch split (specced).
    *
    * Planted wave: dd16's recrawls (+5M, corpus dups — n_corpus > 0,
    * drop) and new pages (+6M, suffix-disjoint from the corpus —
    * kept unless a NATURAL base-doc near-dup pair makes two new pages
    * match each other, where the later arrival loses, as it should),
    * plus each new page RE-SUBMITTED later in the wave (+6.3M, last
    * word lost in the second fetch): absent from the corpus, caught
    * only by the within-stream rule — dd16 would keep it.
    *
    * Scale: the corpus probe is dd16's two bounded map-only corpus
    * passes; within-stream matching is batch-sized end to end (bands
    * of the checkpointed batch signatures through the count-gated
    * 2..50 buckets). The streaming twin appends each micro-batch's
    * signatures to a cumulative store and probes it like a second
    * corpus — per micro-batch cost stays batch-bounded; the store
    * grows by EVERY arrived doc's signature (512 B/doc), kept or
    * not — matching is against earlier-ARRIVED, not earlier-kept
    * (the non-recursive rule that makes verdicts micro-batch-split
    * invariant), so size the store to the arrival stream.
    */
  def st15IngestDedup(spark: SparkSession, dir: String): DataFrame = {
    val D = graft.operators.Dedup
    val corpusSigs = D.ensureMinhashSigArtifact(spark, dir)
      .select(col("doc_id").as("cid"), col("sig").as("csig"))
    // kernel once (the dd16 barrier rule), then the post-checkpoint
    // coalesce: kernel parallel below, consumers read a few partitions
    // (sf1-safe, guide §2.2)
    val batchSigs = Tables.ckptNarrow(st15Wave(spark, dir)
      .select(col("doc_id").as("nid"),
        graft.functions.text.minhash_sig(col("text"), 64, 3).as("nsig")), 8)
    st15Verdicts(corpusSigs, batchSigs, None)
  }

  /** The planted crawl wave (dd16's batch + the re-submissions). */
  private[graft] def st15Wave(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.spread(Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text")))
    val ws = graft.operators.TextAnalysis.words(col("text"))
    val suffixed = (a: org.apache.spark.sql.Column) =>
      array_join(transform(a, w => concat(w, lit("~new"))), " ")
    base.filter(col("doc_id") % 7 === 3)
      .select((col("doc_id") + 5000000L).as("doc_id"),
        graft.operators.TextAnalysis.dropLastWord(col("text")).as("text"))
      .unionAll(base.filter(col("doc_id") % 7 === 5)
        .select((col("doc_id") + 6000000L).as("doc_id"),
          suffixed(ws).as("text")))
      .unionAll(base.filter(col("doc_id") % 7 === 5)
        .select((col("doc_id") + 6300000L).as("doc_id"),
          suffixed(slice(ws, lit(1), greatest(size(ws) - 1, lit(0))))
            .as("text")))
  }

  /** Verdicts for one signature frame against corpus + optional store
    * + its own earlier-id members. All three match sources are
    * batch-bounded per call. */
  private[graft] def st15Verdicts(corpusSigs: DataFrame,
      batchSigs: DataFrame, storeSigs: Option[DataFrame]): DataFrame = {
    val D = graft.operators.Dedup
    val corpusM = D.corpusProbeMatches(corpusSigs, batchSigs)
      .groupBy(col("nid").as("new_id")).agg(count(lit(1)).as("n_corpus"))
    val asSigs = batchSigs
      .select(col("nid").as("doc_id"), col("nsig").as("sig"))
    val within = D.verifiedPairs(D.minhashCandidates(asSigs), asSigs,
      0.5, "est").select(col("id_b").as("nid"))
    // the store probes like a second corpus: one-sided cap, in-place
    // verify, nothing store-sized shuffles
    val matches = storeSigs.fold(within) { st =>
      within.unionAll(D.corpusProbeMatches(
          st.select(col("nid").as("cid"), col("nsig").as("csig")),
          batchSigs)
        .select(col("nid")))
    }
    val streamM = matches
      .groupBy(col("nid").as("new_id")).agg(count(lit(1)).as("n_stream"))
    batchSigs.select(col("nid").as("new_id"))
      .join(broadcast(corpusM), Seq("new_id"), "left_outer")
      .join(broadcast(streamM), Seq("new_id"), "left_outer")
      .select(col("new_id"),
        coalesce(col("n_corpus"), lit(0L)).as("n_corpus"),
        coalesce(col("n_stream"), lit(0L)).as("n_stream"))
      .withColumn("keep", col("n_corpus") === 0L && col("n_stream") === 0L)
      .orderBy(col("new_id"))
  }

  final case class DocRow(doc_id: Long, text: String)

  /** Streaming twin: the gate as a foreachBatch maintainer. Each
    * micro-batch (1) signs its documents once, (2) probes corpus +
    * the cumulative signature store + its own earlier-id members,
    * (3) emits verdicts, (4) appends its signatures to the store.
    * The verdict frame is EAGERLY materialized before the append —
    * a lazy plan would re-read the store after step 4 and match
    * every doc against itself. Arrival order is the dedup order:
    * under an id-ordered split this emits exactly the batch twin's
    * verdicts (specced for random admissible splits).
    */
  def st15Stream(corpusSigs: DataFrame, storePath: String)(
      batchDocs: DataFrame, batchId: Long): DataFrame = {
    val spark = batchDocs.sparkSession
    val batchSigs = batchDocs.select(col("doc_id").as("nid"),
        graft.functions.text.minhash_sig(col("text"), 64, 3).as("nsig"))
      .localCheckpoint(false)
    // existence via the Hadoop FS API — the store lives wherever the
    // checkpoint does at scale (HDFS/S3), not on the driver's local FS
    val hPath = new org.apache.hadoop.fs.Path(storePath)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val store =
      if (fs.exists(hPath)) Some(spark.read.parquet(storePath)) else None
    val out = st15Verdicts(corpusSigs, batchSigs, store)
      .localCheckpoint() // materialize BEFORE the store append
    // an empty micro-batch must not append an empty parquet dir the
    // next batch's store read cannot infer a schema from
    if (!batchSigs.isEmpty) batchSigs.write.mode("append").parquet(storePath)
    out
  }

  // ---------------------------------------------------------------- st16
  /** Point-in-time (PIT) correct dimension join — the CONSUMER of
    * st14's SCD2 table, and the feature-store staple (Feast/Tecton
    * "point-in-time join"): every fact row joins the attribute version
    * that was VALID AT ITS EVENT TIME, never a later one — the
    * train-serve leakage guard. A fact at sec s gets the version with
    * valid_from ≤ s < valid_to (second granularity: all facts in one
    * second see that second's FINAL state, so a fact can carry an
    * `attr` differing from its own event_type when a later change
    * lands in the same second — the dimension-grain effect the spec
    * pins).
    *
    * Scale: NOT a range join (an interval-overlap theta join explodes
    * and falls to BroadcastNestedLoop) — the union+last_value AS-OF
    * shape: version-open markers and facts union into one per-user
    * timeline ordered by (t, kind, version); a running `last(…,
    * ignoreNulls)` carries the open version onto every fact. ONE
    * user_id exchange, window partitions bounded per user (the st02
    * argument); output ∝ facts. The oracle cross-checks this window
    * formulation against the literal interval join — two independent
    * formulations, one semantics.
    */
  def st16PitJoin(spark: SparkSession, dir: String): DataFrame = {
    val raw = rawEvents(spark, dir)
    // Planted same-SECOND attribute changes: every `event_id % 97 == 13`
    // event re-enters with a "_chg" type at the SAME sec. The natural
    // corpus has zero same-second type flips, which would leave both the
    // empty-interval rule and the dimension-grain effect (attr ≠ own
    // event_type) untested by the oracle; the plants make both live: the
    // original fact at that second must pick up the plant's version.
    // Plant ids offset by max(event_id)+1 — provably past every raw id
    // at ANY scale factor (a fixed +5M would collide once events outgrow
    // it and silently corrupt the within-second order all three
    // formulations share — review r10c); the one-row agg broadcasts.
    val mx = raw.agg((max(col("event_id")) + 1L).as("__mx"))
    val planted = raw.filter(col("event_id") % 97 === 13)
      .crossJoin(broadcast(mx))
      .select(col("user_id"), (col("event_id") + col("__mx")).as("event_id"),
        concat(col("event_type"), lit("_chg")).as("event_type"),
        col("sec"))
    val ev = raw.unionByName(planted)
    val markers = scd2VersionsOf(ev)
      .select(col("user_id"), col("valid_from_sec").as("t"),
        lit(0).as("k"), col("version"), col("event_type").as("attr"),
        lit(null).cast(LongType).as("event_id"),
        lit(null).cast(StringType).as("ev_type"))
    val facts = ev
      .select(col("user_id"), col("sec").as("t"), lit(1).as("k"),
        lit(null).cast(LongType).as("version"),
        lit(null).cast(StringType).as("attr"),
        col("event_id"), col("event_type").as("ev_type"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t"), col("k"), col("version"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    markers.unionAll(facts)
      .withColumn("v", last(col("version"), ignoreNulls = true).over(w))
      .withColumn("a", last(col("attr"), ignoreNulls = true).over(w))
      .filter(col("k") === 1)
      .select(col("event_id"), col("user_id"), col("t").as("sec"),
        col("ev_type").as("event_type"), col("v").as("version"),
        col("a").as("attr"))
      .orderBy(col("event_id"))
  }

  /** Oracle: st14's version chain + the LITERAL interval join
    * (valid_from ≤ sec < valid_to) — empty [S, S) intervals from
    * two same-second changes self-exclude, so exactly one version
    * matches every fact. */
  val st16Sql: String =
    """WITH raw AS (
      |  SELECT user_id, event_id, event_type,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS sec
      |  FROM events),
      |ev AS (
      |  SELECT * FROM raw
      |  UNION ALL
      |  SELECT user_id,
      |    event_id + (SELECT MAX(event_id) + 1 FROM raw),
      |    event_type || '_chg', sec
      |  FROM raw WHERE event_id % 97 = 13),
      |ch AS (
      |  SELECT * FROM (
      |    SELECT user_id, event_id, event_type, sec,
      |      lag(event_type) OVER (PARTITION BY user_id
      |        ORDER BY sec, event_id) AS prev
      |    FROM ev)
      |  WHERE prev IS NULL OR prev <> event_type),
      |v AS (
      |  SELECT user_id, event_type, sec AS valid_from_sec,
      |    row_number() OVER w AS version,
      |    lead(sec) OVER w AS valid_to_sec
      |  FROM ch
      |  WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id))
      |SELECT e.event_id, e.user_id, e.sec, e.event_type,
      |  CAST(v.version AS BIGINT) AS version, v.event_type AS attr
      |FROM ev e JOIN v ON v.user_id = e.user_id
      |  AND v.valid_from_sec <= e.sec
      |  AND (v.valid_to_sec IS NULL OR e.sec < v.valid_to_sec)
      |ORDER BY e.event_id""".stripMargin

  final case class PitOut(event_id: Long, user_id: Long, sec: Long,
      event_type: String, version: Long, attr: String)

  /** Streaming twin: the fact stream tagged with the version valid at
    * its event time, maintained from the SAME stream (the st14 fold) —
    * st02's watermark buffering, folding ripe events per SECOND so
    * every fact in a second sees that second's final state (the batch
    * grain). A fact emits exactly once, when its second ripens; the
    * open version rides in state (st14's no-gap-horizon rule).
    */
  def st16Stream(events: Dataset[FunnelEv],
      latenessSec: Long = 7200L): Dataset[PitOut] = {
    import events.sparkSession.implicits._
    events.map(e => FunnelEvW(e.user_id, e.sec, e.event_id, e.event_type,
        new java.sql.Timestamp(e.sec * 1000L)))
      .withWatermark("ts", s"$latenessSec seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Scd2Buf, PitOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, evs: Iterator[FunnelEvW], state: GroupState[Scd2Buf]) =>
          val wm = state.getCurrentWatermarkMs() / 1000L
          val st0 = state.getOption
            .getOrElse(Scd2Buf(Nil, "", 0L, 0L, live = false))
          val (ripe, pend) = ripen[FunnelLite](wm,
            st0.pend ++ evs.map(e => FunnelLite(e.sec, e.event_id,
              e.event_type)), _.sec, _.event_id)
          var cur: Option[(String, Long, Long)] =
            if (st0.live) Some((st0.curType, st0.curFrom, st0.version))
            else None
          var out = List.empty[PitOut]
          // per-SECOND fold: all changes of a second apply before any
          // of its facts emit — the batch interval grain
          ripe.groupBy(_.sec).toSeq.sortBy(_._1).foreach { case (s, g) =>
            g.foreach { e =>
              cur match {
                case Some((t, _, _)) if t == e.event_type => ()
                case Some((_, _, v)) =>
                  cur = Some((e.event_type, e.sec, v + 1))
                case None => cur = Some((e.event_type, e.sec, 1L))
              }
            }
            val (t, _, v) = cur.get
            g.foreach(e =>
              out ::= PitOut(e.event_id, user, e.sec, e.event_type, v, t))
          }
          state.update(cur match {
            case Some((t, f, v)) => Scd2Buf(pend, t, f, v, live = true)
            case None => Scd2Buf(pend, "", 0L, 0L, live = false)
          })
          armSessionWakeup(state, pend.map(_.sec), None)
          out.reverseIterator
      }
  }

  // ----------------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st18_oplog_merge" -> (st18OplogMerge _),
    "st19_oplog_view" -> (st19OplogView _),
    "st20_view_sink" -> (st20ViewSink _),
    "st17_distribution_drift" -> (st17DistributionDrift _),
    "st16_pit_join" -> (st16PitJoin _),
    "st15_ingest_dedup" -> (st15IngestDedup _),
    "st14_scd2" -> (st14Scd2 _),
    "st07_stream_enrich" -> (st07StreamEnrich _),
    "st01_windowed_agg" -> (st01WindowedAgg _),
    "st02_sessionize" -> (st02Sessionize _),
    "st03_stream_dedup" -> (st03StreamDedup _),
    "st04_interval_join" -> (st04IntervalJoin _),
    "st08_abandoned_clicks" -> (st08AbandonedClicks _),
    "st05_latest_state" -> (st05LatestState _),
    "st06_asof_join" -> (st06AsofJoin _),
    "st09_stream_ema" -> (st09StreamEma _),
    "st10_window_quantiles" -> (st10WindowQuantiles _),
    "st11_heavy_hitters" -> (st11HeavyHitters _),
    "st12_anomaly_windows" -> (st12AnomalyWindows _),
    "st13_session_funnel" -> (st13SessionFunnel _))

  val oracle: Map[String, String] = Map(
    "st18_oplog_merge" -> st18Sql,
    "st19_oplog_view" -> st19Sql,
    "st20_view_sink" -> st20Sql,
    "st17_distribution_drift" -> st17Sql,
    "st16_pit_join" -> st16Sql,
    "st15_ingest_dedup" -> graft.functions.KernelOracleSql.st15Sql,
    "st14_scd2" -> st14Sql,
    "st07_stream_enrich" -> st07Sql,
    "st01_windowed_agg" -> st01Sql,
    "st02_sessionize" -> st02Sql,
    "st03_stream_dedup" -> st03Sql,
    "st04_interval_join" -> st04Sql,
    "st08_abandoned_clicks" -> st08Sql,
    "st05_latest_state" -> st05Sql,
    "st06_asof_join" -> st06Sql,
    "st09_stream_ema" -> st09Sql,
    "st10_window_quantiles" -> st10Sql,
    "st11_heavy_hitters" -> st11Sql,
    "st12_anomaly_windows" -> st12Sql,
    "st13_session_funnel" -> st13Sql)
}
