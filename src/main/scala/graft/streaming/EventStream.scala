package graft.streaming

import graft.operators.OracleSql
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming operators over the events stream.
  *
  * Two session-window implementations:
  *  - `sessionWindowAgg`: the declarative built-in `session_window` — the
  *    right default; Catalyst handles state store layout and watermark GC.
  *  - `statefulUserStats`: `flatMapGroupsWithState` custom state — the escape
  *    hatch for state machines `session_window` can't express (here: running
  *    per-user totals emitted once per micro-batch).
  *
  * At scale: state is partitioned by the group key (user_id) across
  * executors; the watermark bounds state size — without it a 100 TB stream
  * accumulates state forever. Every query here replays its input through
  * a real streaming query with `Replay`, so batch/stream parity is
  * testable.
  */
object EventStream {

  /** events schema when TIMESTAMP(NANOS) is read as a raw long (see
    * Tables.events). */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType), // nanos
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Gap-based session aggregation with the built-in session_window.
    * 10-minute watermark: late events beyond it are dropped and their
    * session state garbage-collected. */
  def sessionWindowAgg(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    events
      .withColumn("ets", timestamp_millis(graft.functions.TimeFunctions.nsToMs("ts")))
      .withWatermark("ets", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ets"), s"$gapMinutes minutes"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum("value"), 2).as("total_value"))
      .select(col("user_id"),
        unix_millis(col("session_window.start")).as("start_ms"),
        unix_millis(col("session_window.end")).as("end_ms"),
        col("n_events"), col("total_value"))

  /** Stream-stream interval join: each purchase joined to the same user's
    * clicks from the preceding hour. Both sides carry watermarks and the
    * join has a two-sided time-range constraint — exactly what Spark needs
    * to bound join state and GC it as the watermark advances (without the
    * range, stream-stream join state grows forever at 100 TB). */
  def clickPurchaseJoin(events: DataFrame): DataFrame = {
    val withTs = events.withColumn("ets",
      timestamp_millis(graft.functions.TimeFunctions.nsToMs("ts")))
    val clicks = withTs.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ets").as("cts"))
      .withWatermark("cts", "1 hour")
    val purchases = withTs.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ets").as("pts"))
      .withWatermark("pts", "1 hour")
    purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("cts") <= col("pts") &&
        col("cts") >= col("pts") - expr("INTERVAL 1 HOUR"))
      .select(col("purchase_id"), col("p_user").as("user_id"), col("click_id"),
        unix_millis(col("pts")).as("purchase_ms"), unix_millis(col("cts")).as("click_ms"))
  }

  case class UserEvent(user_id: Long, value: Double)
  case class UserStats(user_id: Long, n_events: Long, total_value: Double)
  case class FunnelEvent(user_id: Long, event_type: String, ms: Long)
  case class FunnelState(user_id: Long, v_ms: Long, c_ms: Long, p_ms: Long)

  /** Custom state machine via flatMapGroupsWithState: running per-user event
    * count and value total, emitted on every update. */
  def statefulUserStats(events: DataFrame): Dataset[UserStats] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id"), col("value")).as[UserEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserStats, UserStats](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[UserEvent], state: GroupState[UserStats]) =>
          val prev = state.getOption.getOrElse(UserStats(uid, 0L, 0.0))
          var n = prev.n_events
          var tot = prev.total_value
          rows.foreach { e => n += 1; tot += e.value }
          val next = UserStats(uid, n, math.rint(tot * 100) / 100)
          state.update(next)
          Iterator(next)
      }
  }

  /** Per-user funnel FRONTIERS as flatMapGroupsWithState custom state: the
    * first view, first click at-or-after it, first purchase at-or-after
    * that — a state machine session_window can't express (stage order
    * matters, not time gaps). State is three longs per user (−1 = stage not
    * reached), partitioned by user across executors; frontiers are monotone
    * non-increasing once set, which is what makes the finalize step's
    * min-of-emitted-values correct under multi-batch replay. Cross-batch
    * assumption (documented, exact for the single-file replay harness):
    * batches arrive in event-time order — an out-of-order click older than
    * a later-discovered view would need a watermark-held event buffer. */
  def funnelFrontiers(events: DataFrame): Dataset[FunnelState] = {
    val spark = events.sparkSession
    import spark.implicits._
    val none = Long.MaxValue
    events.select(col("user_id"), col("event_type"),
        graft.functions.TimeFunctions.nsToMs("ts").as("ms"))
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelState](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
          val prev = state.getOption.getOrElse(FunnelState(uid, -1L, -1L, -1L))
          val evs = rows.toSeq
          def dec(x: Long) = if (x < 0) none else x
          def minAtOrAfter(tpe: String, lo: Long): Long =
            evs.iterator.filter(e => e.event_type == tpe && e.ms >= lo)
              .map(_.ms).foldLeft(none)(math.min)
          val v = math.min(dec(prev.v_ms), minAtOrAfter("view", Long.MinValue))
          val c = if (v == none) none
            else math.min(dec(prev.c_ms), minAtOrAfter("click", v))
          val p = if (c == none) none
            else math.min(dec(prev.p_ms), minAtOrAfter("purchase", c))
          def enc(x: Long) = if (x == none) -1L else x
          val next = FunnelState(uid, enc(v), enc(c), enc(p))
          state.update(next)
          Iterator(next)
      }
  }

  /** Driver-contract entry: the ordered view→click→purchase funnel computed
    * through the streaming state machine, finalized to the same 3-stage
    * count table as the batch q_events_funnel and oracled against the SAME
    * SQL — streaming/batch parity on custom-state logic, not just built-in
    * aggregations. */
  def streamingFunnel(s: SparkSession, dir: String): DataFrame = {
    val frontier = runOnBatch(s, dir, df => funnelFrontiers(df).toDF(),
      "stream_funnel", OutputMode.Update)
    // latest frontier per user = min of emitted non-negative values (the
    // frontiers only move down once set); null ⇒ stage never reached
    val last = frontier.groupBy("user_id").agg(
      min(when(col("v_ms") >= 0, col("v_ms"))).as("v"),
      min(when(col("c_ms") >= 0, col("c_ms"))).as("c"),
      min(when(col("p_ms") >= 0, col("p_ms"))).as("p"))
    last.filter(col("v").isNotNull)
      .agg(lit("1_view").as("stage"), count(lit(1)).as("n_users"))
      .unionByName(last.filter(col("c").isNotNull)
        .agg(lit("2_click_after_view").as("stage"), count(lit(1)).as("n_users")))
      .unionByName(last.filter(col("p").isNotNull)
        .agg(lit("3_purchase_after_click").as("stage"), count(lit(1)).as("n_users")))
      .orderBy("stage")
  }

  /** Batch-equivalent oracle: identical to q_events_funnel's. */
  val streamingFunnelSql: String =
    """WITH ev AS (
      |  SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events
      |), views AS (
      |  SELECT user_id, min(ms) AS v_ms FROM ev WHERE event_type = 'view' GROUP BY user_id
      |), clicks AS (
      |  SELECT e.user_id, min(ms) AS c_ms
      |  FROM ev e JOIN views USING (user_id)
      |  WHERE event_type = 'click' AND ms >= v_ms GROUP BY e.user_id
      |), purchases AS (
      |  SELECT e.user_id, min(ms) AS p_ms
      |  FROM ev e JOIN clicks USING (user_id)
      |  WHERE event_type = 'purchase' AND ms >= c_ms GROUP BY e.user_id
      |)
      |SELECT '1_view' AS stage, count(*) AS n_users FROM views
      |UNION ALL SELECT '2_click_after_view', count(*) FROM clicks
      |UNION ALL SELECT '3_purchase_after_click', count(*) FROM purchases
      |ORDER BY stage""".stripMargin

  case class AttrEvent(user_id: Long, event_id: Long, event_type: String,
      ms: Long, value: Double)
  case class AttrState(touch_ms: Long, touch_type: String)
  case class AttrOut(user_id: Long, purchase_id: Long, value: Double, channel: String)

  /** Last-touch attribution as a flatMapGroupsWithState STATE MACHINE: the
    * state is one (touch_ms, touch_type) pair per user — the latest
    * click/view seen so far — and each purchase emits its channel the
    * moment it arrives (append semantics; no per-user event history is
    * retained, unlike the batch window which sees the whole partition).
    * In-batch arrival order is not guaranteed by the iterator, so each
    * batch's rows are re-ordered by (ms, event_id) in memory — bounded by
    * one user's events in one micro-batch. Cross-batch ordering follows the
    * same event-time-ordered-batches contract as funnelFrontiers
    * (documented there; exact for the single-file replay harness). */
  def attributionMachine(events: DataFrame): Dataset[AttrOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val lookbackMs = 24L * 3600 * 1000
    events.select(col("user_id"), col("event_id"), col("event_type"),
        graft.functions.TimeFunctions.nsToMs("ts").as("ms"), col("value"))
      .as[AttrEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AttrState, AttrOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[AttrEvent], state: GroupState[AttrState]) =>
          var st = state.getOption.getOrElse(AttrState(-1L, ""))
          val out = Seq.newBuilder[AttrOut]
          rows.toSeq.sortBy(e => (e.ms, e.event_id)).foreach { e =>
            e.event_type match {
              case "click" | "view" => st = AttrState(e.ms, e.event_type)
              case "purchase" =>
                val ch = if (st.touch_ms >= 0 && e.ms - st.touch_ms <= lookbackMs)
                  st.touch_type else "organic"
                out += AttrOut(uid, e.event_id, e.value, ch)
              case _ => ()
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** Driver-contract entry: streaming last-touch attribution, finalized to
    * the same per-channel table as the batch q_event_attribution and
    * oracled against the SAME SQL (6th oracled streaming query). */
  def streamingAttribution(s: SparkSession, dir: String): DataFrame = {
    val purchases = runOnBatch(s, dir, df => attributionMachine(df).toDF(),
      "stream_attr", OutputMode.Append)
    purchases.groupBy("channel")
      .agg(count(lit(1)).as("n_purchases"),
        round(sum("value"), 2).as("revenue"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("channel")
  }

  /** Identical to q_event_attribution's oracle. */
  val streamingAttributionSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, value, epoch_ms(ts) AS ms FROM events
      |), touched AS (
      |  SELECT *,
      |    last_value(CASE WHEN event_type IN ('click','view') THEN ms END IGNORE NULLS)
      |      OVER w AS touch_ms,
      |    last_value(CASE WHEN event_type IN ('click','view') THEN event_type END IGNORE NULLS)
      |      OVER w AS touch_type
      |  FROM e
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |), attributed AS (
      |  SELECT CASE WHEN touch_ms IS NOT NULL AND ms - touch_ms <= 86400000
      |              THEN touch_type ELSE 'organic' END AS channel,
      |    value, user_id
      |  FROM touched WHERE event_type = 'purchase'
      |)
      |SELECT channel, count(*) AS n_purchases, round(sum(value), 2) AS revenue,
      |  count(DISTINCT user_id) AS n_users
      |FROM attributed GROUP BY channel ORDER BY channel""".stripMargin

  /** Driver-contract entry: the watermarked stream-stream interval join
    * (each purchase × same-user clicks in the preceding hour) replayed and
    * oracled against the equivalent batch range join. Inner-join matches
    * emit eagerly per micro-batch (the watermark only bounds and GCs join
    * state), so the finite replay emits every pair. */
  def streamingJoin(s: SparkSession, dir: String): DataFrame =
    runOnBatch(s, dir, clickPurchaseJoin, "stream_join",
      OutputMode.Append)
      .orderBy("purchase_id", "click_id")

  /** Batch-equivalent SQL: the same user-keyed 1 h interval join. */
  val streamingJoinSql: String =
    """SELECT p.event_id AS purchase_id, p.user_id, c.event_id AS click_id,
      |  epoch_ms(p.ts) AS purchase_ms, epoch_ms(c.ts) AS click_ms
      |FROM events p
      |JOIN events c
      |  ON p.user_id = c.user_id
      | AND epoch_ms(c.ts) <= epoch_ms(p.ts)
      | AND epoch_ms(c.ts) >= epoch_ms(p.ts) - 3600000
      |WHERE p.event_type = 'purchase' AND c.event_type = 'click'
      |ORDER BY purchase_id, click_id""".stripMargin

  /** LEFT OUTER stream-stream join — the distinct semantics rung above the
    * inner interval join: unmatched purchases are held in state and their
    * NULL-padded rows emit only once the watermark proves no click can
    * still arrive inside the join window (state expiry). Output carries
    * -1 sentinels instead of SQL NULLs (nullable int64 becomes float64 in
    * the driver's pandas — a dtype hash trap). */
  def leftOuterClickPurchase(events: DataFrame): DataFrame = {
    val withTs = events.withColumn("ets",
      timestamp_millis(graft.functions.TimeFunctions.nsToMs("ts")))
    val clicks = withTs.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ets").as("cts"))
      .withWatermark("cts", "1 hour")
    val purchases = withTs.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ets").as("pts"))
      .withWatermark("pts", "1 hour")
    purchases.join(clicks,
        col("p_user") === col("c_user") &&
          col("cts") <= col("pts") &&
          col("cts") >= col("pts") - expr("INTERVAL 1 HOUR"),
        "left_outer")
      .select(col("purchase_id"), col("p_user").as("user_id"),
        coalesce(col("click_id"), lit(-1L)).as("click_id"),
        unix_millis(col("pts")).as("purchase_ms"),
        coalesce(unix_millis(col("cts")), lit(-1L)).as("click_ms"))
  }

  /** The normalized events table as one replay phase of one file: the
    * physical ts type of the source parquet varies across testdata
    * generations (see Tables.events), and the stream reads the long-ns
    * `eventsSchema`. */
  private[graft] def eventsPhase(s: SparkSession, dir: String): Replay.Phase =
    Replay.fixture("events_norm", dir)(Seq(graft.Tables.events(s, dir).coalesce(1))).head

  /** The far-future watermark sentinel as one replay phase: a purchase for
    * user −1 and a click for user −2 at max ts + 10 h. They advance both
    * join sides' watermarks without matching anything. */
  private[graft] def outerSentinelPhase(s: SparkSession, dir: String): Replay.Phase =
    Replay.fixture("outer_sentinel", dir) {
      val farNs = graft.Tables.events(s, dir).agg(max("ts")).head().getLong(0) +
        10L * 3600L * 1000000000L
      Seq(s.createDataFrame(
          java.util.Arrays.asList(
            org.apache.spark.sql.Row(-1L, farNs, -1L, "purchase", 0.0, "{}"),
            org.apache.spark.sql.Row(-2L, farNs, -2L, "click", 0.0, "{}")),
          eventsSchema)
        .coalesce(1))
    }.head

  /** The staging half of streamingJoinOuter, split out so ScaleSmoke can
    * measure staging and replay cost separately. */
  private[graft] def joinOuterPhases(s: SparkSession, dir: String): Seq[Replay.Phase] =
    Seq(eventsPhase(s, dir), outerSentinelPhase(s, dir))

  /** Two-phase replay for the outer join: phase 1 streams the real events;
    * phase 2 delivers the sentinel, so the watermark passes EVERY real
    * purchase's join-window expiry and all retained outer state flushes.
    * The oracle is then the clean batch LEFT JOIN over the real events —
    * no watermark-boundary case analysis left in the contract. The
    * sentinel purchase itself never flushes (the watermark cannot pass its
    * own expiry), so it does not appear in the output. The output is
    * MATCH-GRAIN, so it goes to the parquet file sink. */
  def streamingJoinOuter(s: SparkSession, dir: String): DataFrame =
    Replay.run(s, "stream_outer_out", dir, eventsSchema, OutputMode.Append,
        Replay.FileSink, joinOuterPhases(s, dir))(leftOuterClickPurchase)
      .filter(col("purchase_id") >= 0).orderBy("purchase_id", "click_id")

  /** Batch restatement: the full LEFT interval join over the real events —
    * every unmatched purchase appears exactly once with -1 click columns,
    * which is precisely what the sentinel-advanced watermark guarantees the
    * stream emits. */
  val streamingJoinOuterSql: String =
    """SELECT p.event_id AS purchase_id, p.user_id,
      |  coalesce(c.event_id, -1) AS click_id,
      |  epoch_ms(p.ts) AS purchase_ms,
      |  coalesce(epoch_ms(c.ts), -1) AS click_ms
      |FROM events p
      |LEFT JOIN events c
      |  ON p.user_id = c.user_id
      | AND c.event_type = 'click'
      | AND epoch_ms(c.ts) <= epoch_ms(p.ts)
      | AND epoch_ms(c.ts) >= epoch_ms(p.ts) - 3600000
      |WHERE p.event_type = 'purchase'
      |ORDER BY purchase_id, click_id""".stripMargin

  /** Replay the events table through a real streaming query as one phase
    * into a foreachBatch sink; returns the output, read back lazily. */
  def runOnBatch(
      s: SparkSession,
      dir: String,
      build: DataFrame => DataFrame,
      tag: String,
      mode: OutputMode = OutputMode.Append): DataFrame =
    Replay.run(s, "stream_out_" + tag, dir, eventsSchema, mode, Replay.BatchSink,
      Seq(eventsPhase(s, dir)))(build)

  /** Checkpoint-recovery replay harness (spec-driven): the property
    * checkpoints exist for, which batch parity and backend parity never
    * exercise. The events table is split into two ts-halves, one file and
    * one phase each. `interrupted = true` drains phase 1, STOPS the query
    * (the crash stand-in), then starts a NEW query from the SAME
    * checkpoint to drain phase 2 — source offsets, aggregate/session
    * state, and sink commits must all resume exactly. `interrupted =
    * false` replays both phases through one uninterrupted query with the
    * same batch boundaries. Equality of the two final outputs proves the
    * recovery: losing state at the restart would split every
    * session/window spanning the mid-point. Complete-mode overwrite sink,
    * so the final emission is the full answer in both arms. Returns sorted
    * row renderings.
    *
    * `crashMidBatch = true` hardens the crash stand-in from a clean stop
    * at a batch boundary to a failure INSIDE a micro-batch: the second
    * batch's sink write completes and then the foreachBatch throws — the
    * batch's offsets are in the offset log but its commit never lands, so
    * the restart must REPLAY the batch against the previous state version
    * and the idempotent overwrite sink must absorb the duplicate emission
    * (the exactly-once contract). Replay self-asserts the planted crash
    * actually fired. */
  private[graft] def runSplitReplay(
      s: SparkSession, dir: String, build: DataFrame => DataFrame,
      interrupted: Boolean, crashMidBatch: Boolean = false): Seq[String] = {
    val halves = Replay.fixture("stream_split", dir) {
      val ev = graft.Tables.events(s, dir)
      val mm = ev.agg(min("ts"), max("ts")).head()
      val mid = (mm.getLong(0) + mm.getLong(1)) / 2
      Seq(ev.filter(col("ts") <= mid).coalesce(1), ev.filter(col("ts") > mid).coalesce(1))
    }
    val starts =
      if (crashMidBatch) Seq(Replay.Start(halves, crashAfter = Some(1L)), Replay.Start(Seq(Nil)))
      else if (interrupted) halves.map(h => Replay.Start(Seq(h)))
      else Seq(Replay.Start(halves))
    Replay.restarts(s, "stream_split_out", dir, eventsSchema, OutputMode.Complete,
        Replay.BatchSink, starts)(build)
      .collect().map(_.toString).sorted.toSeq
  }

  case class CdcFeed(doc_id: Long, op: String, h2: String)
  case class CdcSnap(h: String)
  case class CdcEmit(doc_id: Long, action: String, h16: String)

  /** CDC apply as a keyed state machine BOOTSTRAPPED FROM A SNAPSHOT — the
    * production shape of "Kafka change feed onto an existing table": state
    * is initialized from the base snapshot via flatMapGroupsWithState's
    * initial-state overload (the one streaming API rung the other seven
    * queries don't touch), then each arriving op mutates its key's state
    * and emits the post-image (or a delete marker). Ghost guard: U/D on a
    * key that neither the snapshot nor a prior I created is DROPPED, same
    * as the batch MERGE's guard. Per-key this feed carries at most one op,
    * so cross-batch arrival order cannot change the outcome. */
  def cdcApply(feed: DataFrame,
      initial: Dataset[(Long, CdcSnap)]): Dataset[CdcEmit] = {
    val spark = feed.sparkSession
    import spark.implicits._
    val initState = initial.groupByKey(_._1).mapValues(_._2)
    feed.as[CdcFeed]
      .groupByKey(_.doc_id)
      .flatMapGroupsWithState[CdcSnap, CdcEmit](
        OutputMode.Append, GroupStateTimeout.NoTimeout, initState) {
        (id: Long, rows: Iterator[CdcFeed], state: GroupState[CdcSnap]) =>
          val out = Seq.newBuilder[CdcEmit]
          rows.foreach { r =>
            r.op match {
              case "D" if state.exists =>
                state.remove(); out += CdcEmit(id, "delete", "")
              case "U" if state.exists =>
                state.update(CdcSnap(r.h2)); out += CdcEmit(id, "upsert", r.h2.take(16))
              case "I" =>
                state.update(CdcSnap(r.h2)); out += CdcEmit(id, "upsert", r.h2.take(16))
              case _ => () // ghost U/D: dropped, like the batch MERGE guard
            }
          }
          out.result().iterator
      }
  }

  /** The CDC feed (I/U/D ops over documents) as 3 files, one phase each:
    * 3 genuine micro-batches. */
  private[graft] def cdcPhases(s: SparkSession, dir: String): Seq[Replay.Phase] =
    Replay.fixture("stream_cdc_feed", dir) {
      val docs = graft.Tables.documents(s, dir)
      val v2hash = md5(when(col("doc_id") % 7 === 2, concat(col("text"), lit(" rev2")))
        .otherwise(col("text")))
      Seq(docs
        .withColumn("op",
          when(col("doc_id") % 13 === 5 && col("doc_id") % 17 =!= 3, lit("D"))
            .when(col("doc_id") % 17 === 3 && col("doc_id") % 13 =!= 5, lit("I"))
            .when(col("doc_id") % 7 === 2, lit("U")))
        .filter(col("op").isNotNull)
        .select(col("doc_id"), col("op"), v2hash.as("h2"))
        .repartition(3))
    }.flatten.map(Seq(_))

  /** Driver-contract entry: the corpus_upsert_merge CDC feed replayed as a
    * real multi-batch stream (the feed is staged as 3 parquet files =
    * 3 micro-batches) over snapshot-bootstrapped state, then assembled into
    * the SAME post-merge table as the batch MERGE and oracled against the
    * SAME SQL — streaming/batch parity on upsert semantics (8th oracled
    * streaming query). Untouched base rows pass through with rev 0, exactly
    * like a CDC sink. */
  def streamingCdcUpsert(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = graft.Tables.documents(s, dir).filter(col("doc_id") % 17 =!= 3)
      .select(col("doc_id"), md5(col("text")).as("h"))
    val initial = base.as[(Long, String)].map { case (id, h) => (id, CdcSnap(h)) }
    // parquet FILE sink: the emitted key-grain post-images land
    // executor-side, never through a driver memory sink
    val emitted = Replay.run(s, "stream_cdc_out", dir,
        StructType.fromDDL("doc_id BIGINT, op STRING, h2 STRING"), OutputMode.Append,
        Replay.FileSink, cdcPhases(s, dir))(src => cdcApply(src, initial).toDF())
    // CDC-sink assembly: emitted post-images override, deletes drop,
    // untouched base rows pass through as rev 0
    base.join(emitted, Seq("doc_id"), "full_outer")
      .filter(coalesce(col("action"), lit("")) =!= "delete")
      .select(col("doc_id"),
        when(col("action").isNotNull, 1L).otherwise(0L).as("rev"),
        coalesce(col("h16"), substring(col("h"), 1, 16)).as("h16"))
      .orderBy("doc_id")
  }

  /** Batch-equivalent oracle: identical to corpus_upsert_merge's MERGE. */
  val streamingCdcUpsertSql: String =
    """WITH base AS (
      |  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 17 <> 3
      |), feed AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 13 = 5 AND doc_id % 17 <> 3 THEN 'D'
      |         WHEN doc_id % 17 = 3 AND doc_id % 13 <> 5 THEN 'I'
      |         WHEN doc_id % 7 = 2 THEN 'U' END AS op,
      |    md5(CASE WHEN doc_id % 7 = 2 THEN text || ' rev2' ELSE text END) AS h2
      |  FROM documents
      |  WHERE doc_id % 13 = 5 OR doc_id % 17 = 3 OR doc_id % 7 = 2
      |)
      |SELECT coalesce(base.doc_id, feed.doc_id) AS doc_id,
      |  CAST(CASE WHEN op IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS rev,
      |  substr(coalesce(h2, h), 1, 16) AS h16
      |FROM base FULL OUTER JOIN feed ON base.doc_id = feed.doc_id
      |WHERE coalesce(op, '') <> 'D' AND (h IS NOT NULL OR op = 'I')
      |ORDER BY doc_id""".stripMargin

  /** Streaming deduplication: collapse retriggered events — duplicates of
    * the same (user_id, event_type) within a minute — then count survivors
    * per event_type. `dropDuplicates` holds one state row per key; the
    * dedup key INCLUDES the watermarked event-time column (`mb`, the minute
    * bucket the watermark is declared on), which is what lets the state
    * store GC keys older than the watermark — without that, a 100 TB
    * stream's dedup state grows forever. Output depends only on which KEYS
    * exist, never on which duplicate arrived first, so batch parity is
    * exact. */
  def dedupCountsByType(events: DataFrame): DataFrame = {
    val tsMs = graft.functions.TimeFunctions.nsToMs("ts")
    // minute-floor without div: x - pmod(x, m) is the exact floor multiple
    val minuteMs = tsMs - pmod(tsMs, lit(60000L))
    events
      .withColumn("mb", timestamp_millis(minuteMs))
      .withWatermark("mb", "10 minutes")
      .dropDuplicates("user_id", "event_type", "mb")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_dedup"))
  }

  /** Driver-contract entry: watermarked streaming dedup over the sf dir. */
  def streamingDedup(s: SparkSession, dir: String): DataFrame =
    // Complete mode: the finite replay must emit counts for keys still
    // inside the watermark horizon too
    runOnBatch(s, dir, dedupCountsByType, "stream_dedup",
      OutputMode.Complete)
      .orderBy("event_type")

  /** Batch-equivalent SQL: distinct (user, type, minute) keys per type. */
  val streamingDedupSql: String =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n_dedup
      |FROM (
      |  SELECT DISTINCT user_id, event_type, epoch_ms(ts) // 60000 AS mb
      |  FROM events
      |)
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Streaming tumbling-window aggregation: hourly (window × event_type)
    * counts and value sums under a watermark — the third core streaming
    * shape next to sessionization and dedup. Values summed in exact integer
    * cents: streaming state accumulates in arrival order, a double sum
    * would re-associate against the batch oracle. */
  def tumblingCountsByType(events: DataFrame): DataFrame =
    events
      .withColumn("ets", timestamp_millis(graft.functions.TimeFunctions.nsToMs("ts")))
      .withColumn("cents", round(col("value") * 100).cast("long"))
      .withWatermark("ets", "1 hour")
      .groupBy(window(col("ets"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("cents").as("val_cents"))
      .select(unix_millis(col("window.start")).as("hour_ms"),
        col("event_type"), col("n"), col("val_cents"))

  /** Driver-contract entry: watermarked streaming tumbling aggregation. */
  def streamingTumbling(s: SparkSession, dir: String): DataFrame =
    runOnBatch(s, dir, tumblingCountsByType, "stream_tumb",
      OutputMode.Complete)
      .orderBy("hour_ms", "event_type")

  val streamingTumblingSql: String =
    """SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms, event_type,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS val_cents
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY hour_ms, event_type""".stripMargin

  /** Streaming KMV CARDINALITY: approximate distinct users per 6-hour
    * tumbling window via the bounded k=64 K-minimum-values sketch — the
    * SAME TypedImperativeAggregate the batch q_kmv_distinct uses, proving
    * the sketch's mergeability carries to streaming state verbatim (the
    * buffer serializer doubles as the state-store codec). This is the
    * 100 TB way to count uniques in a stream: COUNT(DISTINCT) state grows
    * with cardinality, the sketch state is 64 longs per window forever.
    * The input hash is the engine-portable 15-nibble md5 prefix and the
    * estimator a fixed closed form, so the STREAMING sketch result is
    * hash-exactly oracled by a batch DuckDB restatement. */
  def kmvUsersByWindow(events: DataFrame): DataFrame =
    events
      .withColumn("ets", timestamp_millis(graft.functions.TimeFunctions.nsToMs("ts")))
      .withColumn("v",
        conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
          .cast("long"))
      .withWatermark("ets", "1 hour")
      .groupBy(window(col("ets"), "6 hours"))
      .agg(count(lit(1)).as("n_events"),
        graft.functions.KmvDistinct.kmvDistinct(col("v"), 64).as("kmv_users"))
      .select(unix_millis(col("window.start")).as("win_ms"),
        col("n_events"), col("kmv_users"))

  /** Driver-contract entry: the streaming sketch aggregate (12th oracled
    * streaming query). */
  def streamingKmv(s: SparkSession, dir: String): DataFrame =
    runOnBatch(s, dir, kmvUsersByWindow, "stream_kmv",
      OutputMode.Complete)
      .orderBy("win_ms")

  val streamingKmvSql: String = {
    val v = OracleSql.hexPrefix("h", 15)
    s"""WITH e AS (
       |  SELECT (epoch_ms(ts) // 21600000) * 21600000 AS win_ms,
       |    md5(CAST(user_id AS VARCHAR)) AS h
       |  FROM events
       |), counts AS (
       |  SELECT win_ms, CAST(count(*) AS BIGINT) AS n_events FROM e GROUP BY 1
       |), hv AS (
       |  SELECT DISTINCT win_ms, $v AS v FROM e
       |), ranked AS (
       |  SELECT win_ms, v, row_number() OVER (PARTITION BY win_ms ORDER BY v)
       |    AS rk
       |  FROM hv
       |), agg AS (
       |  SELECT win_ms, count(*) AS n_seen,
       |    max(CASE WHEN rk = 64 THEN v END) AS kth
       |  FROM ranked GROUP BY win_ms
       |)
       |SELECT c.win_ms, c.n_events,
       |  CASE WHEN a.kth IS NULL THEN CAST(a.n_seen AS BIGINT)
       |    ELSE CAST(round(63.0 * 1152921504606846976.0 / a.kth) AS BIGINT)
       |  END AS kmv_users
       |FROM agg a JOIN counts c ON a.win_ms = c.win_ms
       |ORDER BY c.win_ms""".stripMargin
  }

  /** Streaming HOPPING-window aggregation: the slide variant of
    * tumblingCountsByType — each event lands in window/slide = 2 overlapping
    * windows, state is one row per (window × type) bounded by the watermark.
    * Same integer-cents parity rule. */
  def hoppingCountsByType(events: DataFrame): DataFrame =
    events
      .withColumn("ets", timestamp_millis(graft.functions.TimeFunctions.nsToMs("ts")))
      .withColumn("cents", round(col("value") * 100).cast("long"))
      .withWatermark("ets", "1 hour")
      .groupBy(window(col("ets"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("cents").as("val_cents"))
      .select(unix_millis(col("window.start")).as("win_ms"),
        col("event_type"), col("n"), col("val_cents"))

  /** Driver-contract entry: watermarked streaming hopping aggregation,
    * oracled against the same replicate-by-offset SQL as the batch
    * q_events_hopping (7th oracled streaming query). */
  def streamingHopping(s: SparkSession, dir: String): DataFrame =
    runOnBatch(s, dir, hoppingCountsByType, "stream_hop",
      OutputMode.Complete)
      .orderBy("win_ms", "event_type")

  val streamingHoppingSql: String =
    """WITH e AS (
      |  SELECT epoch_ms(ts) AS ms, event_type,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events
      |), rep AS (
      |  SELECT (ms // 1800000) * 1800000 - k.off AS win_ms, event_type, cents
      |  FROM e CROSS JOIN (VALUES (0), (1800000)) AS k(off)
      |)
      |SELECT win_ms, event_type, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(cents) AS BIGINT) AS val_cents
      |FROM rep GROUP BY win_ms, event_type
      |ORDER BY win_ms, event_type""".stripMargin

  /** Driver-contract entry: streaming sessionization over the sf dir,
    * deterministically ordered. Oracled: the finite replay must produce the
    * exact batch gap-sessionization (StreamingSpec proves parity; the DuckDB
    * hash compare re-proves it per round), with session_window's end
    * semantics — end = last event + gap, not last event. */
  def streamingSessionize(s: SparkSession, dir: String): DataFrame =
    // Complete mode: a finite replay must emit sessions still inside the
    // watermark horizon too (Append would hold the last ~10 min in state)
    runOnBatch(s, dir, df => sessionWindowAgg(df), "stream_sess",
      OutputMode.Complete)
      .orderBy("user_id", "start_ms")

  /** Batch-equivalent SQL for the streaming session aggregation: gap-based
    * sessionization where a >30-min silence starts a new session, and the
    * reported end is last-event + gap (session_window semantics). */
  val streamingSessionizeSql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, value, epoch_ms(ts) AS ms,
      |    CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
      |           OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
      |), sess AS (
      |  SELECT user_id, value, ms,
      |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ms, event_id
      |                      ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM flagged
      |)
      |SELECT user_id, min(ms) AS start_ms, max(ms) + 1800000 AS end_ms,
      |  count(*) AS n_events, round(sum(value), 2) AS total_value
      |FROM sess GROUP BY user_id, session_id
      |ORDER BY user_id, start_ms""".stripMargin

  /** STREAM-STATIC enrichment join — the most common production streaming
    * join and the one join rung the others don't cover: each arriving event
    * joins a STATIC dimension (per-user value tier precomputed from the
    * batch table). Stateless by construction — no watermark, no join state,
    * the static side broadcast to every micro-batch — which is exactly why
    * it scales where stream-stream joins need state GC: at 100 TB the
    * stream side never buffers, and the dim refreshes by swapping the
    * broadcast. Aggregated per (tier, event_type) in Complete mode. */
  def streamingEnrich(s: SparkSession, dir: String): DataFrame = {
    val tsMs = graft.functions.TimeFunctions.nsToMs("ts")
    val dim = graft.Tables.events(s, dir)
      .select(col("user_id"), round(col("value") * 100).cast("long").as("cents"))
      .groupBy("user_id")
      .agg(sum("cents").as("total_cents"))
      .select(col("user_id").as("dim_user"),
        when(col("total_cents") >= 350000L, "gold")
          .when(col("total_cents") >= 310000L, "silver")
          .otherwise("bronze").as("tier"))
    runOnBatch(s, dir, src =>
      src.join(org.apache.spark.sql.functions.broadcast(dim),
          src("user_id") === dim("dim_user"))
        .groupBy("tier", "event_type")
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("val_cents")),
      "stream_enrich",
      OutputMode.Complete)
      .orderBy("tier", "event_type")
  }

  /** Batch restatement: the same dim join and aggregate over the table. */
  val streamingEnrichSql: String =
    """WITH dim AS (
      |  SELECT user_id,
      |    CASE WHEN sum(CAST(round(value * 100) AS BIGINT)) >= 350000 THEN 'gold'
      |         WHEN sum(CAST(round(value * 100) AS BIGINT)) >= 310000 THEN 'silver'
      |         ELSE 'bronze' END AS tier
      |  FROM events GROUP BY user_id
      |)
      |SELECT tier, event_type, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS val_cents
      |FROM events JOIN dim USING (user_id)
      |GROUP BY tier, event_type
      |ORDER BY tier, event_type""".stripMargin

  /** Tumbling 15-min aggregate with a 1-hour watermark in APPEND mode — the
    * building block for streamingLateDrop. */
  private def lateDropAgg(events: DataFrame): DataFrame =
    events
      .withColumn("ets", timestamp_millis(graft.functions.TimeFunctions.nsToMs("ts")))
      .withWatermark("ets", "1 hour")
      .groupBy(window(col("ets"), "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("val_cents"))
      .select(unix_millis(col("window.start")).as("win_ms"), col("event_type"),
        col("n"), col("val_cents"))

  /** The late-drop phases: the events within 2 h of the global max, then
    * every older event, one file each. */
  private[graft] def latePhases(s: SparkSession, dir: String): Seq[Replay.Phase] =
    Replay.fixture("stream_late", dir) {
      val nsMs = graft.functions.TimeFunctions.nsToMs("ts")
      val ev = graft.Tables.events(s, dir)
      val cut = ev.agg(max(nsMs)).head().getLong(0) - 2L * 3600000L
      Seq(ev.filter(nsMs >= cut).coalesce(1), ev.filter(nsMs < cut).coalesce(1))
    }

  /** WATERMARK LATE-DATA SEMANTICS — the one core streaming behavior the
    * other eight queries don't isolate: rows arriving after the watermark
    * passed their window are DROPPED, not merged. Two phases, so two
    * explicitly ordered micro-batches: batch 1 carries every event within
    * 2 h of the global max M, advancing the watermark to M−1h at its end;
    * batch 2 replays everything older than M−2h — all of it beyond the
    * watermark horizon, so the state store must discard every row. The
    * append-mode output therefore holds ONLY batch-1 windows finalized
    * below the watermark; if late rows leaked in they would CREATE
    * already-expired old windows and emit them immediately, so any leak is
    * visible as extra output rows. The oracle recomputes exactly "batch-1
    * rows, windows closed at or below M−1h" in SQL — batch/stream parity
    * on the drop rule itself. At scale this is the knob that bounds state:
    * without the watermark the 100 TB stream's window state grows forever.
    * Parquet file sink (append-mode windowed agg). */
  def streamingLateDrop(s: SparkSession, dir: String): DataFrame =
    Replay.run(s, "stream_late_out", dir, eventsSchema, OutputMode.Append,
        Replay.FileSink, latePhases(s, dir))(lateDropAgg)
      .orderBy("win_ms", "event_type")

  /** Batch restatement of the drop rule: batch-1 rows only (within 2 h of
    * the max), windows whose end is at or below the final watermark M−1h. */
  val streamingLateDropSql: String =
    """WITH m AS (SELECT max(epoch_ms(ts)) AS mx FROM events),
      |b1 AS (
      |  SELECT epoch_ms(ts) AS ms, event_type, value FROM events, m
      |  WHERE epoch_ms(ts) >= mx - 7200000
      |), agg AS (
      |  SELECT (ms - ms % 900000) AS win_ms, event_type,
      |    CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS val_cents
      |  FROM b1 GROUP BY 1, 2
      |)
      |SELECT win_ms, event_type, n, val_cents FROM agg, m
      |WHERE win_ms + 900000 <= mx - 3600000
      |ORDER BY win_ms, event_type""".stripMargin
}
