package graft

import org.apache.spark.sql.functions._
import graft.streaming.EventStream

class StreamingSpec extends SparkSpec {

  test("streaming session_window agrees with batch sessionization per user") {
    val streamed = EventStream.streamingSessionize(spark, sf).collect()
    val batch = operators.Sessionize.eventsSessionize(spark, sf).collect()
    assert(streamed.map(_.getAs[Long]("n_events")).sum ==
      batch.map(_.getAs[Long]("n_events")).sum)
    val streamedPerUser = streamed.groupBy(_.getAs[Long]("user_id")).view.mapValues(_.length).toMap
    val batchPerUser = batch.groupBy(_.getAs[Long]("user_id")).view.mapValues(_.length).toMap
    assert(streamedPerUser == batchPerUser,
      s"session counts differ: ${streamedPerUser.toSet.diff(batchPerUser.toSet)}")
  }

  test("stream-stream interval join equals the batch formulation") {
    val streamed = EventStream.runOnBatch(spark, sf,
      df => EventStream.clickPurchaseJoin(df),
      "ssjoin")
      .collect()
      .map(r => (r.getAs[Long]("purchase_id"), r.getAs[Long]("click_id"))).toSet
    val ev = Tables.events(spark, sf)
      .withColumn("ms", graft.functions.TimeFunctions.nsToMs("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"), col("ms").as("cms"))
    val batch = ev.filter(col("event_type") === "purchase")
      .join(clicks, col("user_id") === col("c_user") &&
        col("cms") <= col("ms") && col("cms") >= col("ms") - 3600000L)
      .select(col("event_id"), col("click_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch, s"missing=${batch.diff(streamed).take(5)} extra=${streamed.diff(batch).take(5)}")
    assert(streamed.nonEmpty)
  }

  test("left-outer stream join: expiry flushes exactly the unmatched purchases") {
    val rows = EventStream.streamingJoinOuter(spark, sf).collect()
    assert(rows.nonEmpty)
    // no sentinel leakage
    assert(rows.forall(_.getAs[Long]("purchase_id") >= 0))
    // outer rows really were emitted (the whole point of the semantics)
    val outer = rows.filter(_.getAs[Long]("click_id") == -1L)
    assert(outer.nonEmpty, "no null-padded rows — outer state never flushed")
    // and they are exactly the purchases the batch join leaves unmatched
    val ev = Tables.events(spark, sf)
      .withColumn("ms", graft.functions.TimeFunctions.nsToMs("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ms").as("cms"))
    val matched = ev.filter(col("event_type") === "purchase")
      .join(clicks, col("user_id") === col("c_user") &&
        col("cms") <= col("ms") && col("cms") >= col("ms") - 3600000L,
        "left_semi")
      .select("event_id").collect().map(_.getLong(0)).toSet
    val allPurchases = ev.filter(col("event_type") === "purchase")
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(outer.map(_.getAs[Long]("purchase_id")).toSet == allPurchases.diff(matched))
  }

  test("stateful flatMapGroupsWithState accumulates correct per-user totals") {
    val out = EventStream.runOnBatch(spark, sf,
      df => EventStream.statefulUserStats(df).toDF(),
      "stateful")
    // last emitted row per user = final running total = batch groupBy result
    val finalRows = out.groupBy("user_id")
      .agg(max("n_events").as("n_events"))
      .collect().map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("n_events")).toMap
    val batch = Tables.events(spark, sf).groupBy("user_id").count()
      .collect().map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("count")).toMap
    assert(finalRows == batch)
  }

  test("streaming dedup equals batch distinct-key counts per event type") {
    val streamed = EventStream.streamingDedup(spark, sf)
      .collect().map(r => r.getAs[String]("event_type") -> r.getAs[Long]("n_dedup")).toMap
    val batch = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"),
        graft.functions.TimeFunctions.nsToMs("ts").as("ms"))
      .withColumn("mb", col("ms") - pmod(col("ms"), lit(60000L)))
      .select("user_id", "event_type", "mb").distinct()
      .groupBy("event_type").count()
      .collect().map(r => r.getAs[String]("event_type") -> r.getAs[Long]("count")).toMap
    assert(streamed == batch, s"stream=$streamed batch=$batch")
    assert(streamed.values.sum > 0)
  }

  test("streaming tumbling agg equals the batch hourly aggregation") {
    val streamed = EventStream.streamingTumbling(spark, sf)
      .collect().map(r => (r.getAs[Long]("hour_ms"), r.getAs[String]("event_type")) ->
        (r.getAs[Long]("n"), r.getAs[Long]("val_cents"))).toMap
    val ms = graft.functions.TimeFunctions.nsToMs("ts")
    val batch = Tables.events(spark, sf)
      .groupBy((ms - pmod(ms, lit(3600000L))).as("hour_ms"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("c"))
      .collect().map(r => (r.getAs[Long]("hour_ms"), r.getAs[String]("event_type")) ->
        (r.getAs[Long]("n"), r.getAs[Long]("c"))).toMap
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming CDC upsert over snapshot-bootstrapped state equals the batch MERGE") {
    val streamed = streaming.EventStream.streamingCdcUpsert(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> (r.getAs[Long]("rev"), r.getAs[String]("h16")))
      .toMap
    val batch = operators.Corpus.corpusUpsertMerge(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> (r.getAs[Long]("rev"), r.getAs[String]("h16")))
      .toMap
    assert(streamed == batch)
    // the feed has teeth at this SF: inserts/updates present, deletes dropped rows
    assert(streamed.values.exists(_._1 == 1L))
    val baseIds = Tables.documents(spark, sf).filter(col("doc_id") % 17 =!= 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(baseIds.exists(id => !streamed.contains(id)), "a delete should drop a row")
  }

  test("streaming funnel state machine equals the batch funnel counts") {
    val streamed = streaming.EventStream.streamingFunnel(spark, sf)
      .collect().map(r => r.getAs[String]("stage") -> r.getAs[Long]("n_users")).toMap
    val batch = operators.Sessionize.eventsFunnel(spark, sf)
      .collect().map(r => r.getAs[String]("stage") -> r.getAs[Long]("n_users")).toMap
    assert(streamed == batch)
    assert(streamed("1_view") >= streamed("2_click_after_view"))
    assert(streamed("2_click_after_view") >= streamed("3_purchase_after_click"))
  }

  test("streaming hopping windows equal the batch slide aggregation") {
    val streamed = streaming.EventStream.streamingHopping(spark, sf).collect()
      .map(r => (r.getAs[Long]("win_ms"), r.getAs[String]("event_type")) ->
        (r.getAs[Long]("n"), r.getAs[Long]("val_cents"))).toMap
    val batch = operators.Sessionize.eventsHopping(spark, sf).collect()
      .map(r => (r.getAs[Long]("win_ms"), r.getAs[String]("event_type")) ->
        (r.getAs[Long]("n"), r.getAs[Long]("val_cents"))).toMap
    assert(streamed == batch)
  }

  test("streaming attribution state machine equals the batch window attribution") {
    val streamed = streaming.EventStream.streamingAttribution(spark, sf)
      .collect()
      .map(r => r.getAs[String]("channel") ->
        (r.getAs[Long]("n_purchases"), r.getAs[Double]("revenue"),
          r.getAs[Long]("n_users"))).toMap
    val batch = operators.Sessionize.eventsAttribution(spark, sf)
      .collect()
      .map(r => r.getAs[String]("channel") ->
        (r.getAs[Long]("n_purchases"), r.getAs[Double]("revenue"),
          r.getAs[Long]("n_users"))).toMap
    assert(streamed == batch,
      "one carried (touch_ms, touch_type) per user must reproduce the full-window result")
  }

  test("stream-static enrich equals the batch dim-join aggregation") {
    import org.apache.spark.sql.functions._
    val streamed = streaming.EventStream.streamingEnrich(spark, sf).collect()
      .map(r => (r.getAs[String]("tier"), r.getAs[String]("event_type")) ->
        (r.getAs[Long]("n"), r.getAs[Long]("val_cents"))).toMap
    // batch restatement from the raw table
    val ev = Tables.events(spark, sf).select(col("user_id"),
      col("event_type"), round(col("value") * 100).cast("long").as("cents")).collect()
    val tier = ev.groupBy(_.getAs[Long]("user_id"))
      .view.mapValues { rs =>
        val t = rs.map(_.getAs[Long]("cents")).sum
        if (t >= 350000L) "gold" else if (t >= 310000L) "silver" else "bronze"
      }.toMap
    val expected = ev.groupBy(r =>
        (tier(r.getAs[Long]("user_id")), r.getAs[String]("event_type")))
      .view.mapValues(rs => (rs.size.toLong, rs.map(_.getAs[Long]("cents")).sum)).toMap
    assert(streamed == expected)
    // the dim genuinely splits users: more than one tier must appear
    assert(streamed.keys.map(_._1).toSet.size > 1, "tier thresholds degenerate")
  }

  test("streaming neardup equals the batch staged-index probe row-for-row") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("new_doc"), r.getAs[Long]("corpus_doc"),
        r.getAs[Double]("jaccard"))
    val streamed = operators.Dedup.streamingNeardup(spark, sf)
      .collect().map(key).toSeq
    val batch = operators.Dedup.dedupIncrementalStaged(spark, sf)
      .collect().map(key).toSeq
    assert(streamed == batch,
      s"stream/batch near-dup divergence: stream=${streamed.toSet.diff(batch.toSet)} " +
        s"batch=${batch.toSet.diff(streamed.toSet)}")
    assert(streamed.nonEmpty, "fixture must contain at least one near-dup pair")
  }

  test("watermarked neardup: same pair set as the Complete form; every pair emits exactly twice (state GC visible)") {
    val wm = operators.Dedup.streamingNeardupWatermarked(spark, sf).collect()
    val complete = operators.Dedup.streamingNeardup(spark, sf).collect()
      .map(r => (r.getAs[Long]("new_doc"), r.getAs[Long]("corpus_doc")) ->
        r.getAs[Double]("jaccard")).toMap
    assert(wm.nonEmpty, "fixture must contain at least one near-dup pair")
    val wmPairs = wm.map(r =>
      (r.getAs[Long]("new_doc"), r.getAs[Long]("corpus_doc"))).toSet
    assert(wmPairs == complete.keySet,
      "watermarked/Complete pair-set divergence")
    wm.foreach { r =>
      // 1 emission = pair state survived the watermark GC (phase-3 drop);
      // >2 = within-watermark band-duplicate dedup leaked
      assert(r.getAs[Long]("n_emits") == 2L,
        s"pair (${r.getAs[Long]("new_doc")}, ${r.getAs[Long]("corpus_doc")})" +
          s" emitted ${r.getAs[Long]("n_emits")} times, want exactly 2")
      assert(r.getAs[Double]("jaccard") ==
        complete((r.getAs[Long]("new_doc"), r.getAs[Long]("corpus_doc"))))
    }
  }

  test("watermark drops late micro-batch: output is batch-1-only finalized windows") {
    import org.apache.spark.sql.functions._
    val got = streaming.EventStream.streamingLateDrop(spark, sf).collect()
      .map(r => (r.getAs[Long]("win_ms"), r.getAs[String]("event_type")) ->
        (r.getAs[Long]("n"), r.getAs[Long]("val_cents"))).toMap
    assert(got.nonEmpty)
    // hand recompute the drop rule from the raw table
    val nsMs = graft.functions.TimeFunctions.nsToMs("ts")
    val ev = Tables.events(spark, sf).select(nsMs.as("ms"),
      col("event_type"), round(col("value") * 100).cast("long").as("cents")).collect()
    val mx = ev.map(_.getAs[Long]("ms")).max
    val expected = ev
      .filter(_.getAs[Long]("ms") >= mx - 7200000L) // batch-1 membership
      .groupBy(r => (r.getAs[Long]("ms") - r.getAs[Long]("ms") % 900000L,
        r.getAs[String]("event_type")))
      .collect { case (k @ (winMs, _), rs) if winMs + 900000L <= mx - 3600000L =>
        k -> (rs.size.toLong, rs.map(_.getAs[Long]("cents")).sum)
      }.toMap
    assert(got == expected, "streamed late-drop result must equal the batch drop rule")
    // teeth: the late batch REALLY carried rows for already-expired windows —
    // if the watermark leaked them, those old windows would appear in `got`
    val lateWindows = ev.filter(_.getAs[Long]("ms") < mx - 7200000L)
      .map(r => r.getAs[Long]("ms") - r.getAs[Long]("ms") % 900000L).toSet
    assert(lateWindows.nonEmpty, "fixture must actually have late data")
    assert(lateWindows.forall(w => !got.keys.exists(_._1 == w) ||
      expected.keys.exists(_._1 == w)),
      "an old window appears in output without batch-1 support — watermark leak")
  }

  test("streaming kmv: sketch through streaming state equals the batch aggregate") {
    import org.apache.spark.sql.functions._
    val streamed = streaming.EventStream.streamingKmv(spark, sf).collect()
      .map(r => (r.getAs[Long]("win_ms"), r.getAs[Long]("n_events"),
        r.getAs[Long]("kmv_users")))
    // batch parity: same aggregate over the same windows, no streaming
    val ms = functions.TimeFunctions.nsToMs("ts")
    val batch = Tables.events(spark, sf)
      .withColumn("win_ms", (ms - pmod(ms, lit(21600000L))))
      .withColumn("v",
        conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
          .cast("long"))
      .groupBy("win_ms")
      .agg(count(lit(1)).as("n_events"),
        functions.KmvDistinct.kmvDistinct(col("v"), 64).as("kmv_users"))
      .orderBy("win_ms").collect()
      .map(r => (r.getAs[Long]("win_ms"), r.getAs[Long]("n_events"),
        r.getAs[Long]("kmv_users")))
    assert(streamed.toSeq == batch.toSeq,
      "streaming state path diverged from the batch aggregate")
    // estimate sanity: within 50% of the exact distinct count per window
    val exact = Tables.events(spark, sf)
      .withColumn("win_ms", (ms - pmod(ms, lit(21600000L))))
      .groupBy("win_ms").agg(countDistinct("user_id").as("n"))
      .collect().map(r => (r.getAs[Long]("win_ms"), r.getAs[Long]("n"))).toMap
    streamed.foreach { case (w, _, est) =>
      val ex = exact(w)
      assert(est <= ex * 3 / 2 && est >= ex / 2, s"window $w: est $est vs exact $ex")
    }
  }

  test("RocksDB state-store rung: sessionize + kmv parity with the default backend") {
    // the provider class is read from SQLConf at query start, and every
    // streaming query here uses a fresh checkpoint dir, so flipping the
    // rung between calls is a clean per-query switch
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val sessDefault = canon(EventStream.streamingSessionize(spark, sf))
    val kmvDefault = canon(EventStream.streamingKmv(spark, sf))
    spark.conf.set("spark.graft.stateStore", "rocksdb")
    try {
      val sessRocks = canon(EventStream.streamingSessionize(spark, sf))
      val kmvRocks = canon(EventStream.streamingKmv(spark, sf))
      assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass")
        .contains("RocksDB"), "rung did not switch the provider")
      assert(sessRocks == sessDefault,
        "session-window results diverge across state-store backends")
      assert(kmvRocks == kmvDefault,
        "KMV sketch results diverge across state-store backends")
      assert(sessRocks.nonEmpty && kmvRocks.nonEmpty)
    } finally spark.conf.set("spark.graft.stateStore", "hdfs")
  }

  test("checkpoint recovery: stop after batch 1, restart, equals uninterrupted (both backends)") {
    // the property checkpoints exist for: source offsets, aggregation /
    // session state, and sink commits all resume across a stop+restart.
    // Losing state at the restart would split every session (and every
    // KMV window sketch) spanning the ts mid-point split.
    for (backend <- Seq("hdfs", "rocksdb")) {
      spark.conf.set("spark.graft.stateStore", backend)
      try {
        val sessRecovered = EventStream.runSplitReplay(
          spark, sf, df => EventStream.sessionWindowAgg(df), interrupted = true)
        val sessStraight = EventStream.runSplitReplay(
          spark, sf, df => EventStream.sessionWindowAgg(df), interrupted = false)
        assert(sessRecovered.nonEmpty, s"[$backend] empty recovered output")
        assert(sessRecovered == sessStraight,
          s"[$backend] session state did not survive the checkpoint restart")
        val kmvRecovered = EventStream.runSplitReplay(
          spark, sf, EventStream.kmvUsersByWindow, interrupted = true)
        val kmvStraight = EventStream.runSplitReplay(
          spark, sf, EventStream.kmvUsersByWindow, interrupted = false)
        assert(kmvRecovered.nonEmpty, s"[$backend] empty recovered KMV output")
        assert(kmvRecovered == kmvStraight,
          s"[$backend] KMV sketch state did not survive the checkpoint restart")
      } finally spark.conf.set("spark.graft.stateStore", "hdfs")
    }
  }

  test("mid-batch crash recovery: sink written, commit lost, replay equals uninterrupted (both backends)") {
    // Harder than the clean-stop case above: the query dies INSIDE a
    // micro-batch — after the sink write, before the commit log — so the
    // restart must detect the uncommitted batch in the offset log, replay
    // it against the prior state version, and the idempotent overwrite
    // sink must absorb the duplicate emission (the exactly-once
    // contract). The harness self-asserts the planted crash fired.
    for (backend <- Seq("hdfs", "rocksdb")) {
      spark.conf.set("spark.graft.stateStore", backend)
      try {
        val crashed = EventStream.runSplitReplay(
          spark, sf, df => EventStream.sessionWindowAgg(df),
          interrupted = false, crashMidBatch = true)
        val straight = EventStream.runSplitReplay(
          spark, sf, df => EventStream.sessionWindowAgg(df),
          interrupted = false)
        assert(crashed.nonEmpty, s"[$backend] empty post-crash output")
        assert(crashed == straight,
          s"[$backend] mid-batch crash replay diverged from the uninterrupted run")
        val kmvCrashed = EventStream.runSplitReplay(
          spark, sf, EventStream.kmvUsersByWindow,
          interrupted = false, crashMidBatch = true)
        val kmvStraight = EventStream.runSplitReplay(
          spark, sf, EventStream.kmvUsersByWindow, interrupted = false)
        assert(kmvCrashed.nonEmpty, s"[$backend] empty post-crash KMV output")
        assert(kmvCrashed == kmvStraight,
          s"[$backend] KMV state diverged across the mid-batch crash replay")
      } finally spark.conf.set("spark.graft.stateStore", "hdfs")
    }
  }

  test("a replay that fails inside a micro-batch surfaces the failure and leaves nothing behind") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def trees = tmp.listFiles().map(_.getName).filter(_.startsWith("graft_")).toSet
    // stage the input fixture first: only the failing replay's own trees count
    EventStream.runOnBatch(spark, sf, identity, "replay_ok").count()
    val key = "spark.sql.shuffle.partitions"
    val partitions = spark.conf.get(key)
    val before = trees
    val e = intercept[Exception] {
      EventStream.runOnBatch(spark, sf,
        _.select(raise_error(lit("planted replay failure"))), "replay_fail")
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("planted replay failure")),
      s"the build's failure did not surface: $e")
    assert(spark.streams.active.isEmpty, "a failed replay left its query running")
    assert(spark.conf.get(key) == partitions, "shuffle partitions not restored")
    val left = trees.diff(before)
    assert(left.isEmpty, s"a failed replay left trees in java.io.tmpdir: $left")
  }
}
