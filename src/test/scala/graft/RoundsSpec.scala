package graft

import org.apache.spark.graft.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class RoundsSpec extends SparkSpec {

  private def one(n: Long): DataFrame = spark.range(1).select(lit(n).as("n"))
  private def value(df: DataFrame): Long = df.head().getLong(0)

  test("untilStable: a step that never stabilizes fails, naming the loop and the cap") {
    val e = intercept[IllegalStateException] {
      Rounds.untilStable("grow", 3, one(0))((cur, _) =>
        cur.select((col("n") + 1).as("n")))(value)
    }
    assert(e.getMessage.contains("grow") && e.getMessage.contains("3 rounds"),
      e.getMessage)
  }

  test("untilStable: a converging step returns its fixpoint at the first repeat") {
    // 40 → 20 → 10 → 5 → 2 → 1 → 0 → 0: round 7 repeats round 6's signal
    val rounds = new java.util.concurrent.atomic.AtomicInteger
    val out = Rounds.untilStable("halve", 10, one(40)) { (cur, r) =>
      rounds.set(r)
      cur.select(expr("n div 2").as("n"))
    }(value)
    assert(value(out) == 0L)
    assert(rounds.get == 7)
  }

  test("fixed(n) returns init and the state after each of n rounds") {
    val states = Rounds.fixed("sum", 4, one(0))((cur, r) =>
      cur.select((col("n") + r).as("n")))
    assert(states.map(value) == Seq(0L, 1L, 3L, 6L, 10L))
  }

  test("every job of round r is named '<name> round <r>'; the outer names are restored") {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add((e.properties.getProperty("spark.job.description"),
          e.properties.getProperty("callSite.short")))
    }
    sc.setJobDescription("outer job")
    sc.setCallSite("outer site")
    sc.addSparkListener(listener)
    try {
      Rounds.untilStable("halve", 10, one(6))((cur, _) =>
        cur.select(expr("n div 2").as("n")))(value)
      ListenerBusBridge.drain(sc)
      import scala.jdk.CollectionConverters._
      val seen = jobs.asScala.toSeq
      // 6 → 3 → 1 → 0 → 0: init is round 0, the repeat is round 4
      val expected = (0 to 4).map(r => s"halve round $r")
      assert(seen.nonEmpty && seen.forall { case (d, s) => d == s }, seen)
      assert(seen.map(_._1).distinct == expected, seen)
      assert(sc.getLocalProperty("spark.job.description") == "outer job")
      assert(sc.getLocalProperty("callSite.short") == "outer site")
      jobs.clear()
      spark.range(3).count()
      ListenerBusBridge.drain(sc)
      assert(jobs.asScala.toSeq.distinct == Seq(("outer job", "outer site")))
    } finally {
      sc.removeSparkListener(listener)
      sc.setJobDescription(null)
      sc.clearCallSite()
    }
  }
}
