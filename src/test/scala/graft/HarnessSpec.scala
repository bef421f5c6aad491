package graft

import org.apache.spark.graft.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

import java.util.concurrent.{CountDownLatch, TimeUnit}

/** The harness contract: the tests run the library's session shape, Bench
  * attributes Spark work to the query run that caused it, and the gate
  * reads only BASELINE.md's baseline tables. */
class HarnessSpec extends SparkSpec {

  test("the shared test session is GraftSession's shape") {
    // a fresh session of the same context sees only what the session
    // extensions inject, never functions GraftExtensions.install
    // registered on another session
    val fresh = spark.newSession()
    assert(fresh.sql("SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d))")
      .head().getDouble(0) == 11.0)
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.sparkContext.getConf.get("spark.driver.maxResultSize") == "4g")
  }

  test("LayerListener attributes tasks and stages to each run, events delivered late included") {
    val sc = spark.sparkContext
    // holds the shared listener queue at the first task end until both
    // actions have returned, so every task and stage event of both runs
    // reaches the LayerListener after its action is over
    val release = new CountDownLatch(1)
    val gate = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = release.await(60, TimeUnit.SECONDS)
    }
    val layers = new Bench.LayerListener
    sc.addSparkListener(gate)
    sc.addSparkListener(layers)
    def tagged(run: String, phase: String, parts: Int): Unit = {
      sc.setLocalProperty(Bench.RunProp, run)
      sc.setLocalProperty(Bench.PhaseProp, phase)
      try assert(sc.parallelize(1 to 30, parts).map(_ * 2).count() == 30)
      finally {
        sc.setLocalProperty(Bench.RunProp, null)
        sc.setLocalProperty(Bench.PhaseProp, null)
      }
    }
    try {
      tagged("a#1", "build", 3)
      tagged("b#1", "execute", 5)
      assert(sc.parallelize(1 to 10, 2).count() == 10) // untagged: nobody's
      assert(layers.runs.values.map(_.tasks).sum == 0, "task events arrived before the release")
      release.countDown()
      ListenerBusBridge.drain(sc)
      assert(layers.runs.keySet == Set("a#1", "b#1"))
      val (a, b) = (layers.runs("a#1"), layers.runs("b#1"))
      assert((a.jobs, a.buildJobs, a.stages, a.tasks) == ((1, 1, 1, 3)))
      assert((b.jobs, b.buildJobs, b.stages, b.tasks) == ((1, 0, 1, 5)))
      assert(a.stageById.values.map(_.tasks).toSeq == Seq(3))
      assert(b.stageById.values.forall(_.name.startsWith("count at")))
    } finally {
      release.countDown()
      sc.removeSparkListener(gate)
      sc.removeSparkListener(layers)
    }
  }

  test("the gate reads only the median-sec baseline tables of BASELINE.md") {
    val src = scala.io.Source.fromFile("BASELINE.md", "UTF-8")
    val baseline = try Bench.parseBaseline(src.getLines()) finally src.close()
    assert(baseline.size == 296)
    // these four also appear in the state-store table that closes the file
    assert(baseline("streaming_join_outer") == 4.795)
    assert(baseline("streaming_dedup") == 1.917)
    assert(baseline("streaming_sessionize") == 1.330)
    assert(baseline("streaming_kmv") == 1.299)
  }

  test("a query with two baseline rows fails the parse") {
    val header = Seq("| query | median sec | spread |", "|---|---|---|")
    val other = Seq("", "| query | HDFS-backed s | RocksDB s |", "|---|---|---|",
      "| q_a | 9.0 | 8.0 |")
    assert(Bench.parseBaseline((header ++ Seq("| q_a | 1.5 | 1.4–1.6 |") ++ other).iterator) ==
      Map("q_a" -> 1.5))
    val dup = header ++ Seq("| q_a | 1.5 | 1.4–1.6 |", "") ++ header ++ Seq("| q_a | 2.0 | 2.0 |")
    val e = intercept[IllegalArgumentException](Bench.parseBaseline(dup.iterator))
    assert(e.getMessage.contains("q_a"))
  }
}
