package graft

import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructType}
import sources.Quarantine

/** Failure-quarantine ingest: bad records route to a reasoned quarantine
  * relation, good rows flow on, nothing is lost or duplicated. */
class QuarantineSpec extends SparkSpec {

  private val schema = new StructType()
    .add("id", LongType).add("name", StringType).add("x", DoubleType)

  private def stageLines(lines: Seq[String]): String = {
    val dir = tempDir("graft_quar_spec")
    java.nio.file.Files.write(dir.resolve("part-0.jsonl"),
      lines.mkString("\n").getBytes("UTF-8"))
    dir.toString
  }

  test("hand-planted fixture: split is exact, reasons classified, payload intact") {
    val good = """{"id":1,"name":"ok","x":1.5}"""
    val truncated = """{"id":2,"name":"cut","x":2.""" // not JSON at all
    val wrongType = """{"id":3,"name":"bad","x":"zero"}""" // valid JSON, x not a double
    val split = Quarantine.ingest(spark, stageLines(Seq(good, truncated, wrongType)), schema)

    val g = split.good.collect()
    assert(g.length == 1 && g.head.getAs[Long]("id") == 1L &&
      g.head.getAs[Double]("x") == 1.5)

    val q = split.quarantine.collect().map(r =>
      (r.getAs[String]("reason"), r.getAs[String]("raw"))).sortBy(_._2)
    assert(q.map(_._1).toSeq == Seq("malformed_json", "type_mismatch"))
    // raw payload preserved byte-exact for replay/repair
    assert(q.map(_._2).toSeq == Seq(truncated, wrongType))
  }

  test("good + quarantine exactly partition the input (no loss, no leak)") {
    val path = Quarantine.stageCorruptJsonl(spark, sf)
    val total = spark.read.text(path).count()
    val split = Quarantine.ingest(spark, path,
      new StructType().add("event_id", LongType).add("user_id", LongType)
        .add("event_type", StringType).add("value", DoubleType))
    assert(split.good.count() + split.quarantine.count() == total)
    // planted corruption rate: event_id % 13 ∈ {0, 1}
    val events = Tables.events(spark, sf)
    val expectedBad = events.filter("event_id % 13 in (0, 1)").count()
    assert(split.quarantine.count() == expectedBad)
  }

  test("an all-clean file yields an empty quarantine") {
    val lines = Seq("""{"id":10,"name":"a","x":0.25}""", """{"id":11,"name":"b","x":0.5}""")
    val split = Quarantine.ingest(spark, stageLines(lines), schema)
    assert(split.quarantine.count() == 0 && split.good.count() == 2)
  }
}
