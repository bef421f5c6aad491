package graft

import graft.sources.JsonlSource
import org.apache.spark.sql.functions._

class JsonlSpec extends SparkSpec {

  test("jsonl read infers schema and flattens one level like json_normalize") {
    val dir = tempDir("graft_jsonl_fixture")
    java.nio.file.Files.writeString(dir.resolve("recs.jsonl"),
      """{"id": 1, "user": {"name": "ann", "meta": {"x": 9}}, "score": 1.5}
        |{"id": 2, "user": {"name": "bo"}, "score": 2.5, "extra": "e"}
        |
        |{"id": 3, "score": 3.0}
        |""".stripMargin)
    val df = JsonlSource.read(spark, dir.toString)
    // top-level struct expanded; DEEPER nesting stays a struct (max_level=1)
    assert(df.columns.toSet == Set("extra", "id", "score", "user_meta", "user_name"))
    val rows = df.orderBy("id").collect()
    assert(rows.length == 3) // blank line skipped
    assert(rows(0).getAs[String]("user_name") == "ann")
    assert(rows(0).getAs[org.apache.spark.sql.Row]("user_meta").getAs[Long]("x") == 9L)
    assert(rows(1).getAs[String]("extra") == "e")
    assert(rows(2).getAs[String]("user_name") == null) // absent struct → nulls
  }

  test("normalizeToParquet round-trips the flattened table") {
    val dir = tempDir("graft_jsonl_np")
    java.nio.file.Files.writeString(dir.resolve("recs.jsonl"),
      """{"id": 1, "user": {"name": "ann"}}
        |{"id": 2, "user": {"name": "bo"}}
        |""".stripMargin)
    val out = dir.toString + "/out_parquet"
    val back = JsonlSource.normalizeToParquet(spark, dir.toString + "/recs.jsonl", out)
    assert(back.columns.toSet == Set("id", "user_name"))
    assert(back.count() == 2)
  }

  test("v2 connector: inference, filter pushdown and column pruning in the scan") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("graft_jsonl_v2")
    java.nio.file.Files.writeString(dir.resolve("a.jsonl"),
      """{"id": 1, "kind": "x", "score": 1.5, "extra": "keep"}
        |{"id": 2, "kind": "y", "score": 0.25, "extra": "drop"}
        |{"id": 3, "kind": "x", "score": 7.0}
        |""".stripMargin)
    val df = spark.read.format("graft-jsonl").load(dir.toString)
    // inference: long / string / double, alphabetical field order
    assert(df.schema.map(f => f.name -> f.dataType.simpleString) ==
      Seq("extra" -> "string", "id" -> "bigint", "kind" -> "string",
        "score" -> "double"))
    // full read parses every row and null-fills absent fields
    assert(df.count() == 3)
    assert(df.filter(col("extra").isNull).count() == 1)
    // a filtered + projected query: the scan must report the pushed filter
    // and a pruned schema (no `extra`, no `kind`)
    val q = df.filter(col("score") > 1.0).select(sum("id").as("s"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("GraftJsonlScan"), s"custom scan missing:\n$plan")
    assert(plan.contains("PushedFilters: [") && plan.contains("GreaterThan(score,1.0)"),
      s"filter not pushed to the v2 scan:\n$plan")
    assert(plan.contains("ReadSchema") && !plan.contains("extra"),
      s"column pruning not visible in the v2 scan:\n$plan")
    assert(q.collect().head.getAs[Long]("s") == 4L) // ids 1 and 3
    // agreement with the built-in json reader on the same directory
    val builtin = spark.read.json(dir.toString)
      .filter(col("score") > 1.0).agg(sum("id")).collect().head.getLong(0)
    assert(builtin == 4L)
  }

  test("v2 aggregate pushdown: partials reach the scan and merge exactly") {
    val q = sources.JsonlSource.jsonlV2Agg(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregation"),
      s"aggregate did not reach the v2 scan:\n$plan")
    assert(plan.contains("PushedGroupBy: [event_type]"))
    // pushed partial semantics must equal the plain (unpushed) computation
    val got = q.collect()
    val want = Tables.events(spark, sf)
      .groupBy("event_type")
      .agg(count(col("event_id")).as("n_events"),
        sum(col("user_id")).as("sum_user"),
        min(col("event_id")).as("min_event_id"),
        max(col("event_id")).as("max_event_id"))
      .orderBy("event_type").collect()
    assert(got.map(_.toSeq).toSeq == want.map(_.toSeq).toSeq)
  }

  test("v2 write: two-phase commit leaves only final files; roundtrip exact") {
    val got = sources.JsonlSource.jsonlV2Write(spark, sf).collect()
    val staged = new java.io.File(sources.Staging.dir("jsonl_w", sf))
    // hadoop local FS adds .crc sidecars; readers skip dotfiles by contract
    val files = staged.listFiles().filter(_.isFile).map(_.getName)
      .filterNot(_.startsWith("."))
    assert(files.nonEmpty && files.forall(f => f.startsWith("part-") && f.endsWith(".jsonl")),
      s"unexpected files after commit: ${files.mkString(",")}")
    val tmp = new java.io.File(staged, "_temporary")
    assert(!tmp.exists() || tmp.listFiles().forall(d =>
      !d.isDirectory || d.listFiles().isEmpty),
      "job commit must sweep the temp dir")
    val want = Tables.events(spark, sf)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("total_cents"),
        sum(conv(substring(md5(col("props")), 1, 8), 16, 10).cast("long"))
          .as("props_checksum"))
      .orderBy("event_type").collect()
    assert(got.map(_.toSeq).toSeq == want.map(_.toSeq).toSeq)
  }

  test("v2 aggregate pushdown refuses unsafe translations (double sum, expr)") {
    val staged = sources.JsonlSource.stageFlatJsonl(spark, sf)
    // sum over a DOUBLE column must NOT push (float merge order) — plan
    // falls back to a plain scan and still computes correctly
    val q = spark.read.format("graft-jsonl").load(staged)
      .groupBy("event_type").agg(sum("value").as("s"))
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("PushedAggregation"),
      s"double sum must not push down:\n$plan")
    assert(q.collect().nonEmpty)
  }
}
