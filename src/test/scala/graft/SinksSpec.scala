package graft

import org.apache.spark.sql.functions._
import graft.sources.Sinks

class SinksSpec extends SparkSpec {

  test("partitioned parquet roundtrip with hive-style directories") {
    val out = tempDir("graft_sink").toString + "/orders_by_status"
    val orders = Tables.orders(spark, sf)
    Sinks.writePartitioned(orders, out, "o_orderstatus")
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(dirs.exists(_.startsWith("o_orderstatus=")), s"no partition dirs in $dirs")
    val back = Sinks.readPartitioned(spark, out)
    assert(back.count() == orders.count())
    // partition pruning: a status filter must read only that partition
    val pruned = back.filter(col("o_orderstatus") === "F")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(o_orderstatus"),
      s"no partition filter:\n$plan")
  }

  test("bucketed table: join on the bucket key has no shuffle on the bucketed side") {
    spark.sql("DROP TABLE IF EXISTS orders_bucketed")
    // a crashed prior run can leave the managed location behind without
    // catalog metadata — clear it or CTAS refuses the name
    val loc = new java.io.File(spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:") + "/orders_bucketed")
    if (loc.exists()) {
      import scala.reflect.io.Directory
      new Directory(loc).deleteRecursively()
    }
    Sinks.writeBucketed(Tables.orders(spark, sf), "orders_bucketed", "o_custkey", 4,
      sortCol = Some("o_custkey"))
    val bucketed = spark.table("orders_bucketed")
    assert(bucketed.count() == Tables.orders(spark, sf).count())
    val agg = bucketed.groupBy("o_custkey").agg(sum("o_totalprice"))
    agg.collect()
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning(o_custkey"),
      s"bucketed aggregation still shuffles:\n$plan")
  }

  test("bucketed layout: q3/q5/market_share have no orderkey exchange, same rows") {
    val cases: Seq[(String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame,
        (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)] = Seq(
      ("q3", operators.Relational.q3Bucketed _, operators.Relational.q3TopOrders _),
      ("q5", operators.Relational.q5Bucketed _, operators.Relational.q5RegionVolume _),
      ("market_share", operators.Relational.qMarketShareBucketed _, operators.Relational.qMarketShare _))
    cases.foreach { case (name, bucketed, plain) =>
      val bdf = bucketed(spark, sf)
      val rows = bdf.collect()
      val plan = bdf.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning(l_orderkey") &&
        !plan.contains("Exchange hashpartitioning(o_orderkey"),
        s"$name still shuffles on orderkey over the bucketed layout:\n$plan")
      assert(rows.toSeq == plain(spark, sf).collect().toSeq,
        s"$name bucketed result differs from plain parquet")
    }
  }

  test("csv export roundtrip keeps the header and rows") {
    val out = tempDir("graft_csv_sink").toString + "/summary"
    val df = operators.Corpus.corpusSummary(spark, sf)
    Sinks.writeCsv(df, out)
    val back = spark.read.option("header", "true").csv(out)
    assert(back.count() == df.count())
    assert(back.columns.toSeq == df.columns.toSeq)
  }
}
