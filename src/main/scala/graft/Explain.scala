package graft

/** Plan-inspection utility: print the formatted physical plan of named
  * queries (all queries if none given) at a small SF. Development aid for
  * the scale audit — pushdown, exchange count, codegen spans, group-limits.
  *
  * Usage: runMain graft.Explain [sfDir] [queryName...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq
    val spark = GraftSession.harness(logLevel = "ERROR")
    names.foreach { name =>
      println(s"\n========== $name ==========")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
