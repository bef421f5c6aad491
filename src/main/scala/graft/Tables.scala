package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables (see TESTDATA.md).
  *
  * The reference pipeline's corpus tables (sheaswauger/dissertation-data-pipeline,
  * scripts/legislation/build_corpus.py:21 FINAL_COLUMNS) are modeled here by
  * `documents`; the TPC-H-ish star schema carries the relational operators and
  * `events`/`embeddings` carry sessionization and similarity work.
  *
  * Plain `spark.read.parquet` keeps the scan declarative so Catalyst pushes
  * filters and prunes columns down to the parquet reader.
  */
object Tables {
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = t(s, d, "lineitem")
  /** Downstream operators treat `events.ts` as a raw nanosecond LONG and do
    * exact integer arithmetic on it (TimeFunctions.nsToMs; double math would
    * lose precision above 2^53). The parquet physical type has varied across
    * testdata generations — TIMESTAMP(NANOS) (which Spark 4 rejects without
    * nanosAsLong) and plain TIMESTAMP(MICROS) (which Spark reads as
    * TIMESTAMP_NTZ when isAdjustedToUTC=false) — so normalize whatever
    * arrives to the long-nanos convention here, at the single load site.
    *
    * The NTZ→instant cast uses the session time zone; GraftSession.builder,
    * which builds every graft session, pins UTC, matching the DuckDB
    * oracle's epoch_ms semantics on the same files.
    *
    * DELIBERATE side effect: nanosAsLong is a session conf, so after the
    * first events read, any TIMESTAMP(NANOS) parquet column in this session
    * reads as LONG. There is no per-read switch for it; restoring the flag
    * after this call would race the lazy scan. Scoped sessions
    * (spark.newSession()) isolate callers that need nanos-as-timestamp. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = t(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => raw
      case _ => // TIMESTAMP or TIMESTAMP_NTZ: exact micros → nanos
        raw.withColumn("ts",
          org.apache.spark.sql.functions.expr(
            "unix_micros(cast(ts as timestamp)) * 1000L"))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")
}
