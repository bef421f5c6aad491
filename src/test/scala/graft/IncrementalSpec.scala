package graft

import graft.sources.Incremental
import org.apache.spark.sql.functions._

class IncrementalSpec extends SparkSpec {

  private def partFiles(outDir: String, part: String): Map[String, Long] = {
    val d = new java.io.File(s"$outDir/part=$part")
    d.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified()).toMap
  }

  test("second run rewrites only the mutated partition") {
    import SparkSpec.spark.implicits._
    val out = tempDir("graft_incr").toString + "/docs"
    val double = (df: org.apache.spark.sql.DataFrame) =>
      df.withColumn("v2", col("v") * 2)

    val base = Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0), (4L, "c", 40.0))
      .toDF("id", "part", "v")
    val first = Incremental.materialize(base, "part", out)(double)
    assert(first == Seq("a", "b", "c"), "first run must compute every partition")
    val bBefore = partFiles(out, "b")
    val cBefore = partFiles(out, "c")

    // identical input → nothing recomputed, no files touched
    assert(Incremental.materialize(base, "part", out)(double).isEmpty)
    assert(partFiles(out, "b") == bBefore && partFiles(out, "c") == cBefore)

    // mutate one row in partition a (same row count — content hash must
    // still see it); b and c untouched
    Thread.sleep(1100) // mtime granularity can be a full second
    val mutated = Seq((1L, "a", 99.0), (2L, "a", 20.0), (3L, "b", 30.0), (4L, "c", 40.0))
      .toDF("id", "part", "v")
    val second = Incremental.materialize(mutated, "part", out)(double)
    assert(second == Seq("a"), s"only partition a changed, got $second")
    assert(partFiles(out, "b") == bBefore, "partition b was rewritten needlessly")
    assert(partFiles(out, "c") == cBefore, "partition c was rewritten needlessly")

    // the materialized table equals transform(mutated input)
    val got = spark.read.parquet(out)
      .select("id", "part", "v", "v2").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3)))
    assert(got.toSeq == Seq((1L, "a", 99.0, 198.0), (2L, "a", 20.0, 40.0),
      (3L, "b", 30.0, 60.0), (4L, "c", 40.0, 80.0)))
  }

  test("two-stage DAG: an upstream delta propagates partition-selectively downstream") {
    // The reference's Snakefile chains fetch → normalize → tag as dependent
    // rules (Snakefile:1-40). The Spark-native form is two chained
    // materializations: stage 2 reads stage 1's OUTPUT, so its per-partition
    // content hashes change exactly where stage 1 actually rewrote content —
    // the delta propagates by construction, no extra bookkeeping. A
    // one-partition upstream edit must recompute exactly one partition in
    // BOTH stages; every other downstream partition keeps its files.
    import SparkSpec.spark.implicits._
    val root = tempDir("graft_dag").toString
    val (out1, out2) = (s"$root/normalized", s"$root/tagged")
    val normalize = (df: org.apache.spark.sql.DataFrame) =>
      df.withColumn("text", lower(col("text")))
    val tag = (df: org.apache.spark.sql.DataFrame) =>
      df.withColumn("tagged", col("text").contains("tax"))
    def runDag(src: org.apache.spark.sql.DataFrame): (Seq[String], Seq[String]) = {
      val c1 = Incremental.materialize(src, "part", out1)(normalize)
      val c2 = Incremental.materialize(
        SparkSpec.spark.read.parquet(out1), "part", out2)(tag)
      (c1, c2)
    }

    val base = Seq((1L, "a", "Tax Bill"), (2L, "b", "Roads"), (3L, "c", "Schools"))
      .toDF("id", "part", "text")
    assert(runDag(base) == (Seq("a", "b", "c"), Seq("a", "b", "c")))
    val s1Before = Seq("b", "c").map(p => p -> partFiles(out1, p)).toMap
    val s2Before = Seq("b", "c").map(p => p -> partFiles(out2, p)).toMap

    // no-op rerun: neither stage recomputes anything
    assert(runDag(base) == (Seq(), Seq()))

    Thread.sleep(1100) // mtime granularity can be a full second
    val mutated = Seq((1L, "a", "TAX and Budget"), (2L, "b", "Roads"), (3L, "c", "Schools"))
      .toDF("id", "part", "text")
    assert(runDag(mutated) == (Seq("a"), Seq("a")),
      "one upstream partition changed — both stages must recompute exactly it")
    Seq("b", "c").foreach { p =>
      assert(partFiles(out1, p) == s1Before(p), s"stage-1 partition $p rewritten needlessly")
      assert(partFiles(out2, p) == s2Before(p), s"stage-2 partition $p rewritten needlessly")
    }
    // end-to-end content equals tag(normalize(mutated))
    val got = SparkSpec.spark.read.parquet(out2)
      .select("id", "text", "tagged").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
    assert(got.toSeq == Seq((1L, "tax and budget", true),
      (2L, "roads", false), (3L, "schools", false)))
  }

  test("above the driver-manifest threshold the manifest spills to parquet and stays partition-selective") {
    import SparkSpec.spark.implicits._
    // adversarial partition count: 64 partitions against a threshold of 8 —
    // the manifest must live as a parquet table, never a driver line file,
    // and a one-partition delta must still rewrite exactly one partition
    val out = tempDir("graft_incr_pq").toString + "/docs"
    val ident = (df: org.apache.spark.sql.DataFrame) => df
    def mk(mut: Boolean) = SparkSpec.spark.range(256)
      .select(col("id"),
        concat(lit("k"), col("id") % 64).as("part"),
        (when(lit(mut) && col("id") === 7, -1L).otherwise(col("id")) * 3).as("v"))
    val first = Incremental.materialize(mk(false), "part", out, driverManifestMax = 8)(ident)
    assert(first.size == 64, "first run must compute every partition")
    assert(new java.io.File(s"$out/_graft_manifest_pq").isDirectory,
      "above the threshold the manifest must be a parquet table")
    assert(!new java.io.File(s"$out/_graft_manifest").exists(),
      "the driver line file must not exist above the threshold")
    val before = partFiles(out, "k8")

    // no-op rerun: the relational diff finds nothing
    assert(Incremental.materialize(mk(false), "part", out, driverManifestMax = 8)(ident).isEmpty)

    // id 7 lives in partition k7: exactly that partition recomputes
    Thread.sleep(1100)
    val second = Incremental.materialize(mk(true), "part", out, driverManifestMax = 8)(ident)
    assert(second == Seq("k7"), s"only k7 changed, got $second")
    assert(partFiles(out, "k8") == before, "partition k8 was rewritten needlessly")

    // format flip: a run back under the threshold reads the parquet
    // manifest, finds no delta, and rewrites the manifest as a line file
    assert(Incremental.materialize(mk(true), "part", out)(ident).isEmpty)
    assert(new java.io.File(s"$out/_graft_manifest").exists())
    assert(!new java.io.File(s"$out/_graft_manifest_pq").isDirectory)
    // ...and the line file round-trips bit-for-bit against a fresh diff
    assert(Incremental.materialize(mk(true), "part", out)(ident).isEmpty)
  }

  test("incremental selection is a semi-join, not a literal IN-list, at adversarial changed counts") {
    // 64 partitions, 48 changed in one run — the churn-heavy regime where
    // an IN-list selection would inline 10^4-10^5 literals into the plan.
    // Asserts the write's physical plan uses LeftSemi and carries (almost)
    // no partition-value literals.
    val out = tempDir("graft_incr_semi").toString + "/docs"
    val ident = (df: org.apache.spark.sql.DataFrame) => df
    def mk(mut: Boolean) = SparkSpec.spark.range(256)
      .select(col("id"),
        concat(lit("k"), col("id") % 64).as("part"),
        (when(lit(mut) && col("id") % 64 < 48, col("id") + 1000000L)
          .otherwise(col("id")) * 3).as("v"))
    val first = Incremental.materialize(mk(false), "part", out, driverManifestMax = 8)(ident)
    assert(first.size == 64)
    Thread.sleep(1100)

    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString; () }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    SparkSpec.spark.listenerManager.register(listener)
    try {
      val changed = Incremental.materialize(mk(true), "part", out, driverManifestMax = 8)(ident)
      assert(changed.size == 48, s"48 partitions changed, got ${changed.size}")
      assert(changed == (0 until 48).map(i => s"k$i").sorted)
      // listener delivery is async on the listener bus — poll for the plan
      val deadline = System.currentTimeMillis() + 15000
      def snap = plans.synchronized(plans.toList)
      while (!snap.exists(_.contains("LeftSemi")) &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
      val all = snap
      assert(all.exists(_.contains("LeftSemi")),
        "changed-partition selection must plan as a semi-join")
      // no executed plan may inline the changed keys as literals (a few
      // incidental matches from paths/metadata are tolerated; an IN-list
      // would inline all 48)
      all.foreach { p =>
        val lits = (0 until 48).count(i => p.contains(s"k$i,") || p.contains(s"k$i)"))
        assert(lits < 10, s"plan inlines $lits partition-value literals:\n${p.take(2000)}")
      }
    } finally SparkSpec.spark.listenerManager.unregister(listener)
    // content check: the semi-join selected exactly the changed rows
    val got = SparkSpec.spark.read.parquet(out)
      .agg(sum(col("v"))).head().getLong(0)
    val want = mk(true).agg(sum(col("v"))).head().getLong(0)
    assert(got == want, "materialized content must equal transform(mutated input)")
  }

  test("manifestDiff classifies new/removed/changed/unchanged exactly") {
    import SparkSpec.spark.implicits._
    val prev = Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "c"))
      .toDF("id", "part")
    val cur = Seq((1L, "a"), (2L, "a"), // a unchanged
      (3L, "b"), (9L, "b"),             // b gained a row → changed
      (7L, "d"))                        // d new; c removed
      .toDF("id", "part")
    val got = Incremental.manifestDiff(cur, prev, "part", "id")
      .orderBy("part")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      ("a", "unchanged", 2L, 2L),
      ("b", "changed", 1L, 2L),
      ("c", "removed", 1L, 0L),
      ("d", "new", 0L, 1L)))
  }

  test("manifestDiff hash is content-sensitive at equal row counts") {
    import SparkSpec.spark.implicits._
    val prev = Seq((1L, "a"), (2L, "a")).toDF("id", "part")
    val cur = Seq((1L, "a"), (5L, "a")).toDF("id", "part") // same count, new id
    val got = Incremental.manifestDiff(cur, prev, "part", "id").collect()
    assert(got.length == 1 && got.head.getString(1) == "changed")
  }

  test("partition hash is order-independent but value- and count-sensitive") {
    import SparkSpec.spark.implicits._
    val a = Seq((1L, "x", 1.0), (2L, "x", 2.0)).toDF("id", "part", "v")
    val shuffled = Seq((2L, "x", 2.0), (1L, "x", 1.0)).toDF("id", "part", "v")
      .repartition(3)
    assert(Incremental.partitionHashes(a, "part") ==
      Incremental.partitionHashes(shuffled, "part"))
    val valueChanged = Seq((1L, "x", 1.0), (2L, "x", 2.5)).toDF("id", "part", "v")
    assert(Incremental.partitionHashes(a, "part") !=
      Incremental.partitionHashes(valueChanged, "part"))
    val dupRow = Seq((1L, "x", 1.0), (1L, "x", 1.0)).toDF("id", "part", "v")
    val oneRow = Seq((1L, "x", 1.0)).toDF("id", "part", "v")
    assert(Incremental.partitionHashes(dupRow, "part") !=
      Incremental.partitionHashes(oneRow, "part"))
  }
}
