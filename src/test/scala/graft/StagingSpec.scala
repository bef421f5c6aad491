package graft

import graft.sources.Staging

/** Managed-table staging identity + memoization: the r8 advisor finding
  * was a staging cache keyed by dataset BASENAME only (two dataset paths
  * sharing a leaf collided onto one table; regenerated data kept serving
  * the stale layout). These cases pin the fixed contract. */
class StagingSpec extends SparkSpec {

  private def mkDataset(parent: java.io.File, leaf: String): java.io.File = {
    val d = new java.io.File(parent, leaf)
    d.mkdirs()
    val w = new java.io.File(d, "documents.parquet")
    w.mkdirs() // witness: a parquet "file" is a directory in practice
    d
  }

  test("same-basename datasets under different parents get distinct stamps") {
    val t1 = java.nio.file.Files.createTempDirectory("graft_stage_a").toFile
    val t2 = java.nio.file.Files.createTempDirectory("graft_stage_b").toFile
    try {
      val d1 = mkDataset(t1, "sf0.5")
      val d2 = mkDataset(t2, "sf0.5")
      val s1 = Staging.contentStamp(d1.getPath, "documents.parquet")
      val s2 = Staging.contentStamp(d2.getPath, "documents.parquet")
      assert(s1 != s2, s"basename collision: $s1")
      // both stamps keep the human-readable leaf prefix
      assert(s1.startsWith("sf0_5_") && s2.startsWith("sf0_5_"))
    } finally {
      Staging.deleteRecursively(t1); Staging.deleteRecursively(t2)
    }
  }

  test("dir records every tree it hands out; deleteTrees removes trees, never link targets") {
    import java.nio.file.Files
    val t = Files.createTempDirectory("graft_stage_rm").toFile
    val outside = Files.createTempDirectory("graft_stage_keep").toFile
    try {
      val handed = Staging.dir("cleanup_probe", t.getPath)
      assert(Staging.handedOutDirs.contains(handed))
      val tree = new java.io.File(t, "tree")
      new java.io.File(tree, "a/b").mkdirs()
      Files.write(new java.io.File(tree, "a/b/part-0").toPath, Array[Byte](1, 2, 3))
      val kept = new java.io.File(outside, "keep.txt")
      Files.write(kept.toPath, Array[Byte](4))
      Files.createSymbolicLink(new java.io.File(tree, "a/link").toPath, outside.toPath)
      Staging.deleteTrees(Seq(tree.getPath, new java.io.File(t, "never_made").getPath))
      assert(!tree.exists(), "staged tree survived the cleanup")
      assert(kept.exists(), "cleanup followed a symbolic link out of the tree")
    } finally {
      Staging.deleteRecursively(t); Staging.deleteRecursively(outside)
    }
  }

  test("regenerating the witness changes the stamp (stale layouts impossible)") {
    val t = java.nio.file.Files.createTempDirectory("graft_stage_c").toFile
    try {
      val d = mkDataset(t, "sfX")
      val w = new java.io.File(d, "documents.parquet")
      val before = Staging.contentStamp(d.getPath, "documents.parquet")
      assert(w.setLastModified(w.lastModified() + 60000))
      val after = Staging.contentStamp(d.getPath, "documents.parquet")
      assert(before != after, "mtime change did not invalidate the stamp")
    } finally Staging.deleteRecursively(t)
  }

  test("ensureTable memoizes per JVM: derive runs once, count is recorded") {
    val t = java.nio.file.Files.createTempDirectory("graft_stage_d").toFile
    try {
      val d = mkDataset(t, "sfY")
      var derivations = 0
      def derive = {
        derivations += 1
        spark.range(5).toDF("k")
      }
      val (tbl1, n1) = Staging.ensureTable(spark, "spec_memo", d.getPath,
        "documents.parquet", "k", 2, Some("k"))(derive)
      val (tbl2, n2) = Staging.ensureTable(spark, "spec_memo", d.getPath,
        "documents.parquet", "k", 2, Some("k"))(derive)
      assert(tbl1 == tbl2 && n1 == 5L && n2 == 5L)
      assert(derivations == 1, s"derive ran $derivations times")
      assert(spark.table(tbl1).count() == 5L)
      spark.sql(s"DROP TABLE IF EXISTS $tbl1")
    } finally Staging.deleteRecursively(t)
  }

  test("superseded stamps are swept; same-basename siblings staged in-JVM are not") {
    val t1 = java.nio.file.Files.createTempDirectory("graft_stage_e").toFile
    val t2 = java.nio.file.Files.createTempDirectory("graft_stage_f").toFile
    try {
      val dA = mkDataset(t1, "sfZ")
      val dB = mkDataset(t2, "sfZ") // same basename, different dataset
      val (tblA, _) = Staging.ensureTable(spark, "spec_sweep", dA.getPath,
        "documents.parquet", "k", 2, Some("k"))(spark.range(3).toDF("k"))
      val (tblB, _) = Staging.ensureTable(spark, "spec_sweep", dB.getPath,
        "documents.parquet", "k", 2, Some("k"))(spark.range(4).toDF("k"))
      // staging the same-basename sibling B must NOT sweep A's live table
      assert(spark.table(tblA).count() == 3L && spark.table(tblB).count() == 4L)
      // regenerate A -> new stamp; the OLD A table is superseded garbage
      // from this JVM's perspective only after its latch is cleared (a
      // prior-session table is never latched, which is the real-world
      // sweep target) — simulate by evicting the latch
      val wA = new java.io.File(dA, "documents.parquet")
      assert(wA.setLastModified(wA.lastModified() + 60000))
      Staging.evictForSpec(tblA)
      val (tblA2, _) = Staging.ensureTable(spark, "spec_sweep", dA.getPath,
        "documents.parquet", "k", 2, Some("k"))(spark.range(6).toDF("k"))
      assert(tblA2 != tblA, "regenerate did not change the table name")
      assert(!spark.catalog.tableExists(tblA),
        "superseded stamped table survived the sweep")
      assert(spark.table(tblB).count() == 4L, "sibling swept by mistake")
      spark.sql(s"DROP TABLE IF EXISTS $tblA2")
      spark.sql(s"DROP TABLE IF EXISTS $tblB")
    } finally {
      Staging.deleteRecursively(t1); Staging.deleteRecursively(t2)
    }
  }

  test("a basename that prefixes another basename never sweeps its tables") {
    // 'sf0' sanitizes to a proper prefix of 'sf0.1' -> 'sf0_1'; the
    // superseded-stamp sweep for dataset 'sf0' must not match the
    // 'sf0_1' tables even when those are unlatched (prior session)
    val t1 = java.nio.file.Files.createTempDirectory("graft_stage_g").toFile
    try {
      val dLong = mkDataset(t1, "sf9.1")
      val dShort = mkDataset(t1, "sf9")
      val (tblLong, _) = Staging.ensureTable(spark, "spec_prefix",
        dLong.getPath, "documents.parquet", "k", 2, Some("k"))(
        spark.range(7).toDF("k"))
      // model a prior-session table: cataloged but unlatched
      Staging.evictForSpec(tblLong)
      val (tblShort, _) = Staging.ensureTable(spark, "spec_prefix",
        dShort.getPath, "documents.parquet", "k", 2, Some("k"))(
        spark.range(2).toDF("k"))
      assert(tblLong.toLowerCase.startsWith(
        tblShort.toLowerCase.dropRight(tblShort.split("_").last.length)),
        "fixture lost its prefix relationship — test would prove nothing")
      assert(spark.catalog.tableExists(tblLong),
        "prefix-sibling table swept by the shorter basename's staging")
      assert(spark.table(tblLong).count() == 7L)
      spark.sql(s"DROP TABLE IF EXISTS $tblLong")
      spark.sql(s"DROP TABLE IF EXISTS $tblShort")
    } finally Staging.deleteRecursively(t1)
  }

  test("session-start sweep removes prior-session orphan dirs, keeps latched tables") {
    val t = java.nio.file.Files.createTempDirectory("graft_stage_h").toFile
    try {
      val d = mkDataset(t, "sfW")
      val (tblLive, _) = Staging.ensureTable(spark, "spec_orphan", d.getPath,
        "documents.parquet", "k", 2, Some("k"))(spark.range(9).toDF("k"))
      // a prior-session orphan survives only as a warehouse DIRECTORY
      // (the catalog is in-memory): plant one, neither latched nor cataloged
      val wh = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
      val orphan = new java.io.File(wh, "graft_deadtag_sfq_123456789")
      orphan.mkdirs()
      val litter = new java.io.File(orphan, "part-00000.parquet")
      assert(litter.createNewFile())
      Staging.sweepOrphans(spark, force = true)
      assert(!orphan.exists(), "prior-session orphan dir survived the sweep")
      assert(spark.table(tblLive).count() == 9L, "live latched table swept")
      spark.sql(s"DROP TABLE IF EXISTS $tblLive")
    } finally Staging.deleteRecursively(t)
  }

  test("sweep keeps a latched-but-uncataloged dir (mid-write staging window)") {
    // Models the r11 ADVICE race: a concurrent ensureTable has registered
    // its latch and is writing the table directory, but saveAsTable has
    // not yet committed the catalog entry. The sweep must not delete it —
    // the fresh per-candidate latch check (taken AFTER listing) is what
    // protects it.
    val wh = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    val midwrite = new java.io.File(wh, "graft_midwrite_sfq_42")
    midwrite.mkdirs()
    try {
      Staging.latchForSpec("graft_midwrite_sfq_42")
      Staging.sweepOrphans(spark, force = true)
      assert(midwrite.exists(),
        "sweep deleted a latched (mid-write) staged dir")
    } finally {
      Staging.evictForSpec("graft_midwrite_sfq_42")
      Staging.deleteRecursively(midwrite)
    }
  }

  test("force sweep never kills q_incr_agg's live snapshot (r11 regression)") {
    // The exact r11 failing chain: SessionizeSpec stages the incremental
    // snapshot, StagingSpec force-sweeps, later suites re-run the query.
    // With the snapshot routed through ensureTable it is latched AND
    // cataloged, so the sweep must leave it alone and the re-run must
    // return identical rows without restaging.
    val d = "/root/testdata/sf0.001"
    val before = graft.operators.Sessionize.qIncrAgg(spark, d).collect()
    Staging.sweepOrphans(spark, force = true)
    val after = graft.operators.Sessionize.qIncrAgg(spark, d).collect()
    assert(before.sameElements(after),
      "q_incr_agg changed across a forced orphan sweep")
    assert(before.nonEmpty)
  }
}
