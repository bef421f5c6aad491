package graft

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{ZipEntry, ZipOutputStream}

import sources.ZipIngest

/** ZIP archive-container ingest: per-entry explode of binaryFile archives,
  * lossless payload round trip, shard routing. */
class ZipIngestSpec extends SparkSpec {

  private def writeZip(dir: java.nio.file.Path, name: String,
      entries: Seq[(String, String)]): Unit = {
    val zout = new ZipOutputStream(new BufferedOutputStream(
      new FileOutputStream(dir.resolve(name).toFile)))
    try entries.foreach { case (n, payload) =>
      zout.putNextEntry(new ZipEntry(n))
      zout.write(payload.getBytes(UTF_8))
      zout.closeEntry()
    } finally zout.close()
  }

  test("hand-built archives: every entry surfaces once, payload byte-exact, dirs skipped") {
    val dir = tempDir("graft_zip_spec")
    writeZip(dir, "a.zip", Seq(
      "x/" -> "", // directory entry: must not surface
      "x/one.json" -> """{"k":1}""",
      "two.json" -> "payload with \n newline and ünïcode"))
    writeZip(dir, "b.zip", Seq("three.json" -> ""))
    val rows = ZipIngest.read(spark, dir.toString).collect()
      .map(r => (r.getAs[String]("archive").split('/').last,
        r.getAs[String]("entry"), r.getAs[String]("payload")))
      .sortBy(t => (t._1, t._2))
    assert(rows.toSeq == Seq(
      ("a.zip", "two.json", "payload with \n newline and ünïcode"),
      ("a.zip", "x/one.json", """{"k":1}"""),
      ("b.zip", "three.json", "")))
  }

  test("staged fixture: container round trip loses nothing; shards partition by doc_id % 8") {
    val staged = ZipIngest.stageZips(spark, sf)
    val archives = new java.io.File(staged).listFiles()
      .filter(_.getName.endsWith(".zip")).map(_.getName).sorted
    assert(archives.nonEmpty && archives.forall(_.matches("archive_\\d\\d\\.zip")))
    val entries = ZipIngest.read(spark, staged)
    val nDocs = Tables.documents(spark, sf).count()
    assert(entries.count() == nDocs)
    // every entry's name-derived id agrees with its archive's shard index
    val bad = entries.selectExpr(
      "CAST(regexp_extract(archive, 'archive_(\\\\d+)\\\\.zip', 1) AS BIGINT) AS shard",
      "CAST(regexp_extract(entry, 'doc_(\\\\d+)\\\\.json', 1) AS BIGINT) AS doc_id")
      .filter("doc_id % 8 <> shard").count()
    assert(bad == 0L)
  }
}
