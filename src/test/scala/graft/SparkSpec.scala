package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable

/** Shared local session for all suites (one JVM-wide session, lazy): the
  * library's own session shape (GraftSession), at local[4]. Its staged
  * tables land in a per-run warehouse, deleted when the JVM exits. */
object SparkSpec {
  lazy val spark: SparkSession = {
    val warehouse = java.nio.file.Files.createTempDirectory("spark-warehouse").toFile
    sys.addShutdownHook(sources.Staging.deleteRecursively(warehouse))
    System.setProperty("spark.sql.warehouse.dir", warehouse.getPath)
    GraftSession.harness(cpus = 4, logLevel = "ERROR")
  }
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  def spark: SparkSession = SparkSpec.spark
  def sf: String = SparkSpec.sf

  private val tempDirs = mutable.Buffer[java.io.File]()

  /** A fresh java.io.tmpdir/<prefix>* directory, removed when the test ends. */
  def tempDir(prefix: String): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    tempDirs += d.toFile
    d
  }

  override def withFixture(test: NoArgTest) =
    try super.withFixture(test)
    finally {
      tempDirs.foreach(sources.Staging.deleteRecursively)
      tempDirs.clear()
    }
}
