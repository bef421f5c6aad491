package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import graft.{GraftSession, SparkEntry}
import graft.functions.MinHashSig.minhashSig
import graft.functions.TextFunctions.{normalizeText, wordCount, wordShingles}
import graft.sources.{Quarantine, Sinks, Staging}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** One benchmark run: one fresh JVM, one workload, driven only through
  * graft's public entry points.
  *
  * A pass calls the workload's query functions afresh and materializes every
  * output (collect or write), then drops cached relations, so no pass reuses
  * another's shuffle files or caches. Pass 1 is the cold pass that ends
  * `setup_s`; `warmup` untimed passes follow, then timed passes until
  * `seconds` have elapsed. With `--trace 1` spans and a SparkListener record
  * the per-layer figures, and layer probes run after the timed passes.
  *
  * Writes `metrics.json` (figures), `result.json` (pass-1 output rows for
  * the checker) and, when traced, `spans.json` into `--out`.
  *
  *   PerfMain --workload W --data DIR --out DIR --seconds S --trace 0|1
  *            --cores N --warmup K --docs N_DOCS --scratch DIR
  */
object PerfMain {

  final case class Span(name: String, pass: Int, start: Long, end: Long)

  /** Spark-side counters, kept per pass by the traced run's listener. */
  final class Counters extends SparkListener {
    @volatile var jobs, stages, tasks = 0L
    @volatile var cpuNs, gcMs, shWrite, shRead, spill, input = 0L
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        cpuNs += m.executorCpuTime
        gcMs += m.jvmGCTime
        shWrite += m.shuffleWriteMetrics.bytesWritten
        shRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        spill += m.diskBytesSpilled
        input += m.inputMetrics.bytesRead
      }
    }
    def snapshot(): Map[String, Long] = synchronized {
      Map("jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "cpu_ns" -> cpuNs,
        "gc_ms" -> gcMs, "shuffle_write" -> shWrite, "shuffle_read" -> shRead,
        "spill" -> spill, "input" -> input)
    }
  }

  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(k)
    require(i >= 0 && i + 1 < args.length, s"missing $k")
    args(i + 1)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def cpuNow(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).map(dirBytes).sum
    else if (f.isFile) f.length() else 0L

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  private def digest(rows: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def write(path: File, body: String): Unit = {
    val w = new PrintWriter(path, "UTF-8")
    try w.print(body) finally w.close()
  }

  /** What one pass returns: named outputs, each as JSON rows. */
  type Output = Map[String, Seq[String]]

  /** A workload: `construct` returns the DataFrames (running any eager jobs
    * the query functions run), `execute` materializes every output. */
  trait Workload {
    def construct(s: SparkSession): Map[String, DataFrame]
    def execute(s: SparkSession, dfs: Map[String, DataFrame], tr: Tracer): Output
  }

  /** In-memory span recorder; a no-op unless the run is traced. */
  final class Tracer(val on: Boolean) {
    val spans = ArrayBuffer[Span]()
    var pass = 0
    def apply[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      try f finally if (on) spans.synchronized { spans += Span(name, pass, t0, System.nanoTime()) }
    }
  }

  private def rowsOf(df: DataFrame): Seq[String] = df.collect().toSeq.map((r: Row) => r.json)

  def workload(name: String, data: String, out: File): Workload = name match {
    case "reference_etl" => new Workload {
      val sinkPath = new File(out, "corpus_by_lang").getAbsolutePath
      def construct(s: SparkSession) = Map(
        "corpus_build" -> SparkEntry.queries("corpus_build")(s, data),
        "corpus_pipeline_e2e" -> SparkEntry.queries("corpus_pipeline_e2e")(s, data))
      def execute(s: SparkSession, dfs: Map[String, DataFrame], tr: Tracer) = {
        tr("sources.sink_write") {
          Sinks.writePartitioned(dfs("corpus_build"), sinkPath, "lang")
        }
        Map("corpus_pipeline_e2e" -> tr("operators.collect")(rowsOf(dfs("corpus_pipeline_e2e"))))
      }
    }
    case "llm_curation" => single("llm_pretrain_e2e", data)
    case "neardup_clusters" => single("dedup_cluster_canonical", data)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def single(query: String, data: String): Workload = new Workload {
    def construct(s: SparkSession) = Map(query -> SparkEntry.queries(query)(s, data))
    def execute(s: SparkSession, dfs: Map[String, DataFrame], tr: Tracer) =
      Map(query -> tr("operators.collect")(rowsOf(dfs(query))))
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val name = arg(args, "--workload")
    val data = new File(arg(args, "--data")).getAbsolutePath
    val out = new File(arg(args, "--out"))
    val seconds = arg(args, "--seconds").toDouble
    val traced = arg(args, "--trace") == "1"
    val cores = arg(args, "--cores").toInt
    val warmup = arg(args, "--warmup").toInt
    val nDocs = arg(args, "--docs").toLong
    val scratch = new File(arg(args, "--scratch"))
    val warehouse = new File(scratch, "warehouse")
    val tr = new Tracer(traced)

    val tSession = System.nanoTime()
    val spark = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse.getAbsolutePath)
      .config("spark.local.dir", new File(scratch, "local").getAbsolutePath)
      .getOrCreate()
    val sessionStartS = (System.nanoTime() - tSession) / 1e9
    spark.sparkContext.setLogLevel("ERROR")
    val counters = new Counters
    if (traced) spark.sparkContext.addSparkListener(counters)
    val wl = workload(name, data, out)

    final case class PassStat(pass: Int, wall: Double, cpu: Double, construct: Double,
        execute: Double, constructJobs: Long, spark: Map[String, Long])
    var attempted, failed = 0
    var reference: Option[(Output, Map[String, String])] = None
    var mismatches = 0
    def runPass(): Option[PassStat] = {
      attempted += 1
      tr.pass = attempted
      val c0 = cpuNow(); val s0 = counters.snapshot(); val t0 = System.nanoTime()
      try {
        val dfs = tr("operators.construct")(wl.construct(spark))
        val t1 = System.nanoTime(); val jobs1 = counters.snapshot()("jobs")
        val outp = tr("operators.execute")(wl.execute(spark, dfs, tr))
        val t2 = System.nanoTime(); val c2 = cpuNow(); val s2 = counters.snapshot()
        spark.catalog.clearCache()
        tr.spans.synchronized { if (traced) tr.spans += Span("pass", tr.pass, t0, t2) }
        System.err.println(f"[perfbench] pass $attempted: construct ${(t1 - t0) / 1e9}%.2f s, " +
          f"execute ${(t2 - t1) / 1e9}%.2f s, cpu ${(c2 - c0) / 1e9}%.2f s")
        val dig = outp.map { case (k, v) => k -> digest(v) }
        reference match {
          case None => reference = Some((outp, dig))
          case Some((_, d0)) => if (d0 != dig) mismatches += 1
        }
        Some(PassStat(attempted, (t2 - t0) / 1e9, (c2 - c0) / 1e9, (t1 - t0) / 1e9, (t2 - t1) / 1e9,
          jobs1 - s0("jobs"), s2.map { case (k, v) => k -> (v - s0(k)) }))
      } catch {
        case e: Throwable =>
          failed += 1
          System.err.println(s"[perfbench] pass $attempted failed: $e")
          e.printStackTrace()
          spark.catalog.clearCache()
          None
      }
    }

    runPass()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    (1 to warmup).foreach(_ => runPass())
    val timed = ArrayBuffer[PassStat]()
    val tMeasure = System.nanoTime()
    while ((System.nanoTime() - tMeasure) / 1e9 < seconds) runPass().foreach(timed += _)
    val wall = median(timed.map(_.wall).toSeq)
    val docsPerS = nDocs / wall
    val metrics = scala.collection.mutable.LinkedHashMap[String, Double]()
    if (!traced) {
      metrics("setup_s") = setupS
      metrics("docs_per_s") = docsPerS
      metrics("pass_cpu_s") = median(timed.map(_.cpu).toSeq)
      metrics("peak_rss_mb") = peakRssMb()
    } else {
      def med(k: String) = median(timed.map(_.spark(k).toDouble).toSeq)
      metrics("graft.session_start_s") = sessionStartS
      metrics("operators.construct_s") = median(timed.map(_.construct).toSeq)
      metrics("operators.execute_s") = median(timed.map(_.execute).toSeq)
      metrics("operators.jobs") = med("jobs")
      metrics("operators.construct_jobs") = median(timed.map(_.constructJobs.toDouble).toSeq)
      metrics("operators.stages") = med("stages")
      metrics("operators.tasks") = med("tasks")
      metrics("operators.executor_cpu_s") = med("cpu_ns") / 1e9
      metrics("operators.gc_s") = med("gc_ms") / 1e3
      metrics("operators.shuffle_write_mb") = med("shuffle_write") / 1e6
      metrics("operators.shuffle_read_mb") = med("shuffle_read") / 1e6
      metrics("operators.spill_mb") = med("spill") / 1e6
      metrics("operators.input_mb") = med("input") / 1e6
      val timedPasses = timed.map(_.pass).toSet
      metrics("sources.sink_write_s") = median(tr.spans.toSeq.collect {
        case s if s.name == "sources.sink_write" && timedPasses(s.pass) => (s.end - s.start) / 1e9 })
      metrics("sources.sink_write_mb") =
        dirBytes(new File(out, "corpus_by_lang")) / 1e6
      probes(spark, name, data, nDocs, scratch, tr, timed.map(_.wall).toSeq, metrics)
      metrics("traced.docs_per_s") = docsPerS
    }
    metrics("timed_passes") = timed.size
    val (outp, _) = reference.getOrElse((Map.empty[String, Seq[String]], Map.empty))
    write(new File(out, "result.json"), outp.map { case (k, rows) =>
      jsonStr(k) + ":[" + rows.mkString(",") + "]" }.mkString("{", ",", "}"))
    write(new File(out, "metrics.json"),
      "{\"attempted\":" + attempted + ",\"failed\":" + failed +
        ",\"mismatches\":" + mismatches + ",\"metrics\":" +
        metrics.map { case (k, v) => jsonStr(k) + ":" + v }.mkString("{", ",", "}") + "}")
    if (traced) write(new File(out, "spans.json"), tr.spans.map { s =>
      s"""{"name":${jsonStr(s.name)},"pass":${s.pass},"start_ns":${s.start},"end_ns":${s.end}}"""
    }.mkString("[\n", ",\n", "\n]"))
    spark.stop()
  }

  /** Layer probes of the traced run, after its timed passes (JIT warm). */
  private def probes(spark: SparkSession, name: String, data: String, nDocs: Long,
      scratch: File, tr: Tracer, passWalls: Seq[Double],
      metrics: scala.collection.mutable.LinkedHashMap[String, Double]): Unit = {
    def timeIt(label: String)(f: => Any): Double = {
      f // warm once, untimed
      spark.catalog.clearCache()
      tr.pass += 1
      val t0 = System.nanoTime()
      tr(label)(f)
      spark.catalog.clearCache()
      val dt = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] probe $label: $dt%.2f s")
      dt
    }
    // each expression feeds an aggregate over its whole value, so the
    // optimizer cannot prune it away; probes read an every-k-th-doc sample
    // of about `probeDocs` documents, spread over all scan splits
    def exprRate(label: String, probeDocs: Long, c: org.apache.spark.sql.Column): Double = {
      val k = math.max(1L, nDocs / probeDocs)
      val sample = spark.read.parquet(s"$data/documents.parquet").filter(col("doc_id") % k === 0)
      ((nDocs + k - 1) / k) / timeIt(label)(sample.agg(c).collect())
    }
    metrics("functions.normalize_text_docs_per_s") = exprRate("functions.normalize_text", 20000,
      sum(length(normalizeText(col("text")))))
    metrics("functions.word_count_docs_per_s") = exprRate("functions.word_count", 20000,
      sum(wordCount(col("text"))))
    metrics("functions.word_shingles_docs_per_s") = exprRate("functions.word_shingles", 500,
      sum(size(wordShingles(col("text"), 3))))
    metrics("functions.minhash_sig_docs_per_s") = exprRate("functions.minhash_sig", 500,
      max(minhashSig(wordShingles(col("text"), 3), 32)))
    // JSONL intake fixture with every 13th line truncated: the one the
    // curation pipeline stages (same tag and scheme), staged here when the
    // workload has not; both channels are consumed in full
    val fixture = Staging.ensureFixture("docs_q", data) { path =>
      val clean = to_json(struct(col("doc_id"), col("lang"), col("source"), col("text")))
      spark.read.parquet(s"$data/documents.parquet")
        .select(when(col("doc_id") % 13 === 0, clean.substr(lit(1), length(clean) - 1))
          .otherwise(clean).as("out"))
        .write.mode("overwrite").text(path)
    }
    metrics("sources.quarantine_ingest_s") = timeIt("sources.quarantine_ingest") {
      val schema = new StructType().add("doc_id", LongType).add("lang", StringType)
        .add("source", StringType).add("text", StringType)
      val split = Quarantine.ingest(spark, fixture, schema)
      split.good.agg(sum(length(col("text"))), sum(col("doc_id"))).collect()
      split.quarantine.agg(count(lit(1)), sum(length(col("raw")))).collect()
    }
    val (pairs, cc, canonical) =
      if (name != "neardup_clusters") (0.0, 0.0, 0.0)
      else {
        val tPairs = timeIt("operators.dedup_pairs")(
          SparkEntry.queries("dedup_ngram_jaccard")(spark, data).collect())
        val tClusters = timeIt("operators.dedup_clusters")(
          SparkEntry.queries("dedup_clusters")(spark, data).collect())
        (tPairs, tClusters - tPairs, median(passWalls) - tClusters)
      }
    // the staged shingle + MinHash-signature layouts (the ones the curation
    // pipeline stages), derived once through dedup_minhash_lsh_staged
    if (name == "neardup_clusters") tr("sources.staging") {
      SparkEntry.queries("dedup_minhash_lsh_staged")(spark, data).collect()
      spark.catalog.clearCache()
    }
    metrics("sources.staging_s") = Staging.stagingCosts.collect {
      case (tag, sec) if !tag.startsWith("fixture:") => sec }.sum
    metrics("sources.staged_mb") = (dirBytes(new File(scratch, "warehouse")) +
      dirBytes(new File(scratch, "tmp"))) / 1e6
    metrics("operators.dedup_pairs_s") = pairs
    metrics("operators.dedup_cc_s") = cc
    metrics("operators.dedup_canonical_s") = canonical
  }
}
