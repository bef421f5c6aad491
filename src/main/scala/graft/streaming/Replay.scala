package graft.streaming

import java.io.File
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.atomic.AtomicBoolean

import graft.sources.Staging
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types.StructType

/** The one driver behind every finite streaming replay: the oracled
  * `streaming_*` queries and the checkpoint-recovery harness. A replay
  * streams fixture files through a real streaming query in PHASES: each
  * phase's files are staged into the watched directory and drained with
  * `processAllAvailable()` before the next phase arrives, so phase order
  * is arrival order and a single-file phase is exactly one micro-batch.
  * Each rule is written here once:
  *  - the state-store provider (`spark.graft.stateStore`) and
  *    `statePartitions` shuffle partitions, the session's partition count
  *    restored afterwards;
  *  - a fresh tree per replay: the watched `src/` and a SIBLING `ckpt/`
  *    (a checkpoint inside the watched directory would be listed as input
  *    by a source that recurses);
  *  - the output directory `Staging.dir(tag, dir)`, reset before the run;
  *  - the sink and `Trigger.ProcessingTime(0)`;
  *  - in `finally`: stop, state-store unload and deletion of the tree; a
  *    failed replay also deletes its partial output;
  *  - the lazy read-back of the output.
  */
object Replay {

  /** Shuffle partitions while a replay runs. The count at a stateful
    * query's first micro-batch is pinned in its checkpoint (Spark cannot
    * re-partition existing state), so it is sized for the STATE, not
    * inherited from the batch default, which is sized for data-grain
    * shuffles: a stream-stream join pays partitions × 4 state stores of
    * per-batch snapshot/commit I/O whether or not they hold state. Replay
    * state is kilobytes; a deployment with real state volume sizes it in
    * the hundreds. Measured on streaming_join_outer (two phases × 4
    * stores): 18.5 s at 32 partitions → 6.9 s at 8, identical output. */
  val statePartitions = 8

  /** The parquet files that arrive together. */
  type Phase = Seq[Path]

  /** Where a replay's output goes. */
  sealed trait Sink

  /** The parquet FILE sink (Append mode only): match-grain output flows
    * executor → files → scan and never sits on the driver. */
  case object FileSink extends Sink

  /** A `foreachBatch` parquet write, not a memory sink (which funnels every
    * row through the driver). Complete mode OVERWRITES the output with each
    * batch's answer (Complete re-emits the whole table every trigger);
    * Append and Update APPEND, since an overwrite would let a final empty
    * batch wipe the real output. */
  case object BatchSink extends Sink

  /** One query start against the replay's checkpoint; its phases run in
    * order. `crashAfter = Some(b)` (BatchSink only) plants a failure right
    * after the sink write of batch b, before its commit lands: the start
    * must die of it, and the next start replays batch b. */
  final case class Start(phases: Seq[Phase], crashAfter: Option[Long] = None)

  /** One query over `phases`; the output, read back lazily. */
  def run(s: SparkSession, tag: String, dir: String, schema: StructType,
      mode: OutputMode, sink: Sink, phases: Seq[Phase])(
      build: DataFrame => DataFrame): DataFrame =
    restarts(s, tag, dir, schema, mode, sink, Seq(Start(phases)))(build)

  /** Several query starts over ONE checkpoint, in order. */
  def restarts(s: SparkSession, tag: String, dir: String, schema: StructType,
      mode: OutputMode, sink: Sink, starts: Seq[Start])(
      build: DataFrame => DataFrame): DataFrame = {
    val out = Staging.dir(tag, dir)
    withConf(s) {
      val tree = Files.createTempDirectory("graft_replay")
      try {
        val src = Files.createDirectory(tree.resolve("src"))
        Staging.deleteRecursively(new File(out))
        val phaseIds = Iterator.from(0)
        // copy under a hidden name, then rename: the source never lists a
        // half-copied file
        def stage(phase: Phase): Unit = {
          val k = phaseIds.next()
          phase.zipWithIndex.foreach { case (f, i) =>
            val hidden = src.resolve(s".p${k}_$i.parquet")
            Files.copy(f, hidden)
            Files.move(hidden, src.resolve(s"p${k}_$i.parquet"),
              StandardCopyOption.ATOMIC_MOVE)
          }
        }
        starts.foreach { st =>
          val crashed = new AtomicBoolean(false)
          val w = build(s.readStream.schema(schema).parquet(src.toString))
            .writeStream.outputMode(mode)
            .option("checkpointLocation", tree.resolve("ckpt").toString)
            .trigger(Trigger.ProcessingTime(0))
          val q = sink match {
            case FileSink => w.format("parquet").option("path", out).start()
            case BatchSink =>
              val save = if (mode == OutputMode.Complete()) "overwrite" else "append"
              w.foreachBatch { (b: DataFrame, id: Long) =>
                b.write.mode(save).parquet(out)
                if (st.crashAfter.exists(id >= _) && crashed.compareAndSet(false, true))
                  throw new RuntimeException("planted mid-batch crash")
              }.start()
          }
          try {
            val drained = scala.util.Try(
              st.phases.foreach { p => stage(p); q.processAllAvailable() })
            // a start with a planted crash must die of it; any other
            // failure resurfaces as itself
            if (st.crashAfter.isEmpty) drained.get
            else if (!crashed.get) throw drained.failed.getOrElse(
              new IllegalStateException(
                "planted mid-batch crash never fired — batch boundaries changed?"))
          } finally q.stop()
        }
      } catch {
        case t: Throwable =>
          Staging.deleteRecursively(new File(out))
          throw t
      } finally {
        // after the last start: a restart reloads the previous start's
        // state stores from the same checkpoint
        unloadStateStores()
        Staging.deleteRecursively(tree.toFile)
      }
    }
    s.read.parquet(out)
  }

  /** `phases` staged once per JVM as the fixture `tag` of dataset `dir`:
    * one subdirectory per phase, one parquet file per partition of its
    * DataFrame. Returns each phase's files, so a replay's arrival is a
    * file copy, not a Spark write job. */
  def fixture(tag: String, dir: String)(phases: => Seq[DataFrame]): Seq[Phase] = {
    val root = Staging.ensureFixture(tag, dir) { path =>
      phases.zipWithIndex.foreach { case (df, i) => df.write.parquet(s"$path/$i") }
    }
    def list(d: File) = Option(d.listFiles()).getOrElse(Array.empty[File]).toSeq
    list(new File(root)).filter(_.isDirectory).sortBy(_.getName.toInt).map { d =>
      list(d).filter(_.getName.endsWith(".parquet")).sortBy(_.getName).map(_.toPath)
    }
  }

  /** Every streaming query starts under the provider named by the session
    * flag `spark.graft.stateStore`: `hdfs` (default, the in-memory
    * HDFS-backed store) or `rocksdb` (state off-heap on local disk, the
    * production backend at scale). The provider is read from SQLConf at
    * query start, so the flag applies per started query. */
  private def withConf[T](s: SparkSession)(body: => T): T = {
    val rocks = s.conf.getOption("spark.graft.stateStore").exists(_.equalsIgnoreCase("rocksdb"))
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        (if (rocks) "RocksDBStateStoreProvider" else "HDFSBackedStateStoreProvider"))
    val key = "spark.sql.shuffle.partitions"
    val saved = s.conf.get(key)
    s.conf.set(key, statePartitions.toString)
    try body finally s.conf.set(key, saved)
  }

  /** Unload every loaded state-store provider (local mode: the executors
    * share this JVM). A stopped query's providers otherwise stay loaded,
    * in-memory version maps included, until the 60 s maintenance tick;
    * back-to-back replays in one JVM accumulate them (measured:
    * streaming_join_outer 15 s → 50 s across 5 consecutive runs). An
    * active query that lost a provider reloads it from its checkpoint. */
  private def unloadStateStores(): Unit =
    org.apache.spark.sql.graft.CatalystBridge.unloadStateStores()
}
