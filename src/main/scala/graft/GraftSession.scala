package graft

import org.apache.spark.sql.SparkSession

/** The one session factory. Library users, the harness mains (Verify,
  * Bench, Explain, ScaleSmoke), the test suites and the corpus benchmark
  * all build their session through `builder`, so the tests and the DuckDB
  * oracle certify the session shape that users and the benchmark run.
  *
  * Defaults that matter at scale: AQE on (runtime coalescing + skew-join
  * splitting), shuffle partitions sized to the cluster not the 200 default,
  * UTC so timestamp semantics match the oracle, and graft's SQL functions
  * registered.
  */
object GraftSession {

  def builder(
      master: String = "local[*]",
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // the wedge family's closing-side broadcast gate
      // (Graph.closingBroadcastGate, heap-derived, ceiling 50M edges ≈
      // 800 MB-1.4 GB) is collected through the driver by
      // BroadcastExchange; the 1g default would fail edge counts just
      // under the gate at runtime
      .config("spark.driver.maxResultSize", "4g")
      .config("spark.sql.session.timeZone", "UTC")

  /** The harness session: `builder` at local[cpus] with one shuffle
    * partition per core and no UI. The mains take `cpus` from
    * `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  private[graft] def harness(
      cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.toInt),
      logLevel: String = "WARN"): SparkSession = {
    val s = builder(s"local[$cpus]", cpus).config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }

  def getOrCreate(): SparkSession = {
    val s = builder().getOrCreate()
    GraftExtensions.install(s) // in case an existing session was returned
    // Builder configs DON'T apply when getOrCreate returns an existing
    // session, and spark.driver.maxResultSize is fixed at context start —
    // verify the wedge-closing prerequisites actually took and warn
    // loudly if not, instead of failing ~800 MB broadcasts at runtime.
    // Raising maxResultSize only removes Spark's clean guard; the collect
    // still needs driver HEAP — the gate's worst case (~1.4 GB of packed
    // rows just under Graph.closingBroadcastGate) wants ≥ 8 GiB of driver
    // memory (see the gate's doc).
    val mrs = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      s.sparkContext.getConf.get("spark.driver.maxResultSize", "1g"))
    if (mrs != 0L && mrs < 4L * 1024 * 1024 * 1024)
      org.slf4j.LoggerFactory.getLogger("graft").warn(
        s"graft: spark.driver.maxResultSize=$mrs < 4g (existing session?) — " +
          "wedge-closing broadcasts near the heap-derived gate " +
          s"(Graph.closingBroadcastGate=${operators.Graph.closingBroadcastGate} " +
          "edges) can fail; set it at context start")
    // the heap side needs no warning: Graph.closingBroadcastGate is DERIVED
    // from Runtime.maxMemory (gateFor), so a small-heap driver lowers the
    // gate and flips to the shuffled-hash fallback instead of OOMing
    // clear warehouse litter from dead sessions (once per JVM): staged
    // graft_* tables are re-derived on first touch, so an unlatched,
    // uncataloged directory can only be a prior session's orphan
    sources.Staging.sweepOrphans(s)
    s
  }
}
