package graft.sources

/** Staging directories for source-fixture round trips (CSV/JSONL written
  * from a parquet table, then read back through the source under test).
  *
  * Keyed by a hash of the FULL dataset path — not the leaf name, so two
  * datasets sharing a leaf (`a/sf0.01` vs `b/sf0.01`) can never collide —
  * plus a per-JVM token so concurrent runs against the same dataset stage
  * disjoint trees and never interleave writes or cleanup. Within one JVM
  * the path is deterministic: re-staging is an idempotent overwrite of the
  * same derived content. */
object Staging {

  /** pid@host: unique per JVM, stable within it. */
  private val jvmToken = java.lang.management.ManagementFactory
    .getRuntimeMXBean.getName.replaceAll("[^a-zA-Z0-9]", "_")

  def dir(tag: String, datasetDir: String): String = {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(datasetDir.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)
    val path = System.getProperty("java.io.tmpdir") + s"/graft_${tag}_${key}_$jvmToken"
    handedOut.add(path)
    path
  }

  // Every directory `dir` hands out is removed when the JVM exits: the
  // token makes each path this JVM's own, so no other run's tree is hit.
  private val handedOut = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  sys.addShutdownHook(deleteTrees(handedOutDirs))

  /** The directories `dir` has handed out in this JVM so far. */
  private[graft] def handedOutDirs: Set[String] =
    handedOut.toArray(Array.empty[String]).toSet

  /** Recursive delete of each tree, best effort: a missing tree is a no-op. */
  private[graft] def deleteTrees(dirs: Iterable[String]): Unit =
    dirs.foreach(d => deleteRecursively(new java.io.File(d)))

  // ---------------------------------------------------------------------
  // Managed-table staging (the BucketedLayout pattern): a production
  // pipeline derives its shared relations — graph edges, dedup shingles,
  // MinHash signatures, ANN index parts — ONCE and persists them bucketed;
  // every downstream pass reads the staged layout. `ensureTable` memoizes
  // per JVM, records the row count at staging time (so size gates never
  // re-count an invariant staged relation), and keys the table name on the
  // dataset's content stamp so same-basename dirs never collide and
  // regenerated data never serves a stale layout.
  // ---------------------------------------------------------------------

  private val stagedTables = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.CompletableFuture[(String, Long)]]()

  // Per-JVM staging cost ledger: seconds paid to derive+write+count each
  // managed layout, keyed by "tag" (the stable name across datasets — the
  // stamp suffix would make rounds incomparable). Bench reads this AFTER
  // its untimed pre-stage sweep and reports layout costs as their own
  // metric table (BASELINE.md "staging costs") — staging is a one-time
  // amortized cost in production and must never land inside a timed
  // per-query median (the r12–r14 artifact-row class).
  private val stagingSeconds = new java.util.concurrent.ConcurrentHashMap[
    String, java.lang.Double]()

  /** Snapshot of per-layout staging costs paid so far in this JVM (tag →
    * seconds; a re-staged tag keeps its LAST cost). */
  def stagingCosts: Map[String, Double] = {
    val b = Map.newBuilder[String, Double]
    val it = stagingSeconds.entrySet().iterator()
    while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.doubleValue() }
    b.result()
  }

  /** Dataset identity = canonical path + mtime + total byte size + file
    * count of the witness (the table the derivation reads): distinct for
    * same-basename dirs, and a regenerate under the same path changes the
    * stamp even when it lands inside the same filesystem-mtime tick
    * (coarse-granularity filesystems, fast tests) — the size/count fold
    * catches what mtime alone misses. */
  def contentStamp(datasetDir: String, witnessFile: String): String = {
    val canon = new java.io.File(datasetDir).getCanonicalFile
    val w = new java.io.File(canon, witnessFile)
    def walk(f: java.io.File): (Long, Long) =
      if (f.isDirectory) {
        val children = Option(f.listFiles()).getOrElse(Array.empty)
        children.map(walk).foldLeft((0L, 0L)) {
          case ((sz, n), (csz, cn)) => (sz + csz, n + cn)
        }
      } else if (f.isFile) (f.length(), 1L)
      else (0L, 0L)
    val (size, nFiles) = walk(w)
    val mtime = if (w.exists()) w.lastModified() else 0L
    val h = scala.util.hashing.MurmurHash3
      .stringHash(s"${canon.getPath}:$mtime:$size:$nFiles")
    canon.getName.replaceAll("[^a-zA-Z0-9]", "_") + "_" +
      (h & 0x7fffffffL).toString
  }

  /** Stage `derive` as a bucketed (optionally sorted) managed table,
    * once per JVM per (tag, dataset stamp). Returns (table, row count).
    *
    * `numBuckets` must MATCH the session's shuffle parallelism for
    * data-grain relations (32 here): a bucketed scan runs one task per
    * bucket, so under-bucketing caps every downstream co-bucketed stage —
    * measured 3x on the sf1 dedup arm with 8 buckets on 32 cores. (At
    * cluster scale: buckets in the thousands, ≥ executor-core count.)
    * Metadata-sized relations (centroids, codebooks) can stay small. */
  def ensureTable(s: org.apache.spark.sql.SparkSession, tag: String,
      datasetDir: String, witnessFile: String, bucketCol: String,
      numBuckets: Int, sortCol: Option[String])(
      derive: => org.apache.spark.sql.DataFrame): (String, Long) = {
    sweepOrphans(s) // first staging in the JVM clears dead-session litter
    val stamp = contentStamp(datasetDir, witnessFile)
    val table = s"graft_${tag}_$stamp"
    // Per-key latch: only same-table callers wait on a staging in flight;
    // staging one relation never serializes unrelated staging or queries
    // (a global lock here stalled every concurrent caller for the full
    // derive+write+count job).
    var owner = false
    val fut = stagedTables.computeIfAbsent(table, _ => {
      owner = true
      new java.util.concurrent.CompletableFuture[(String, Long)]()
    })
    if (owner) {
      try {
        // Sweep SUPERSEDED stamps of the same (tag, dataset basename):
        // the stamp changes when the dataset regenerates, and the old
        // stamped table would otherwise sit in the warehouse forever.
        // Safe because staging is memoized per JVM — a catalog table not
        // in stagedTables is from a prior session (never reused: every
        // JVM re-derives on first touch) or a superseded stamp; tables
        // latched in THIS JVM are protected, so a same-basename SIBLING
        // dataset staged concurrently is never swept out from under its
        // readers.
        // case-insensitive compare: the catalog lowercases table names
        val prefix = table.dropRight(stamp.split("_").last.length)
          .toLowerCase(java.util.Locale.ROOT)
        val latched = {
          val it = stagedTables.keySet().iterator()
          val b = Set.newBuilder[String]
          while (it.hasNext) b += it.next().toLowerCase(java.util.Locale.ROOT)
          b.result()
        }
        s.catalog.listTables().collect()
          .map(_.name.toLowerCase(java.util.Locale.ROOT))
          .filter(t => t.startsWith(prefix) &&
            // the remainder must be EXACTLY the stamp's numeric hash:
            // sanitized basenames can be proper prefixes of each other
            // ('sf0' vs 'sf0.1' -> 'sf0_1'), and without this check
            // dataset 'sf0' would sweep 'sf0_1_<hash>' tables too
            t.drop(prefix.length).forall(_.isDigit) &&
            t != table.toLowerCase(java.util.Locale.ROOT) &&
            !latched.contains(t))
          .foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
        s.sql(s"DROP TABLE IF EXISTS $table")
        val loc = new java.io.File(
          s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:") +
            s"/$table")
        if (loc.exists()) deleteRecursively(loc)
        val t0 = System.nanoTime()
        Sinks.writeBucketed(derive, table, bucketCol, numBuckets, sortCol)
        val n = s.table(table).count()
        stagingSeconds.put(tag, java.lang.Double.valueOf(
          (System.nanoTime() - t0) / 1e9))
        fut.complete((table, n))
      } catch {
        case e: Throwable =>
          stagedTables.remove(table, fut) // a later caller may retry
          fut.completeExceptionally(e)
          throw e
      }
    }
    fut.join()
  }

  // -------------------------------------------------------------------
  // Staged /tmp FIXTURES that are pure functions of a static dataset
  // (corrupt-JSONL intake fixtures, streaming replay phases): re-writing
  // them on every query call paid the full serialize cost per bench run.
  // Same per-JVM future latch + self-healing existence check as
  // ensureDir. NOT for a streaming replay's own tree (its checkpoint):
  // that is per-call, since a checkpoint can't be reused across runs.
  // -------------------------------------------------------------------

  private val stagedFixtures = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.CompletableFuture[String]]()

  /** Stage the fixture for (tag, datasetDir) once per JVM via
    * `write(path)` into Staging.dir(tag, datasetDir); returns the path.
    * Restages if the directory vanished since staging. */
  def ensureFixture(tag: String, datasetDir: String)(
      write: String => Unit): String = {
    val path = dir(tag, datasetDir)
    val key = tag + ":" + datasetDir
    var owner = false
    val fut = stagedFixtures.computeIfAbsent(key, _ => {
      owner = true
      new java.util.concurrent.CompletableFuture[String]()
    })
    if (owner) {
      try {
        val t0 = System.nanoTime()
        write(path)
        stagingSeconds.put("fixture:" + tag, java.lang.Double.valueOf(
          (System.nanoTime() - t0) / 1e9))
        fut.complete(path)
      } catch {
        case e: Throwable =>
          stagedFixtures.remove(key, fut) // a later caller may retry
          fut.completeExceptionally(e)
          throw e
      }
    }
    val p = fut.join()
    if (new java.io.File(p).exists()) p
    else {
      stagedFixtures.remove(key, fut)
      ensureFixture(tag, datasetDir)(write)
    }
  }

  // -------------------------------------------------------------------
  // Staged warehouse DIRECTORIES that are not managed tables (Z-order /
  // ORC / hive-partitioned layout copies): same per-JVM future-latch as
  // ensureTable, so the orphan sweep can tell a live staged dir from
  // dead-session litter, plus a SELF-HEALING existence check — a forced
  // sweep (tests) or an external delete invalidates the memo instead of
  // poisoning every later read (the r11 q_incr_agg failure mode, which
  // also applied to all three layout dirs).
  // -------------------------------------------------------------------

  private val stagedDirs = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.CompletableFuture[String]]()

  /** Stage a warehouse directory `name` once per JVM via `write(path)`;
    * returns the absolute path. Latched against the orphan sweep while
    * live; restages if the directory vanished since staging.
    *
    * The memo is keyed by the RESOLVED path (this session's warehouse dir
    * + name), not by name alone: two SparkSessions in one JVM with
    * different warehouse dirs each stage their own copy instead of the
    * second silently reading the first session's path. The sweep's latch
    * check compares directory NAMES (it only ever sweeps this session's
    * warehouse), so it derives the name from each path key. */
  def ensureDir(s: org.apache.spark.sql.SparkSession, name: String)(
      write: String => Unit): String = {
    sweepOrphans(s) // first staging in the JVM clears dead-session litter
    val path = s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:") +
      s"/$name"
    var owner = false
    val fut = stagedDirs.computeIfAbsent(path, _ => {
      owner = true
      new java.util.concurrent.CompletableFuture[String]()
    })
    if (owner) {
      try {
        val t0 = System.nanoTime()
        write(path)
        stagingSeconds.put("dir:" + name, java.lang.Double.valueOf(
          (System.nanoTime() - t0) / 1e9))
        fut.complete(path)
      } catch {
        case e: Throwable =>
          stagedDirs.remove(path, fut) // a later caller may retry
          fut.completeExceptionally(e)
          throw e
      }
    }
    val p = fut.join()
    if (new java.io.File(p).exists()) p
    else { // self-heal: dir swept/deleted after staging — drop memo, restage
      stagedDirs.remove(path, fut)
      ensureDir(s, name)(write)
    }
  }

  // -------------------------------------------------------------------
  // Memoized dataset-derived scalar counts (|embeddings|, |E|, ...): a
  // relation that is a pure function of the static dataset is counted
  // once per JVM, keyed on the dataset's content stamp. The future-latch
  // keeps the ConcurrentHashMap bin lock held only for the cheap insert —
  // the counting JOB runs outside the map callback, so a concurrent
  // caller whose key hashes to the same bin never stalls behind a full
  // Spark job (the computeIfAbsent-with-count() anti-pattern this
  // replaces; same shape as ensureTable's latch above).
  // -------------------------------------------------------------------

  private val memoCounts = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.CompletableFuture[java.lang.Long]]()

  def memoizedCount(tag: String, datasetDir: String, witnessFile: String)(
      count: => Long): Long = {
    val key = tag + ":" + contentStamp(datasetDir, witnessFile)
    var owner = false
    val fut = memoCounts.computeIfAbsent(key, _ => {
      owner = true
      new java.util.concurrent.CompletableFuture[java.lang.Long]()
    })
    if (owner) {
      try fut.complete(java.lang.Long.valueOf(count))
      catch {
        case e: Throwable =>
          memoCounts.remove(key, fut) // a later caller may retry
          fut.completeExceptionally(e)
          throw e
      }
    }
    fut.join().longValue()
  }

  // -------------------------------------------------------------------
  // Session-start orphan sweep: the superseded-stamp sweep above only
  // fires when the SAME (tag, basename) re-stages, so warehouse
  // directories abandoned by dead JVMs under tags this session never
  // touches would persist forever. The catalog is in-memory (no Hive
  // metastore), so a prior session's tables survive only as DIRECTORIES
  // under spark-warehouse/ — sweep any graft_* dir that is neither
  // latched in this JVM nor registered in this session's catalog. Safe
  // under the single-JVM-per-warehouse invariant: every JVM re-derives
  // on first touch (ensureTable drops + rewrites before use), so an
  // unlatched, uncataloged graft_* dir can only be litter.
  // -------------------------------------------------------------------

  private val orphanSweepDone = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Runs once per JVM (first GraftSession build / first staging);
    * `force` re-runs it for StagingSpec. */
  def sweepOrphans(s: org.apache.spark.sql.SparkSession,
      force: Boolean = false): Unit =
    if (orphanSweepDone.compareAndSet(false, true) || force) {
      val wh = new java.io.File(
        s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
      // List candidate dirs FIRST, snapshot the catalog after, and
      // re-check the latch set freshly per candidate immediately before
      // deleting. ensureTable registers its latch BEFORE creating the
      // table directory, so any dir a concurrent staging creates while
      // this sweep runs is already latched by the time we could see it —
      // the fresh per-candidate check can't miss it. (The r11 ordering
      // snapshotted latched+catalog before listFiles(), leaving a window
      // where a mid-write staged dir was neither, and got deleted.)
      val candidates = Option(wh.listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter { f =>
          f.isDirectory &&
            f.getName.toLowerCase(java.util.Locale.ROOT).startsWith("graft_")
        }
      val inCatalog = s.catalog.listTables().collect()
        .map(_.name.toLowerCase(java.util.Locale.ROOT)).toSet
      candidates.foreach { f =>
        val n = f.getName.toLowerCase(java.util.Locale.ROOT)
        // stagedTables is keyed by table name; stagedDirs by resolved
        // path — compare the basename in both cases (the sweep only ever
        // walks this session's warehouse, so a name hit from another
        // session's path key merely keeps a same-named dir alive)
        def latchedIn(m: java.util.concurrent.ConcurrentHashMap[String, _]) = {
          val it = m.keySet().iterator()
          var hit = false
          while (!hit && it.hasNext) {
            val k = it.next()
            val base = k.substring(k.lastIndexOf('/') + 1)
            hit = base.toLowerCase(java.util.Locale.ROOT) == n
          }
          hit
        }
        val latchedNow = latchedIn(stagedTables) || latchedIn(stagedDirs)
        if (!latchedNow && !inCatalog.contains(n)) deleteRecursively(f)
      }
    }

  /** Test hook: register a latch with no catalog entry, modelling the
    * mid-write window of a concurrent ensureTable (latch registered,
    * directory being written, saveAsTable not yet committed). Lets
    * StagingSpec prove the sweep's fixed invariant — a latched,
    * uncataloged dir survives — without a racing thread. */
  private[graft] def latchForSpec(table: String): Unit = {
    val f = new java.util.concurrent.CompletableFuture[(String, Long)]()
    f.complete((table, 0L))
    stagedTables.put(table, f)
    ()
  }

  /** Test hook: evict a table's per-JVM latch so StagingSpec can model a
    * prior-session stale table (which is never latched) without a second
    * JVM. Not used by production paths. */
  private[graft] def evictForSpec(table: String): Unit = {
    val f = stagedTables.remove(table)
    if (f != null) f.cancel(true)
    ()
  }

  /** Recursive delete — staging trees nest (`_temporary/<query>/...`), a
    * one-level sweep leaves deep litter behind. */
  def deleteRecursively(f: java.io.File): Unit = {
    // a symbolic link is removed itself, never followed into its target
    if (java.nio.file.Files.isDirectory(f.toPath, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      val children = f.listFiles()
      if (children != null) children.foreach(deleteRecursively)
    }
    f.delete()
  }
}
