package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev harness (like Explain): MEASURE the sf0.1 → sf1 scaling exponent of
  * the bench's heaviest queries, instead of arguing their O() on paper.
  *
  * The driver ships no sf1 data, so sf1 is staged as 10 structure-preserving
  * replicas of sf0.1 with DISJOINT key spaces — mirroring how TPC-H actually
  * grows (new orders/parts/documents arrive; existing keys don't densify):
  *
  *  - lineitem: all three graph-relevant keys (orderkey, partkey, suppkey)
  *    offset per replica, so the co-purchase graph gains 10× nodes and edges
  *    at the SAME degree distribution — exactly sf1's growth mode.
  *  - documents: doc_id offset, text ROTATED by r words per replica (almost
  *    every 3-shingle changes, so replicas are not near-dups of each other
  *    and the shingle-df distribution keeps its shape — new unique documents,
  *    not 10 exact copies, which would be a duplication-rate change, not a
  *    scale change).
  *
  * Usage: sbt "runMain graft.ScaleSmoke" — prints per-query seconds at both
  * scales and the log10(t1/t0) exponent (1.0 = linear). Exponents land in
  * BASELINE.md; anything ≳ 2 means a quadratic blow-up the small-SF gate
  * can't see.
  */
object ScaleSmoke {

  /** Orderkey replica stride shared by lineitem AND orders staging: the
    * max over BOTH tables, so an order with no lineitems (o_orderkey
    * beyond max l_orderkey) can never make replica key ranges overlap
    * and silently cross-join scaled lineitems to the wrong replica. */
  private def orderStride(spark: SparkSession, src: String): Long = {
    val maxL = spark.read.parquet(s"$src/lineitem.parquet")
      .agg(max("l_orderkey")).head.getLong(0)
    val maxO = spark.read.parquet(s"$src/orders.parquet")
      .agg(max("o_orderkey")).head.getLong(0)
    1L + math.max(maxL, maxO)
  }

  private def stage(spark: SparkSession, src: String, out: String): Unit = {
    val reps = 10
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    val maxO = orderStride(spark, src)
    val maxP = li.agg(max("l_partkey")).head.getLong(0) + 1
    val maxS = li.agg(max("l_suppkey")).head.getLong(0) + 1
    val liScaled = (0 until reps).map { r =>
      li.withColumn("l_orderkey", col("l_orderkey") + lit(r * maxO))
        .withColumn("l_partkey", col("l_partkey") + lit(r * maxP))
        .withColumn("l_suppkey", col("l_suppkey") + lit(r * maxS))
    }.reduce(_ unionAll _)
    liScaled.write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    val doc = spark.read.parquet(s"$src/documents.parquet")
    val maxD = doc.agg(max("doc_id")).head.getLong(0) + 1
    val docScaled = (0 until reps).map { r =>
      val words = split(col("text"), "\\s+")
      val rotated =
        if (r == 0) col("text")
        else array_join(concat(
          slice(words, r + 1, 1 << 24), slice(words, 1, r)), " ")
      doc.select(
        (col("doc_id") + lit(r * maxD)).as("doc_id"),
        rotated.as("text"),
        col("lang"), col("source"),
        length(rotated).cast("long").as("n_chars"))
    }.reduce(_ unionAll _)
    docScaled.write.mode("overwrite").parquet(s"$out/documents.parquet")
    stageEmbeddings(spark, src, out)
    stagePart(spark, src, out)
  }

  /** part: p_partkey offset per replica with the SAME maxP stride the
    * lineitem staging uses, so every scaled l_partkey joins its replica's
    * part row — the catalog grows 10× alongside the order stream (apriori's
    * basket contents stay the same size, there are just 10× more). */
  private[graft] def stagePart(spark: SparkSession, src: String, out: String): Unit = {
    val reps = 10
    val maxP = spark.read.parquet(s"$src/lineitem.parquet")
      .agg(max("l_partkey")).head.getLong(0) + 1
    val pt = spark.read.parquet(s"$src/part.parquet")
    val scaled = (0 until reps).map { r =>
      pt.withColumn("p_partkey", col("p_partkey") + lit(r * maxP))
    }.reduce(_ unionAll _)
    scaled.write.mode("overwrite").parquet(s"$out/part.parquet")
  }

  /** orders: o_orderkey offset with the SAME shared stride the lineitem
    * staging uses (max over both tables' orderkeys, so each scaled
    * lineitem joins exactly its replica's order row), o_custkey
    * offset by its own stride — the customer population grows 10× alongside
    * the order stream, keeping per-customer basket sizes (and so the
    * bipartite HITS degree distribution) unchanged. */
  private[graft] def stageOrders(spark: SparkSession, src: String, out: String): Unit = {
    val reps = 10
    val maxO = orderStride(spark, src)
    val or = spark.read.parquet(s"$src/orders.parquet")
    val maxC = or.agg(max("o_custkey")).head.getLong(0) + 1
    val scaled = (0 until reps).map { r =>
      or.withColumn("o_orderkey", col("o_orderkey") + lit(r * maxO))
        .withColumn("o_custkey", col("o_custkey") + lit(r * maxC))
    }.reduce(_ unionAll _)
    scaled.write.mode("overwrite").parquet(s"$out/orders.parquet")
  }

  /** events: user_id/event_id offset per replica AND the whole replica
    * time-SHIFTED into a disjoint wall-clock range — 10× the sessions at
    * the SAME per-instant concurrency density, so interval/session
    * operators see a scale change, not a density change (10 replicas piled
    * onto one time range would grow the overlap-pair relation ~100× and
    * measure the data's quadratic density, not the plan). */
  private[graft] def stageEvents(spark: SparkSession, src: String, out: String): Unit = {
    val reps = 10
    // read through Tables.events so ts arrives as the LONG nanos the whole
    // pipeline uses (raw parquet TIMESTAMP(NANOS) is illegal to Spark 4)
    val ev = graft.Tables.events(spark, src)
    val maxU = ev.agg(max("user_id")).head.getLong(0) + 1
    val maxE = ev.agg(max("event_id")).head.getLong(0) + 1
    val bounds = ev.agg(min("ts").as("lo"), max("ts").as("hi")).head
    val spanNs = bounds.getLong(1) - bounds.getLong(0) + 3600L * 1000000000L
    val scaled = (0 until reps).map { r =>
      ev.withColumn("user_id", col("user_id") + lit(r * maxU))
        .withColumn("event_id", col("event_id") + lit(r * maxE))
        .withColumn("ts", col("ts") + lit(r * spanNs))
    }.reduce(_ unionAll _)
    scaled.write.mode("overwrite").parquet(s"$out/events.parquet")
  }

  /** embeddings: vec_id offset per replica, the 64-dim vector ROTATED by r
    * positions — norm and coordinate distribution preserved (same cosine
    * geometry statistics) while the hyperplane sign signatures change, so
    * replicas spread over fresh LSH buckets / IVF cells instead of piling
    * 10 copies into the originals' buckets (which would measure a
    * duplication-rate change, not a scale change). */
  private[graft] def stageEmbeddings(spark: SparkSession, src: String, out: String): Unit = {
    val reps = 10
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val maxV = emb.agg(max("vec_id")).head.getLong(0) + 1
    val dim = 64
    val embScaled = (0 until reps).map { r =>
      val rotated =
        if (r == 0) col("embedding")
        else concat(slice(col("embedding"), r + 1, dim - r),
          slice(col("embedding"), 1, r))
      emb.select((col("vec_id") + lit(r * maxV)).as("vec_id"),
        rotated.as("embedding"), col("label"))
    }.reduce(_ unionAll _)
    embScaled.write.mode("overwrite").parquet(s"$out/embeddings.parquet")
  }

  /** The ~100x (sf10-equivalent) arm: lineitem + documents only — the two
    * tables behind the four heaviest at-risk plans (clustering coeff,
    * dedup clusters/canonical/containment). Keys offset per replica as in
    * `stage`; document text is made VOCABULARY-DISJOINT per replica by
    * tagging every token with the replica id instead of rotating: with
    * ~54-word docs, 100 rotations would wrap (r ≥ n is the identity) and
    * pile up exact/near copies — C(100,2) synthetic near-dup pairs per
    * document, a duplication-density catastrophe that measures the data,
    * not the plan. Disjoint vocabularies keep each replica's internal
    * near-dup structure EXACTLY the original corpus's (pairs scale
    * linearly with replicas) while the shingle-df distribution keeps its
    * shape 100x wider — the growth mode of a real corpus gaining new
    * domains. Built with ONE range(100) cross join per table, not a
    * 100-leaf unionAll. */
  private[graft] def stage100(spark: SparkSession, src: String, out: String): Unit = {
    val reps = 100
    val rdf = broadcast(spark.range(reps).toDF("r"))
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    val maxO = orderStride(spark, src)
    val maxP = li.agg(max("l_partkey")).head.getLong(0) + 1
    val maxS = li.agg(max("l_suppkey")).head.getLong(0) + 1
    li.crossJoin(rdf)
      .withColumn("l_orderkey", col("l_orderkey") + col("r") * maxO)
      .withColumn("l_partkey", col("l_partkey") + col("r") * maxP)
      .withColumn("l_suppkey", col("l_suppkey") + col("r") * maxS)
      .drop("r")
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    val doc = spark.read.parquet(s"$src/documents.parquet")
    val maxD = doc.agg(max("doc_id")).head.getLong(0) + 1
    // "$1x" then the replica id: the 'x' stops Java's replacement parser
    // from swallowing the id digits into the group number
    val tagged = when(col("r") === 0, col("text")).otherwise(
      regexp_replace(col("text"), lit("(\\S+)"),
        concat(lit("$1x"), col("r"))))
    doc.crossJoin(rdf)
      .select((col("doc_id") + col("r") * maxD).as("doc_id"),
        tagged.as("text"), col("lang"), col("source"),
        length(tagged).cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
  }

  /** orders at 100 replicas — the HITS family's bipartite derivation joins
    * lineitem×orders, so its decade triple needs orders staged with the
    * SAME orderkey stride as lineitem (custkeys offset too: 100× customers
    * at the original per-customer basket distribution). */
  private[graft] def stage100Orders(spark: SparkSession, src: String, out: String): Unit = {
    val reps = 100
    val rdf = broadcast(spark.range(reps).toDF("r"))
    val maxO = orderStride(spark, src)
    val or = spark.read.parquet(s"$src/orders.parquet")
    val maxC = or.agg(max("o_custkey")).head.getLong(0) + 1
    or.crossJoin(rdf)
      .withColumn("o_orderkey", col("o_orderkey") + col("r") * maxO)
      .withColumn("o_custkey", col("o_custkey") + col("r") * maxC)
      .drop("r")
      .write.mode("overwrite").parquet(s"$out/orders.parquet")
  }

  /** Harness-only measurements that are not SparkEntry queries. */
  private val custom: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the production append path alone (probe + union, no proof arm)
    "dedup_index_append_apply" ->
      ((s: SparkSession, d: String) => operators.Dedup.indexAppendApply(s, d)),
    // streaming_join_outer split-measured (the ivfpq build/search
    // pattern): _stage = the staging half (normalized events + sentinel
    // phase fixtures), the full query = stage + two-phase watermark
    // replay; replay cost is the difference
    "streaming_join_outer_stage" -> { (s, d) =>
      streaming.EventStream.joinOuterPhases(s, d)
      s.range(1).toDF("ok")
    })

  /** Builders by name from SparkEntry.queries (or `custom`), in order; an
    * unknown name fails the run before anything is measured. */
  private def resolve(names: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val registry = SparkEntry.queries ++ custom
    names.map(n => n -> registry.getOrElse(n,
      throw new IllegalArgumentException(s"ScaleSmoke: no query named $n")))
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.harness()

    val small = "/root/testdata/sf0.1"
    val big = new java.io.File("scale_sf1").getAbsolutePath
    if (!new java.io.File(s"$big/documents.parquet").isDirectory) {
      println(s"[scale] staging 10x replicas of $small -> $big")
      stage(spark, small, big)
    } else if (!new java.io.File(s"$big/embeddings.parquet").isDirectory) {
      println(s"[scale] staging 10x embeddings -> $big")
      stageEmbeddings(spark, small, big)
    }
    if (!new java.io.File(s"$big/events.parquet").isDirectory) {
      println(s"[scale] staging 10x events -> $big")
      stageEvents(spark, small, big)
    }
    if (!new java.io.File(s"$big/part.parquet").isDirectory) {
      println(s"[scale] staging 10x part -> $big")
      stagePart(spark, small, big)
    }
    if (!new java.io.File(s"$big/orders.parquet").isDirectory) {
      println(s"[scale] staging 10x orders -> $big")
      stageOrders(spark, small, big)
    }

    // ~100x arm (`runMain graft.ScaleSmoke --sf10 [names]`): the four
    // heaviest at-risk plans measured across the FULL decade triple
    // sf0.1 → sf1 → sf10, to confirm no super-linear knee appears beyond
    // the single decade the standard arm covers. sf10 runs are timed
    // once (the signal sought is a knee, i.e. a factor, not noise-level
    // precision) — the full arm is ~tens of minutes.
    if (args.headOption.contains("--sf10")) {
      val big10 = new java.io.File("scale_sf10").getAbsolutePath
      if (!new java.io.File(s"$big10/documents.parquet").isDirectory) {
        println(s"[scale] staging 100x replicas of $small -> $big10")
        stage100(spark, small, big10)
      }
      val names: Seq[String] =
        if (args.length > 1) args.drop(1).toSeq
        else Seq("q_clustering_coeff", "dedup_clusters",
          "dedup_cluster_canonical", "dedup_containment",
          // the one plausibly-superlinear plan left after r9 (first-decade
          // staged exponent 1.22 on a noisy sf1 cell): the wedge family's
          // second-decade reading
          "q_triangle_count_staged",
          // the daily-ingest dedup path (r10 verdict item 6): the family
          // the 100 TB story leans on hardest gets the full decade triple
          "dedup_incremental_staged", "dedup_index_append_apply",
          // the composed curation pipeline — the headline e2e statement
          "llm_pretrain_e2e",
          // the iterate-to-fixpoint family (r12 verdict item 4): the one
          // heavy family still on a single-decade read before r13
          "q_label_propagation", "q_hits",
          // r13: the stride-1 truth arm is 8x the screen's window rows —
          // prove the 8x stays a constant factor, not a growth term
          "dedup_substring_recall",
          // r14: the ExactSubstr APPLY arm (staged stride-1 windows →
          // span merge at duplicated-window grain → per-doc gap concat)
          // and the line-grain rewrite (chunk aggregate + min-keeper)
          "dedup_substring_rewrite", "text_dedup_lines",
          // r14: one staged traversal variant covers the edges_multi
          // staging path + per-round bucketed reads at depth
          "q_kcore_staged",
          // r15: the streaming band-index probe — the 13th rung's recurring
          // cost is the per-batch probe against the persisted index (the
          // one-time index build is warmPerScale, like its batch sibling).
          // r16 re-measure: the 32 signature HOFs became the codegen'd
          // MinHashSig expression — the triple quantifies the arrival-side
          // win (r15 verdict item 3b)
          "streaming_neardup",
          // r16: the bounded-state watermarked sibling (three-phase replay,
          // 2x the arrival volume of the Complete form by construction)
          "streaming_neardup_watermarked",
          // r16: the within-doc ExactSubstr arm — same staged stride-1
          // window table, dup aggregate at (doc_id, h) grain
          "dedup_substring_within",
          // r15: the unigram trainer's claim is word-TYPE-boundedness —
          // sf1 replicas rotate words (same vocabulary, 10x freq: cost
          // must stay flat) while sf10 tags tokens per replica (100x
          // vocabulary: cost may grow linearly in types, never in corpus)
          "text_unigram_train")
      if (names.contains("q_hits") &&
          !new java.io.File(s"$big10/orders.parquet").isDirectory) {
        println(s"[scale] staging 100x orders -> $big10")
        stage100Orders(spark, small, big10)
      }
      val qs = resolve(names)
      qs.foreach { case (_, fn) => // warmup (JIT + codegen), untimed
        fn(spark, small).count(); spark.catalog.clearCache()
      }
      def once(fn: (SparkSession, String) => DataFrame, dir: String): Double = {
        val t0 = System.nanoTime()
        fn(spark, dir).count()
        spark.catalog.clearCache()
        (System.nanoTime() - t0) / 1e9
      }
      // The daily-ingest pair probes a PERSISTED index: its recurring cost
      // is the probe, not the once-per-corpus index build that first touch
      // pays in this arm's fresh JVM. Warm each scale untimed first so the
      // timed read is the daily path (the build cost is reported once,
      // separately).
      val warmPerScale = Set("dedup_incremental_staged", "dedup_index_append_apply",
        "llm_pretrain_e2e", "streaming_neardup", "streaming_neardup_watermarked",
        "dedup_substring_within",
        // rewrite: staging is part of its one-shot cost, but the split
        // (build+first-run vs steady-state) localizes any knee
        "dedup_substring_rewrite")
      println(f"${"query"}%-24s ${"sf0.1 s"}%10s ${"sf1 s"}%10s ${"sf10 s"}%10s ${"e01"}%8s ${"e12"}%8s")
      qs.foreach { case (name, fn) =>
        def timed(dir: String): Double = {
          if (warmPerScale.contains(name)) {
            val build = once(fn, dir)
            println(f"$name%-24s [index build+probe at $dir: $build%.2f s]")
          }
          once(fn, dir)
        }
        val a = math.min(once(fn, small), once(fn, small))
        val b = timed(big)
        val c = timed(big10)
        println(f"$name%-24s $a%10.2f $b%10.2f $c%10.2f ${math.log10(b / a)}%8.2f ${math.log10(c / b)}%8.2f")
      }
      spark.stop()
      return
    }

    // optional args = query names to measure (default: this list)
    val standard = Seq(
      "q_pagerank_copurchase", "q_triangle_count", "dedup_containment",
      "dedup_clusters", "dedup_semantic_clusters", "dedup_ngram_jaccard",
      "dedup_minhash_lsh", "sim_knn_graph", "q_label_propagation",
      "dedup_overlap_sketch", "sim_ann_ivfpq", "q_interval_overlap",
      "q_degree_hist", "q_kmv_union", "sim_power_iteration", "text_novelty",
      "mm_byte_histogram", "q_rolling_wau", "q_bfs_layers", "q_kcore",
      "q_itemsets_apriori", "dedup_incremental", "sim_ann_sq",
      "text_quality_auc", "q_skew_profile", "dedup_retention_funnel",
      "dedup_cluster_canonical", "sim_matryoshka", "q_join_size_estimate",
      "text_ngram_entropy", "q_hits", "q_assortativity", "dedup_substring",
      "mm_image_neardup", "q_survival_km", "streaming_kmv",
      "q_clustering_coeff", "sim_label_spread", "q_sssp_weighted",
      "corpus_warc_ingest", "q_attribution_markov", "q_attribution_position",
      "corpus_compaction_plan", "text_bpe_encode", "q_peak_concurrency",
      "q_analyze_stats", "q_graph_modularity", "q_graph_modularity_staged",
      "dedup_index_append", "dedup_index_append_apply", "q_hits_staged",
      "dedup_retention_funnel_staged", "q_triangle_count_staged",
      "q_clustering_coeff_staged", "q_label_propagation_staged",
      "q_pagerank_copurchase_staged", "dedup_minhash_lsh_staged",
      "dedup_incremental_staged", "dedup_clusters_staged",
      "dedup_cluster_canonical_staged", "dedup_semantic_clusters_staged",
      "sim_ann_ivf_staged", "sim_ann_ivfpq_staged",
      "streaming_join_outer_stage", "streaming_join_outer",
      // the RA wedge family's unmeasured member (r10 verdict item 5): the
      // no-sort-over-wedges claim needs an exponent, not just a plan pin
      "q_link_predict",
      // the composed curation pipeline: its exponent is the headline
      // 100 TB statement (every stage is bucketed/blocked/broadcast)
      "llm_pretrain_e2e",
      // r15 additions: the compaction APPLY rewrite (one (source,bucket)
      // exchange + one file per plan bucket), the overlapped-chunking
      // transform (one doc_id exchange), and the stream-static band-index
      // probe (staged-index read + micro-batch replay harness)
      "corpus_compaction_apply", "text_chunk_overlap", "streaming_neardup",
      // r16 additions: bounded-state watermarked probe, within-doc
      // ExactSubstr, and the t-closeness governance aggregate
      "streaming_neardup_watermarked", "dedup_substring_within",
      "q_tcloseness")
    val queries =
      resolve(if (args.isEmpty) standard else args.toSeq.filterNot(_ == "sim_ann_ivfpq_split"))

    // warmup (JIT + codegen) on the small dir, untimed
    queries.foreach { case (_, fn) =>
      fn(spark, small).count(); spark.catalog.clearCache()
    }

    def time(fn: (SparkSession, String) => DataFrame, dir: String): Double = {
      // best-of-2: the shared machine spikes; min is the honest capacity read
      val ts = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, dir).count()
        spark.catalog.clearCache()
        (System.nanoTime() - t0) / 1e9
      }
      ts.min
    }

    println(f"${"query"}%-24s ${"sf0.1 s"}%10s ${"sf1 s"}%10s ${"exponent"}%10s")
    queries.foreach { case (name, fn) =>
      val t0 = time(fn, small)
      val t1 = time(fn, big)
      val exp = math.log10(t1 / t0)
      println(f"$name%-24s $t0%10.2f $t1%10.2f $exp%10.2f")
    }

    // IVFPQ build vs search, measured separately: the monolithic query
    // above re-pays index construction every run, but production builds
    // once and searches many — and the two paths scale differently (build
    // carries the n·nlist assignment + n·m·nCodes encode terms while the
    // √n-derived knobs still grow; search touches only probed-cell
    // candidates). This split is the honest scaling read for each.
    if (args.isEmpty || args.contains("sim_ann_ivfpq_split")) {
      def splitTimes(dir: String): (Double, Double) = {
        val t0 = System.nanoTime()
        val ix0 = operators.Similarity.ivfpqBuild(spark, dir)
        val ix = ix0.copy(member = ix0.member.cache(), encoded = ix0.encoded.cache())
        ix.member.count(); ix.encoded.count()
        val tBuild = (System.nanoTime() - t0) / 1e9
        operators.Similarity.ivfpqSearch(ix, 10, 3).count() // warm, untimed
        val ts = (1 to 2).map { _ =>
          val s0 = System.nanoTime()
          operators.Similarity.ivfpqSearch(ix, 10, 3).count()
          (System.nanoTime() - s0) / 1e9
        }
        spark.catalog.clearCache()
        (tBuild, ts.min)
      }
      val (b0, q0) = splitTimes(small)
      val (b1, q1) = splitTimes(big)
      println(f"${"sim_ann_ivfpq_build"}%-24s $b0%10.2f $b1%10.2f ${math.log10(b1 / b0)}%10.2f")
      println(f"${"sim_ann_ivfpq_search"}%-24s $q0%10.2f $q1%10.2f ${math.log10(q1 / q0)}%10.2f")
    }
    spark.stop()
  }
}
