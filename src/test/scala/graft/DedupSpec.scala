package graft

import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import operators.Dedup._

  test("exact dedup: keeper is always <= doc_id and self-maps when unique") {
    val rows = dedupExact(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("keeper") <= r.getAs[Long]("doc_id"))
      assert(r.getAs[Boolean]("is_dup") ==
        (r.getAs[Long]("keeper") != r.getAs[Long]("doc_id")))
    }
  }

  test("minhash LSH finds every pair the 1-band variant confirms at j>=0.5") {
    // 1-band pairs are exact-Jaccard-verified; the 8-band LSH has strictly
    // higher candidate recall at high Jaccard, so it must contain them all.
    val oneBand = dedupMinhash1Band(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = dedupMinhashLsh(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(oneBand.subsetOf(lsh),
      s"1-band pairs missing from LSH: ${oneBand.diff(lsh)}")
    assert(lsh.nonEmpty)
  }

  test("minhash LSH jaccard values are exact (match brute-force intersection)") {
    import graft.functions.TextFunctions._
    val sh = Tables.documents(spark, sf)
      .select(col("doc_id"), wordShingles(normalizeText(col("text")), 3).as("s"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[scala.collection.Seq[String]]("s").toSet).toMap
    dedupMinhashLsh(spark, sf).collect().foreach { r =>
      val (a, b) = (sh(r.getAs[Long]("doc_a")), sh(r.getAs[Long]("doc_b")))
      val expected = a.intersect(b).size.toDouble / a.union(b).size
      assert(math.abs(r.getAs[Double]("jaccard") - expected) < 1e-3)
    }
  }

  test("overlap sketch: estimate lands near the exact cross-side Jaccard") {
    val r = dedupOverlapSketch(spark, sf).collect().head
    val kUsed = r.getAs[Long]("k_used")
    val matched = r.getAs[Long]("matched")
    assert(kUsed == 256 && matched >= 0 && matched <= kUsed)
    assert(r.getAs[Long]("jaccard_est_bp") == matched * 10000 / kUsed)
    // exact Jaccard of the two sides' shingle sets, computed from the same
    // shingle relation the sketch consumed (small at test SF; the whole
    // point of the sketch is to never do this at real scale)
    val sides = Tables.documents(spark, sf)
      .select(col("doc_id"),
        (substring(col("source"), 4, 10).cast("int") % 2 === 0).as("isA"))
    val ss = operators.Dedup.shinglesOf(
        Tables.documents(spark, sf).select("doc_id", "text"))
      .join(sides, "doc_id")
      .select(col("shingle"), col("isA")).distinct()
      .groupBy("shingle").agg(countDistinct("isA").as("ns"))
      .agg(sum(when(col("ns") === 2, 1L).otherwise(0L)).as("inter"),
        count(lit(1)).as("uni"))
      .collect().head
    val exact = ss.getAs[Long]("inter").toDouble / ss.getAs[Long]("uni")
    val est = r.getAs[Long]("jaccard_est_bp") / 10000.0
    assert(math.abs(est - exact) <= 0.12,
      s"sketch estimate $est too far from exact $exact")
  }

  test("containment: catches a doc swallowed by a larger one that Jaccard misses") {
    import SparkSpec.spark.implicits._
    // doc 0 = 12 words; doc 1 = doc 0 + 60 words of filler. Containment
    // 0→1 is 1.0, but Jaccard = 10/70 ≈ 0.14 — far below the 0.5 join
    // threshold. The asymmetric operator must report (0,1) and not (1,0).
    val core = (0 until 12).map(j => s"core$j").mkString(" ")
    val big = core + " " + (0 until 60).map(j => s"fill$j").mkString(" ")
    val docs = (Seq((0L, core), (1L, big)) ++
      (2L until 20L).map(i => (i, (0 until 30).map(j => s"u${i}w$j").mkString(" "))))
      .toDF("doc_id", "text")
    val sh = operators.Dedup.shinglesOf(docs)
    val cont = operators.Dedup.containmentPairs(sh)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("containment")))
    val jac = operators.Dedup.ngramJaccardPairs(sh)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    sh.unpersist()
    assert(cont.toSeq == Seq((0L, 1L, 1.0)),
      s"expected exactly the asymmetric (0,1,1.0) pair, got ${cont.toSeq}")
    assert(!jac.contains((0L, 1L)),
      "Jaccard at 0.5 must NOT flag the swallowed doc — that asymmetry is the point")
  }

  test("ngram jaccard: prefix filtering keeps pairs the absolute df<=4 cap loses") {
    import SparkSpec.spark.implicits._
    // 6 identical copies: every shared shingle has df=6, so an absolute
    // df<=4 cap drops them ALL and finds zero pairs — the recall-decay
    // failure mode of fixed-threshold blocking. Prefix filtering blocks on
    // each doc's rarest ⌊n/2⌋+2 shingles, and identical docs have identical
    // prefixes, so every copy pair survives — guaranteed, at any df.
    val copyText = (0 until 30).map(j => s"dup$j").mkString(" ")
    val docs = ((0L until 6L).map(i => (i, copyText)) ++
      (6L until 26L).map(i => (i, (0 until 30).map(j => s"f${i}w$j").mkString(" "))))
      .toDF("doc_id", "text")
    val sh = operators.Dedup.shinglesOf(docs)
    val prefix = operators.Dedup.ngramJaccardPairs(sh).collect()
    val absolute = operators.Dedup.ngramJaccardPairs(sh, Some(4L)).collect()
    sh.unpersist()
    assert(absolute.isEmpty, "absolute cap should block every df=6 shingle")
    assert(prefix.length == 15, // C(6,2) identical-copy pairs
      s"expected all 15 copy pairs, got ${prefix.length}")
    assert(prefix.forall(_.getAs[Double]("jaccard") == 1.0))
  }

  test("ngram jaccard: the candidate aggregate plans without a SortAggregate") {
    val pairs = dedupNgramJaccard(spark, sf)
    assert(pairs.collect().nonEmpty)
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("SortAggregate"), s"struct-buffer aggregate is back:\n$plan")
  }

  test("simhash pairs all have hamming <= 3 and include near-identical docs") {
    val rows = dedupSimhash(spark, sf).collect()
    assert(rows.forall(_.getAs[Long]("hamming") <= 3))
    assert(rows.nonEmpty)
  }

  test("clusters: every near-dup pair shares a cluster; keeper is the min id") {
    val clusters = dedupClusters(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster")).toMap
    val pairs = dedupNgramJaccard(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(clusters(a) == clusters(b), s"pair ($a,$b) split across clusters")
    }
    clusters.groupBy(_._2).foreach { case (c, members) =>
      assert(members.keys.min == c, s"cluster $c keeper is not the min id")
    }
  }

  test("semantic clusters: every embedding near-dup pair shares a cluster") {
    val clusters = dedupSemanticClusters(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cluster")).toMap
    val pairs = dedupEmbedding(spark, sf)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(clusters(a) == clusters(b), s"pair ($a,$b) split across clusters")
    }
    clusters.groupBy(_._2).foreach { case (c, members) =>
      assert(members.keys.min == c, s"cluster $c keeper is not the min id")
    }
  }

  test("clusterPairs: empty pair set yields an empty cluster table, no NPE") {
    import SparkSpec.spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(operators.Dedup.clusterPairs(empty).collect().isEmpty)
  }

  test("clusterPairs: shuffle-join loop (limit=0) matches the driver union-find path") {
    import SparkSpec.spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L))
      .toDF("doc_a", "doc_b")
    def asMap(limit: Long) = operators.Dedup.clusterPairs(pairs, limit).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster")).toMap
    val viaDriver = asMap(5000000L)
    val viaLoop = asMap(0L) // forces the over-the-gate loop
    assert(viaLoop == viaDriver)
    assert(viaDriver == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L,
      11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("clusterPairs: pointer jumping converges on a 200-hop chain") {
    import SparkSpec.spark.implicits._
    // at limit 0 the loop runs: one-hop min-label propagation would need
    // ~200 rounds and trip the cap (a loud failure); pointer jumping must
    // converge in O(log d). The driver path must give the same closure.
    val chain = (0L until 200L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    import org.apache.spark.sql.graft.CacheBridge
    Seq(0L, 5000000L).foreach { limit =>
      val cached = CacheBridge.entries(spark)
      val labels = operators.Dedup.clusterPairs(chain, limit).collect()
      assert(labels.length == 201, s"limit $limit")
      assert(labels.forall(_.getAs[Long]("cluster") == 0L), s"limit $limit")
      // the loop's input and per-round caches are all released
      if (limit == 0L)
        assert(CacheBridge.entries(spark) == cached, "a cache entry outlives clusterPairs")
    }
  }

  test("clusterPairs: driver path, loop path and a BFS closure agree on generated graphs") {
    import org.scalacheck.{Gen, Prop, Test}
    import SparkSpec.spark.implicits._
    // a graph is a list of pieces (possibly none); each piece is a star, a
    // chain, a repeated pair or a self-loop over its own random ids, with
    // random edge directions — pieces may share ids and so merge
    val piece: Gen[Seq[(Long, Long)]] = for {
      kind <- Gen.choose(0, 3)
      k <- Gen.choose(1, 60)
      ids <- Gen.listOfN(k + 1, Gen.choose(0L, 100000L))
      flips <- Gen.listOfN(k, Gen.oneOf(true, false))
    } yield {
      val local = kind match {
        case 0 => (1 to k).map(i => (0, i))
        case 1 => (0 until k).map(i => (i, i + 1))
        case 2 => Seq.fill(k)((0, 1))
        case _ => Seq((0, 0))
      }
      local.zip(flips).map { case ((a, b), f) =>
        if (f) (ids(b), ids(a)) else (ids(a), ids(b)) }
    }
    val graph = Gen.frequency(1 -> Gen.const(Seq.empty[(Long, Long)]),
      6 -> Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, piece).map(_.flatten)))
    def closure(pairs: Seq[(Long, Long)]): Seq[(Long, Long, Boolean)] = {
      val adj = (pairs ++ pairs.map(_.swap)).groupMap(_._1)(_._2)
      val cluster = scala.collection.mutable.Map.empty[Long, Long]
      adj.keys.foreach { start =>
        if (!cluster.contains(start)) {
          val seen = scala.collection.mutable.Set(start)
          var frontier = List(start)
          while (frontier.nonEmpty) {
            frontier = frontier.flatMap(adj).filter(seen.add)
          }
          seen.foreach(cluster(_) = seen.min)
        }
      }
      cluster.toSeq.sorted.map { case (d, c) => (d, c, d == c) }
    }
    val prop = Prop.forAllNoShrink(graph) { pairs =>
      val df = pairs.toDF("doc_a", "doc_b")
      def labels(limit: Long) = operators.Dedup.clusterPairs(df, limit).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
      val expected = closure(pairs)
      labels(5000000L) == expected && labels(0L) == expected
    }
    val result = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(10).withWorkers(1).withInitialSeed(20261019L), prop)
    assert(result.passed, result.status.toString)
  }

  test("embedding near-dup pairs are same-cell with cosine >= threshold") {
    val cells = operators.Dedup.embeddingCells(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cid")).toMap
    val rows = dedupEmbedding(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(cells(r.getAs[Long]("vec_a")) == cells(r.getAs[Long]("vec_b")))
      assert(r.getAs[Double]("cosine") >= 0.35)
    }
  }

  test("embedding IVF blocking generates far fewer candidates than label blocking") {
    def pairCount(sizes: Iterable[Long]): Long =
      sizes.map(n => n * (n - 1) / 2).sum
    val cellCand = pairCount(operators.Dedup.embeddingCells(spark, sf)
      .groupBy("cid").count().collect().map(_.getAs[Long]("count")))
    val labelCand = pairCount(Tables.embeddings(spark, sf)
      .groupBy("label").count().collect().map(_.getAs[Long]("count")))
    assert(cellCand * 2 < labelCand,
      s"IVF cells should halve the candidate space at least: $cellCand vs $labelCand")
  }

  test("common spans: basis points match a manual df>=5 pass over the shingles") {
    import graft.functions.TextFunctions._
    val sh = Tables.documents(spark, sf)
      .select(col("doc_id"), explode(wordShingles(normalizeText(col("text")), 3)).as("sh"))
      .distinct()
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("sh")))
    val df = sh.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val expected = sh.groupBy(_._1).map { case (doc, ss) =>
      val n = ss.length.toLong
      val c = ss.count(p => df(p._2) >= 5).toLong
      doc -> ((n, c, 10000L * c / n))
    }
    val rows = operators.Dedup.dedupCommonSpans(spark, sf).collect()
    assert(rows.length == expected.size)
    rows.foreach { r =>
      val got = (r.getAs[Long]("n_shingles"), r.getAs[Long]("n_common"),
        r.getAs[Long]("common_bp"))
      assert(got == expected(r.getAs[Long]("doc_id")),
        s"doc ${r.getAs[Long]("doc_id")}: $got vs ${expected(r.getAs[Long]("doc_id"))}")
    }
  }

  test("incremental dedup equals the cross-side subset of the full LSH pair set") {
    // full-corpus LSH at j>=0.5, reoriented to (new, corpus); dedup_incremental
    // must find exactly those pairs (same bands, cross-side candidate join)
    // with identical jaccard values — and never a same-side pair.
    val newIds = Tables.documents(spark, sf)
      .filter(col("source").isin("src0", "src1"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val full = dedupMinhashLsh(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Double]("jaccard")))
    val expected = full.flatMap { case (a, b, j) =>
      (newIds.contains(a), newIds.contains(b)) match {
        case (true, false) => Some(((a, b), j))
        case (false, true) => Some(((b, a), j))
        case _             => None
      }
    }.toMap
    val got = dedupIncremental(spark, sf).collect()
      .map(r => ((r.getAs[Long]("new_doc"), r.getAs[Long]("corpus_doc")),
        r.getAs[Double]("jaccard"))).toMap
    got.keys.foreach { case (n, c) =>
      assert(newIds.contains(n) && !newIds.contains(c), s"not cross-side: ($n, $c)")
    }
    assert(got == expected, s"cross-side pair sets differ: got=$got expected=$expected")
  }

  test("retention funnel recomputes from the stage relations it composes") {
    val rows = dedupRetentionFunnel(spark, sf).collect()
      .map(r => r.getAs[String]("stage") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("retained_bp"))).toMap
    val nRaw = Tables.documents(spark, sf).count()
    val exact = dedupExact(spark, sf).collect()
      .filter(!_.getAs[Boolean]("is_dup")).map(_.getAs[Long]("doc_id")).toSet
    val losers = dedupMinhashLsh(spark, sf).collect()
      .map(_.getAs[Long]("doc_b")).toSet
    val near = exact -- losers
    assert(rows("raw") == ((nRaw, 10000L)))
    assert(rows("exact_dedup") == ((exact.size.toLong, 10000L * exact.size / nRaw)))
    assert(rows("near_dedup") == ((near.size.toLong, 10000L * near.size / nRaw)))
    // the funnel only ever narrows
    assert(nRaw >= exact.size && exact.size >= near.size)
  }

  test("cluster canonical: argmax quality with min-id ties, recomputed per cluster") {
    val members = dedupClusters(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster"))
    val bp = operators.TextAnalysis.textQuality(spark, sf)
      .select(col("doc_id"), round(col("quality_score") * 10000).cast("long").as("bp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = members.groupBy(_._2).map { case (cl, ms) =>
      val docs = ms.map(_._1)
      val best = docs.map(d => (-bp(d), d)).min // max bp, then min doc_id
      cl -> (best._2, docs.length.toLong, -best._1)
    }
    val got = dedupClusterCanonical(spark, sf).collect()
      .map(r => r.getAs[Long]("cluster") ->
        (r.getAs[Long]("canonical_doc"), r.getAs[Long]("n_members"),
          r.getAs[Long]("best_bp"))).toMap
    assert(got == expected)
  }

  test("substring dedup: window shares recompute from a naive window scan") {
    import org.apache.spark.sql.functions.col
    val rows = operators.Dedup.dedupSubstring(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // naive recompute: every 32-char window at stride 8, text-keyed
    val wins = docs.filter(_._3.length >= 32).flatMap { case (id, src, t) =>
      (0 to t.length - 32 by 8).map(o => (id, src, t.substring(o, o + 32)))
    }
    val dupSet = wins.groupBy(_._3).collect {
      case (w, g) if g.map(_._1).distinct.length >= 2 => w
    }.toSet
    val perSrc = wins.groupBy(_._2)
    assert(rows.map(_.getAs[String]("source")).toSet == perSrc.keySet)
    rows.foreach { r =>
      val ws = perSrc(r.getAs[String]("source"))
      val dup = ws.count(w => dupSet(w._3)).toLong
      assert(r.getAs[Long]("n_windows") == ws.length.toLong)
      assert(r.getAs[Long]("n_dup_windows") == dup)
      assert(r.getAs[Long]("docs_with_dup")
        == ws.filter(w => dupSet(w._3)).map(_._1).distinct.length.toLong)
      assert(r.getAs[Long]("dup_bp") == 10000L * dup / ws.length)
    }
  }

  test("substring recall: arms recompute naively; screen is a subset of truth") {
    import org.apache.spark.sql.functions.col
    val rows = operators.Dedup.dedupSubstringRecall(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .filter(_._3.length >= 32)
    def flagged(stride: Int): Set[Long] = {
      val wins = docs.flatMap { case (id, _, t) =>
        (0 to t.length - 32 by stride).map(o => (id, t.substring(o, o + 32)))
      }
      val dup = wins.groupBy(_._2).collect {
        case (w, g) if g.map(_._1).distinct.length >= 2 => w
      }.toSet
      wins.collect { case (id, w) if dup(w) => id }.toSet
    }
    val truth = flagged(1)
    val screen = flagged(8)
    assert(screen.subsetOf(truth)) // stride-8 starts ⊂ stride-1 starts
    val perSrc = docs.groupBy(_._2)
    assert(rows.map(_.getAs[String]("source")).toSet == perSrc.keySet)
    rows.foreach { r =>
      val ids = perSrc(r.getAs[String]("source")).map(_._1).toSet
      val te = ids.count(truth).toLong
      val we = ids.count(screen).toLong
      assert(r.getAs[Long]("n_docs") == ids.size.toLong)
      assert(r.getAs[Long]("dup_docs_exact") == te)
      assert(r.getAs[Long]("dup_docs_window") == we)
      assert(r.getAs[Long]("recall_bp") ==
        (if (te > 0) 10000L * we / te else 10000L))
    }
  }

  test("substring recall: a phase-misaligned span is missed by the screen") {
    // One 47-char span copied at offset 0 of doc 1 and offset 3 of doc 2:
    // phases differ mod 8, so NO stride-8 window key can match across the
    // two copies, while stride-1 catches them — the gap the query measures.
    val span = "the quick brown fox jumps over the lazy dog 123"
    require(span.length == 47 && span.length % 8 != 0)
    val dir = java.nio.file.Files.createTempDirectory("graft-recall").toFile
    try {
      import SparkSpec.spark.implicits._
      Seq(
        (1L, span + " tail one padding padding", "a"),
        (2L, "xy " + span + " other trailing text", "a"),
        (3L, "completely unrelated filler text with enough length here", "a"))
        .toDF("doc_id", "text", "source")
        .write.mode("overwrite").parquet(s"${dir.getPath}/documents.parquet")
      val r = operators.Dedup.dedupSubstringRecall(spark, dir.getPath)
        .collect()
      assert(r.length == 1)
      assert(r.head.getAs[Long]("dup_docs_exact") == 2L)
      assert(r.head.getAs[Long]("dup_docs_window") == 0L)
      assert(r.head.getAs[Long]("recall_bp") == 0L)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }
  }

  test("substring rewrite: conservation and a naive stride-1 recompute at sf") {
    import org.apache.spark.sql.functions.col
    val rows = operators.Dedup.dedupSubstringRewrite(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // naive truth: every stride-1 32-char window; duplicated = 32-gram in
    // >= 2 distinct docs; removed chars = union of duplicated windows
    val wins = docs.filter(_._3.length >= 32).flatMap { case (id, _, t) =>
      (0 to t.length - 32).map(o => (id, o, t.substring(o, o + 32)))
    }
    val dupSet = wins.groupBy(_._3).collect {
      case (w, g) if g.map(_._1).distinct.length >= 2 => w
    }.toSet
    val removedByDoc: Map[Long, Array[Boolean]] = docs.map { case (id, _, t) =>
      val cov = Array.fill(t.length)(false)
      if (t.length >= 32)
        (0 to t.length - 32).foreach { o =>
          if (dupSet(t.substring(o, o + 32)))
            (o until o + 32).foreach(cov(_) = true)
        }
      id -> cov
    }.toMap
    assert(rows.length == docs.length, "one output row per document")
    val byId = docs.map(x => x._1 -> x).toMap
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val (_, src, t) = byId(id)
      val cov = removedByDoc(id)
      val expectedCleaned = t.indices.collect {
        case i if !cov(i) => t(i) }.mkString
      val nSpans = {
        var n = 0; var in = false
        cov.foreach { c => if (c && !in) n += 1; in = c }
        n.toLong
      }
      assert(r.getAs[String]("source") == src)
      assert(r.getAs[Long]("chars_in") == t.length.toLong)
      assert(r.getAs[Long]("chars_removed") == cov.count(identity).toLong)
      assert(r.getAs[Long]("n_spans") == nSpans)
      assert(r.getAs[String]("cleaned") == expectedCleaned)
      // conservation: nothing is lost or invented
      assert(r.getAs[String]("cleaned").length.toLong +
        r.getAs[Long]("chars_removed") == r.getAs[Long]("chars_in"))
    }
  }

  test("substring rewrite: overlapping copies merge into one span; phase never matters") {
    // A 40-char span shared at MISALIGNED offsets (0 vs 5, differing mod
    // 8) — the case the stride-8 screen provably misses — must be removed
    // from BOTH docs at stride-1 grain, merged into exactly one span each.
    val span = "quick brown foxes jump over lazy dogs 12"
    require(span.length == 40)
    val pre = "abcde"
    val dir = java.nio.file.Files.createTempDirectory("graft-rewrite").toFile
    try {
      import SparkSpec.spark.implicits._
      // the chars ADJACENT to the span differ between the docs ('X' vs
      // 'Z') so the shared region is exactly the 40-char span — a common
      // boundary char would legitimately extend the duplicated region
      val d1 = span + "Xtail text that is unique to doc one yes"
      val d2 = pre + span + "Zdifferent unique trailing text here ok"
      val d3 = "completely unrelated filler text with enough length here"
      Seq((1L, d1, "a"), (2L, d2, "a"), (3L, d3, "a"))
        .toDF("doc_id", "text", "source")
        .write.mode("overwrite").parquet(s"${dir.getPath}/documents.parquet")
      val r = operators.Dedup.dedupSubstringRewrite(spark, dir.getPath)
        .collect().map(x => x.getAs[Long]("doc_id") -> x).toMap
      // doc 1: span at [0,39] removed (one merged span of 40 chars)
      assert(r(1L).getAs[Long]("n_spans") == 1L)
      assert(r(1L).getAs[Long]("chars_removed") == 40L)
      assert(r(1L).getAs[String]("cleaned") == d1.substring(40))
      // doc 2: span at [5,44] removed despite the phase shift
      assert(r(2L).getAs[Long]("n_spans") == 1L)
      assert(r(2L).getAs[Long]("chars_removed") == 40L)
      assert(r(2L).getAs[String]("cleaned") == pre + d2.substring(45))
      // doc 3 untouched
      assert(r(3L).getAs[Long]("chars_removed") == 0L)
      assert(r(3L).getAs[String]("cleaned") == d3)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }
  }

  test("substring within-doc: first occurrence kept, later copy removed; conservation at sf") {
    import org.apache.spark.sql.functions.col
    // constructed case: one doc repeats a 40-char span internally with
    // unique separators — the later copy must be removed, the first kept
    val span = "quick brown foxes jump over lazy dogs 12"
    val dir = java.nio.file.Files.createTempDirectory("graft-within").toFile
    try {
      import SparkSpec.spark.implicits._
      val d1 = span + "Xmiddle unique separator text hereY" + span + "Ztl"
      val d2 = "completely unrelated filler text with enough length here"
      Seq((1L, d1, "a"), (2L, d2, "a"))
        .toDF("doc_id", "text", "source")
        .write.mode("overwrite").parquet(s"${dir.getPath}/documents.parquet")
      val r = operators.Dedup.dedupSubstringWithin(spark, dir.getPath)
        .collect().map(x => x.getAs[Long]("doc_id") -> x).toMap
      val start2 = 40 + 35 // offset of the second copy
      assert(r(1L).getAs[Long]("n_spans") == 1L)
      assert(r(1L).getAs[Long]("chars_removed") == 40L)
      assert(r(1L).getAs[String]("cleaned") ==
        d1.substring(0, start2) + d1.substring(start2 + 40))
      assert(r(2L).getAs[Long]("chars_removed") == 0L)
      assert(r(2L).getAs[String]("cleaned") == d2)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }
    // sf corpus: naive per-doc recompute of the first-occurrence rule —
    // a window is flagged iff its 32-gram occurs at a SMALLER offset in
    // the same doc; removed chars = union of flagged windows
    val rows = operators.Dedup.dedupSubstringWithin(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val byId = docs.toMap
    assert(rows.length == docs.length, "one output row per document")
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val t = byId(id)
      val cov = Array.fill(t.length)(false)
      if (t.length >= 32) {
        val firstAt = scala.collection.mutable.Map[String, Int]()
        (0 to t.length - 32).foreach { o =>
          val w = t.substring(o, o + 32)
          if (firstAt.contains(w)) (o until o + 32).foreach(cov(_) = true)
          else firstAt(w) = o
        }
      }
      val expectedCleaned = t.indices.collect {
        case i if !cov(i) => t(i) }.mkString
      assert(r.getAs[Long]("chars_removed") == cov.count(identity).toLong)
      assert(r.getAs[String]("cleaned") == expectedCleaned)
      assert(r.getAs[String]("cleaned").length.toLong +
        r.getAs[Long]("chars_removed") == r.getAs[Long]("chars_in"))
    }
  }

  test("sketch calibration: estimates and histogram recompute from raw shingles") {
    import org.apache.spark.sql.functions.col
    val rows = operators.Dedup.dedupSketchCalibration(spark, sf).collect()
    // local shingle sets from the shared relation
    val sh = operators.Dedup.shinglesOf(
      Tables.documents(spark, sf).select(col("doc_id"), col("text")))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("shingle")))
    val sets = sh.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    def h60(s0: String): Long = {
      val hex = md.digest(s0.getBytes("UTF-8")).map("%02x".format(_))
        .mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    def sig(doc: Set[String]): Array[Long] =
      (0 until 16).map(i => doc.map(t => h60(s"graft-mh$i:$t")).min).toArray
    val sigs = sets.view.mapValues(sig).toMap
    val pairs = sets.keys.toSeq.sorted.flatMap { a =>
      if (sets.contains(a + 1)) {
        val m = (0 until 16).count(i => sigs(a)(i) == sigs(a + 1)(i)).toLong
        val common = (sets(a) & sets(a + 1)).size.toLong
        val est = m * 10000 / 16
        val truth = 10000 * common /
          (sets(a).size + sets(a + 1).size - common)
        Some(math.abs(est - truth))
      } else None
    }
    val hist = pairs.groupBy(_ / 1000).view.mapValues(v =>
      (v.length.toLong, v.sum / v.length)).toMap
    assert(rows.map(_.getAs[Long]("err_bucket")).toSet == hist.keySet)
    rows.foreach { r =>
      val (n, mean) = hist(r.getAs[Long]("err_bucket"))
      assert(r.getAs[Long]("n_pairs") == n)
      assert(r.getAs[Long]("mean_abs_err_bp") == mean)
    }
    // calibration teeth: most pairs must land in the lowest error bucket
    val n0 = hist.getOrElse(0L, (0L, 0L))._1
    assert(n0 * 2 > pairs.length, "estimator should usually be within 10%")
  }
}
