package graft

/** Plan-shape assertions: the properties that matter at 100 TB — filters and
  * projections reaching the parquet scan, dims broadcast, aggregates partial.
  * These guard against regressions that small-SF correctness tests can't see.
  */
class PlanSpec extends SparkSpec {
  import operators._
  import PlanSpec.SuiteOffenders

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q1: shipdate filter is pushed to the parquet scan") {
    val plan = planOf(Relational.q1PricingSummary(spark, sf))
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"no pushed filter in:\n$plan")
  }

  test("q1: scan reads only the 7 needed columns, not all 11") {
    val plan = planOf(Relational.q1PricingSummary(spark, sf))
    assert(plan.contains("l_returnflag") && !plan.contains("l_orderkey"),
      s"column pruning failed:\n$plan")
  }

  test("q1: aggregation is partial (map-side combine) then final") {
    val plan = planOf(Relational.q1PricingSummary(spark, sf))
    assert("HashAggregate".r.findAllIn(plan).length >= 2, s"no partial agg:\n$plan")
  }

  test("orders_enriched: all three dims are broadcast joins, fact not shuffled") {
    val plan = planOf(Relational.qOrdersEnriched(spark, sf))
    assert("BroadcastHashJoin".r.findAllIn(plan).length == 3, s"expected 3 broadcasts:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"unexpected shuffle join:\n$plan")
  }

  test("q1 runs inside whole-stage codegen") {
    val df = Relational.q1PricingSummary(spark, sf)
    df.collect() // materialize so AQE finalizes the physical plan
    val plan = planOf(df)
    // "*(n) " prefixes mark WholeStageCodegen stages in SparkPlan.toString;
    // scan→filter→project→partial-agg must be inside one
    assert(plan.contains("*(1) HashAggregate"), s"hot path not codegen'd:\n$plan")
  }

  test("corpus_build: length filter pushed down; text ops stay codegen'd") {
    val plan = planOf(Corpus.corpusBuild(spark, sf))
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(n_chars,50"),
      s"n_chars filter not pushed:\n$plan")
  }

  test("sim_topk: query side is broadcast — corpus side has no shuffle before scoring") {
    val plan = planOf(Similarity.simTopkBruteforce(spark, sf))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"queries not broadcast:\n$plan")
  }

  test("market share pre-aggregates lineitem below the orders join") {
    val df = Relational.qMarketShare(spark, sf)
    df.collect()
    val plan = planOf(df)
    // the lineitem revenue aggregation (partial+final pair) must sit under
    // the join — 4+ HashAggregates total (pre-agg pair + year-agg pair)
    assert("HashAggregate".r.findAllIn(plan).length >= 4,
      s"aggregate-before-join shape lost:\n$plan")
    // nation/region dims stay broadcast
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 2, s"dims not broadcast:\n$plan")
  }

  test("rank-limit queries get WindowGroupLimit pushdown (no full per-group sort)") {
    val plan = planOf(Corpus.corpusTopTokens(spark, sf))
    assert(plan.contains("WindowGroupLimit"), s"no WindowGroupLimit:\n$plan")
  }

  test("EVERY global top-k site plans a distributed top-k, never a full single-partition sort") {
    // Each of these ranks over an UNPARTITIONED window and keeps rank <= k.
    // Two plan shapes are scale-safe: TakeOrderedAndProject (Spark rewrites
    // filter(rk <= k, Window(unpartitioned)) into the map-side partial
    // top-k — each input partition forwards only its own k rows) or
    // WindowGroupLimit (the per-group variant). A refactor that hides the
    // rank bound from the optimizer — e.g. consuming the rank inside
    // aggregate CASEs, the pre-r6 text_zipf_fit — silently sorts the WHOLE
    // relation on one task: a 100 TB failure this test exists to catch.
    val globalTopK: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
      "corpus_inverted_index" -> Corpus.corpusInvertedIndex(spark, sf),
      "q_pagerank_copurchase" -> Graph.qPagerankCopurchase(spark, sf),
      "q_triangle_count" -> Graph.qTriangleCount(spark, sf),
      "text_bm25" -> TextAnalysis.textBm25(spark, sf),
      "text_dsir_weight" -> TextAnalysis.textDsirWeight(spark, sf),
      "text_pmi_collocations" -> TextAnalysis.textPmiCollocations(spark, sf),
      "text_cooccurrence" -> TextAnalysis.textCooccurrence(spark, sf),
      "text_cms_freq" -> TextAnalysis.textCmsFreq(spark, sf),
      "text_zipf_fit" -> TextAnalysis.textZipfFit(spark, sf),
      "q_label_propagation" -> Graph.qLabelPropagation(spark, sf),
      "q_link_predict" -> Graph.qLinkPredict(spark, sf),
      "text_rake" -> TextAnalysis.textRake(spark, sf),
      "q_top_paths" -> Mining.qTopPaths(spark, sf),
      "sim_rank_fusion" -> Similarity.simRankFusion(spark, sf),
      // partitioned rank-limit sites: WindowGroupLimit is the per-group cap
      "sim_hamming_topk" -> Similarity.simHammingTopk(spark, sf),
      "mm_byte_histogram" -> Multimodal.mmByteHistogram(spark, sf))
    val missing = globalTopK.collect {
      case (name, df) if {
        val p = planOf(df)
        !p.contains("TakeOrderedAndProject") && !p.contains("WindowGroupLimit")
      } => name
    }
    assert(missing.isEmpty,
      s"global top-k without a distributed top-k plan (full single-partition sort!): $missing")
  }

  test("NO query plans an unpartitioned ntile/percent_rank/cume_dist window") {
    // The rank-filter guard above can't see these: ntile/percent_rank/
    // cume_dist are not rank-limits, so Spark has no distributed rewrite
    // for them — an unpartitioned window with any of the three ALWAYS
    // means a single-partition sort of its whole input. That input is
    // data-grain in every plausible use (the r6 q_decile_lift escape), so
    // the allowlist is empty by design: a bounded-input use should derive
    // the statistic from counts instead (q_window_distribution's count
    // grid, q_decile_lift's sliced ranking). Streaming queries execute on
    // construction and can't host these functions — skipped by name.
    val offenders = suiteOffenders.windows
    assert(offenders.isEmpty,
      s"unpartitioned distribution-function window (single-partition sort " +
        s"of a data-grain input!): $offenders")
  }

  /** The low-cardinality qid window must NOT receive the full scored
    * relation: a PARTIAL WindowGroupLimit below the qid exchange caps what
    * the shuffle carries at k rows per (input partition, qid). With ~10
    * qids, skipping this partial step would funnel the whole corpus-sized
    * scored relation into ≤10 reducer tasks. */
  private def assertPartialTopKBelowQidExchange(df: org.apache.spark.sql.DataFrame): Unit = {
    val plan = planOf(df)
    val exchangeIdx = plan.indexOf("Exchange hashpartitioning(qid")
    assert(exchangeIdx >= 0, s"no qid exchange in:\n$plan")
    // SparkPlan.toString prints parents above children: a WindowGroupLimit
    // AFTER the exchange's position in the string is BELOW it in the tree
    val below = plan.substring(exchangeIdx)
    assert(below.contains("WindowGroupLimit"),
      s"no partial WindowGroupLimit below the qid exchange:\n$plan")
  }

  test("sim_topk: partial top-k runs before the qid shuffle (map-side group limit)") {
    assertPartialTopKBelowQidExchange(Similarity.simTopkBruteforce(spark, sf))
  }

  test("sim_ann_lsh: partial top-k runs before the qid shuffle") {
    assertPartialTopKBelowQidExchange(Similarity.simAnnLsh(spark, sf))
  }

  test("sim_ann_ivf: partial top-k runs before the final qid shuffle") {
    assertPartialTopKBelowQidExchange(Similarity.simAnnIvf(spark, sf))
  }

  test("sessionize: exactly one exchange on user_id feeds both window passes") {
    val plan = planOf(Sessionize.eventsSessionize(spark, sf))
    val exchanges = "Exchange hashpartitioning\\(user_id".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 user_id exchange, got $exchanges:\n$plan")
  }

  /** Full-width scans that are genuinely full-consumption, not pruning
    * failures: nation (3 cols) and region (2 cols) are dimension tables
    * whose every column participates in the joins/output, and corpus_build
    * emits doc_key+doc_id+lang+source+n_chars while filtering on a text
    * hash — all 5 documents columns. Anything else reading a testdata
    * table full-width is a bug at 100 TB (a 16-column lineitem scan for a
    * 2-column projection reads 8× the bytes). */
  private val fullWidthAllowed: Set[(String, String)] = {
    val dimOk = for {
      q <- SparkEntry.allQueries.map(_.name)
      t <- Seq("nation.parquet", "region.parquet")
    } yield (q, t)
    dimOk.toSet +
      (("corpus_build", "documents.parquet")) +
      // the composed pipeline inherits corpus_build's full consumption:
      // n_chars filter, doc_id dedup, lang group+filter, source distinct,
      // text for normalize/flag/themes — all 5 columns genuinely used
      (("corpus_pipeline_e2e", "documents.parquet")) +
      // MaxSim genuinely consumes all three embedding columns: the vector,
      // the label (doc grouping), and vec_id (per-query-vector max key)
      (("sim_maxsim", "embeddings.parquet"))
  }

  test("range join: bin bucketing yields an equi hash join, not a nested loop") {
    val plan = planOf(Relational.qRangeJoinBinned(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"band join fell back to O(n^2):\n$plan")
    assert(plan.contains("HashJoin"), s"expected hash join on the bin key:\n$plan")
  }

  test("window_time_range: user filter pushed to scan, single user_id exchange") {
    val plan = planOf(Relational.qWindowTimeRange(spark, sf))
    assert(plan.contains("PushedFilters: [IsNotNull(user_id), LessThan(user_id"),
      s"user filter not pushed:\n$plan")
  }

  test("salted agg: two aggregation phases, both with map-side partials") {
    val plan = planOf(Skew.qSaltedAgg(spark, sf))
    // (key,salt) partial+final plus key partial+final = 4 HashAggregates
    assert("HashAggregate".r.findAllIn(plan).length >= 4,
      s"expected two-phase salted aggregation:\n$plan")
  }

  test("knn graph: bucketed self-join is an equi join, never a cartesian") {
    val plan = planOf(Similarity.simKnnGraph(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"knn graph fell back to all-pairs:\n$plan")
  }

  test("filter chain and bpe counts are single-scan: no exchange before the sort") {
    for (df <- Seq(TextAnalysis.textFilterChain(spark, sf),
        TextAnalysis.textBpeTokenCount(spark, sf))) {
      val plan = planOf(df)
      // the only exchange allowed is the final presentation ORDER BY's range
      // partitioning — a scan-shaped op must not shuffle its data otherwise
      assert(!"Exchange hashpartitioning".r.findFirstIn(plan).isDefined,
        s"unexpected hash exchange in a single-scan op:\n$plan")
    }
  }

  test("chunk overlap: ONE data exchange — the chunk aggregate reuses the window's doc_id partitioning") {
    val plan = planOf(TextAnalysis.textChunkOverlap(spark, sf))
    // windows partition by doc_id (one hash exchange); the (doc_id, ci)
    // aggregate's ClusteredDistribution is satisfied by that partitioning
    // (subset rule), so no second data exchange may appear — only the
    // presentation ORDER BY's range partitioning
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      s"chunk aggregate re-shuffled instead of reusing the doc_id exchange:\n$plan")
  }

  test("compaction apply: reads the compacted layout; only the distinct-agg exchanges") {
    val plan = planOf(sources.Compaction.compactionApply(spark, sf))
    assert(plan.toLowerCase.contains("graft_compacted"),
      s"apply must aggregate over the REWRITTEN files, not documents:\n$plan")
    // count(DISTINCT file_id) plans the standard two-phase pair; nothing else
    assert("Exchange hashpartitioning".r.findAllIn(plan).length <= 2,
      s"unexpected extra exchange in the read-back aggregate:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("substring within-doc: reads the staged stride-1 window table, never re-derives from documents") {
    val plan = planOf(operators.Dedup.dedupSubstringWithin(spark, sf))
    // the corpus-character-grain relation must come from the h-bucketed
    // staged table; a re-derive would show the explode over documents.text
    assert(plan.toLowerCase.contains("graft_substr_w1"),
      s"within-doc arm must scan the staged window table:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("tcloseness: the segment vocabulary joins by broadcast; no cartesian at group grain") {
    val plan = planOf(operators.Privacy.qTcloseness(spark, sf))
    // groups × vocab is a broadcast nested loop over a ≤m-row build side;
    // the counts join back is an equi join — nothing data-grain cartesian
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"vocabulary must broadcast (metadata-sized):\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("unigram viterbi: the vocabulary joins the candidate relation by broadcast") {
    import SparkSpec.spark.implicits._
    val wc = Seq(("abab", 3L), ("aab", 2L)).toDF("word", "freq")
    val vocab = Seq(("a", -500L), ("b", -600L), ("ab", -700L)).toDF("piece", "sc")
    val plan = planOf(UnigramLm.viterbi(wc, vocab))
    assert(plan.contains("BroadcastHashJoin"),
      s"vocab join must broadcast (vocabulary is metadata-sized):\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("pagerank: per-iteration joins are equi joins, never a cartesian") {
    val plan = planOf(Graph.qPagerankCopurchase(spark, sf))
    assert(!plan.contains("CartesianProduct"), s"cartesian in pagerank:\n$plan")
    // the rank update is a hash aggregate with a map-side partial
    assert(plan.contains("partial_sum"), s"no partial aggregation:\n$plan")
  }

  test("bm25/dsir/pmi: term-stat relations are broadcast, not shuffled onto the corpus") {
    Seq(
      TextAnalysis.textBm25(spark, sf),
      TextAnalysis.textDsirWeight(spark, sf)).foreach { df =>
      val plan = planOf(df)
      assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
        s"stats join not broadcast:\n$plan")
    }
  }

  test("histogram quantiles: both passes aggregate partially; range stats broadcast") {
    val plan = planOf(Relational.qHistogramQuantiles(spark, sf))
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      s"sketch aggregate not partial:\n$plan")
    assert("BroadcastHashJoin".r.findAllIn(plan).nonEmpty,
      s"per-group range stats not broadcast back:\n$plan")
  }

  test("phash: pixel fan-out redistributes off the input partition; weights broadcast") {
    val p = planOf(Multimodal.mmPhash(spark, sf))
    // the explode pipeline must not run on the input file's ~1 partition:
    // the repartition exchange sits between the explode and the DCT joins
    assert(p.contains("Exchange hashpartitioning(doc_id"),
      s"pixel explode not redistributed — DCT would run on one task:\n$p")
    // both cosine weight tables join as broadcasts (128 rows each)
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"DCT weight tables not broadcast:\n$p")
  }

  test("ivfpq: centroids, codebook and ADC LUT all broadcast; no cartesian blowup") {
    val p = planOf(Similarity.simAnnIvfpq(spark, sf))
    assert(!p.contains("CartesianProduct"), s"cartesian in IVFPQ:\n$p")
    // coarse assign, codebook encode, LUT scoring, probe, re-rank sides —
    // every small relation must arrive as a broadcast
    assert("Broadcast".r.findAllIn(p).length >= 4,
      s"IVFPQ small sides not broadcast:\n$p")
  }

  test("tpch classics: the decorrelations hold in the physical plan") {
    // q4: EXISTS becomes a LEFT SEMI join — never inner-join + distinct
    val p4 = planOf(TpchClassics.q4OrderPriority(spark, sf))
    assert(p4.contains("LeftSemi"), s"q4 lost its semi join:\n$p4")
    // q19: the OR-of-ANDs reaches BOTH parquet scans as pushed filters
    val p19 = planOf(TpchClassics.q19Disjunctive(spark, sf))
    assert(p19.contains("In(p_brand, [Brand#12,Brand#23,Brand#34])"),
      s"q19 brand IN-list not pushed to the part scan:\n$p19")
    assert(p19.contains("LessThanOrEqual(l_quantity,30.0)"),
      s"q19 quantity envelope not pushed to the lineitem scan:\n$p19")
    // q21: the aggregate-rewrite scans lineitem exactly ONCE — the textbook
    // EXISTS/NOT-EXISTS plan reads it three times (self semi + anti joins)
    val p21 = planOf(TpchClassics.q21WaitingSupplier(spark, sf))
    assert("lineitem\\.parquet".r.findAllIn(p21).length <= 1,
      s"q21 decorrelation regressed to a lineitem self-join:\n$p21")
    // q18: the quantity HAVING runs on the FIRST aggregate, so the filter
    // sits below both join operators in the plan tree
    import org.apache.spark.sql.execution.FilterExec
    val q18 = TpchClassics.q18LargeOrders(spark, sf)
    val havingBelowJoins = q18.queryExecution.sparkPlan.collect {
      case j if j.nodeName.contains("Join") =>
        j.children.exists(_.collect {
          case f: FilterExec if f.condition.toString.contains("sum_qty") => f
        }.nonEmpty)
    }
    assert(havingBelowJoins.exists(identity),
      "q18's HAVING must filter before the orders/customer joins")
    // q6: all three range predicates reach the parquet reader (the plan
    // string truncates PushedFilters, so inspect the scan node directly);
    // the plan is scan → partial agg → final agg with no join
    import org.apache.spark.sql.execution.FileSourceScanExec
    val q6 = TpchClassics.q6ForecastRevenue(spark, sf)
    val scan6 = q6.queryExecution.sparkPlan.collect {
      case sc: FileSourceScanExec => sc
    }.head
    val data6 = scan6.dataFilters.map(_.toString).mkString("; ")
    for (tok <- Seq("l_shipdate", "l_discount", "l_quantity"))
      assert(data6.contains(tok), s"q6 scan lacks a $tok filter: $data6")
    assert(!planOf(q6).contains("Join"), s"q6 must be join-free")
    // q10: the top-20 cut is a distributed TakeOrderedAndProject, and it
    // runs BEFORE the customer/nation enrichment joins
    val p10 = planOf(TpchClassics.q10ReturnedItems(spark, sf))
    assert(p10.contains("TakeOrderedAndProject"), s"q10 top-20 not distributed:\n$p10")
  }

  test("staged community queries read staged tables, never recompute the derivation") {
    // the r10 staging contract: q_graph_modularity_staged /
    // q_label_propagation_staged read the persisted LPA label table (the
    // 3 LPA rounds are paid once at staging), q_hits_staged reads the
    // bipartite edge table. A regression back to in-query recompute shows
    // as the staged-table scan vanishing and the aggregate count jumping.
    val modStaged = planOf(Graph.qGraphModularityStaged(spark, sf))
    assert(modStaged.contains("graft_lpa_labels"),
      s"staged modularity does not scan the label table:\n$modStaged")
    val modFull = planOf(Graph.qGraphModularity(spark, sf))
    def aggs(p: String) = "HashAggregate".r.findAllIn(p).length
    assert(aggs(modStaged) < aggs(modFull),
      "staged modularity should shed the LPA rounds' aggregates")
    val lpaStaged = planOf(Graph.qLabelPropagationStaged(spark, sf))
    assert(lpaStaged.contains("graft_lpa_labels"),
      s"staged LPA report does not scan the label table:\n$lpaStaged")
    val hitsStaged = planOf(Graph.qHitsStaged(spark, sf))
    assert(hitsStaged.contains("graft_edges_bipart"),
      s"staged HITS does not scan the bipartite table:\n$hitsStaged")
    assert(!hitsStaged.contains("lineitem.parquet"),
      "staged HITS must not re-derive from lineitem")
  }

  test("llm_pretrain_e2e: one direct fixture scan, cached ledger, broadcast benchmark, no cartesian") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val plan = operators.LlmPretrain.llmPretrainE2e(spark, sf).queryExecution.sparkPlan
    // exactly ONE direct fixture read survives outside the cache boundary
    // (the quarantine audit); the good-row side and everything downstream
    // of it live inside the cached ledger
    val fixtureScans = plan.collect {
      case s: FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.toString.contains("graft_docs_q")) => s
    }
    assert(fixtureScans.size == 1,
      s"expected 1 direct fixture scan, got ${fixtureScans.size}:\n$plan")
    // funnel rows 1-5 (one aggregate), stage 6 and stage 7 each read the
    // ledger from cache — three in-memory scans, zero ledger recomputes
    val imts = plan.collect { case i: InMemoryTableScanExec => i }
    assert(imts.size >= 3, s"expected >=3 cached-ledger reads, got ${imts.size}:\n$plan")
    // inside the cached ledger: benchmark shingles broadcast onto the
    // corpus side, and near-dup probing reads the PERSISTED shingle +
    // signature tables (never re-shingles the corpus)
    val cached = imts.map(_.relation.cachedPlan.toString).mkString("\n")
    assert(cached.contains("BroadcastHashJoin"),
      s"benchmark join not broadcast in cached ledger:\n$cached")
    assert(cached.contains("graft_dedup_shingles"), s"no staged shingle scan:\n$cached")
    assert(cached.contains("graft_dedup_sig"), s"no staged signature scan:\n$cached")
    // the LSH band self-join and all funnel joins stay equi/broadcast
    assert(!plan.toString.contains("CartesianProduct") &&
      !cached.contains("CartesianProduct"), "cartesian in composed DAG")
  }

  test("no query plans an unpartitioned CartesianProduct") {
    // BroadcastNestedLoopJoin over a broadcast-small side is an intentional
    // pattern (query-set scoring, anchor assignment); a CartesianProduct
    // node means two big sides crossed — always a 100 TB failure
    val offenders = suiteOffenders.cartesians
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }

  test("every query prunes every testdata parquet scan (no full-width reads)") {
    val violations = suiteOffenders.unpruned
    assert(violations.isEmpty,
      s"unpruned scans:\n${violations.mkString("\n")}")
  }

  /** The three whole-suite guards above share ONE pass: building a query
    * runs its eager construction jobs, the bulk of the cost, so each query
    * is built once and the plan phase each guard inspects is read from
    * that one QueryExecution. Computed on the first guard's use. */
  private lazy val suiteOffenders: SuiteOffenders = {
    val perQuery = SparkEntry.allQueries.map { q =>
      val qe = q.build(spark, sf).queryExecution
      // the window guard skips streaming queries by name (see its test)
      val window =
        if (q.name.startsWith("streaming_")) None
        else unpartitionedDistWindow(q.name, qe.optimizedPlan)
      val unpruned = unprunedScans(q.name, qe.sparkPlan)
      val cartesian =
        if (qe.executedPlan.toString.contains("CartesianProduct")) Some(q.name) else None
      SuiteOffenders(window.toSeq, cartesian.toSeq, unpruned)
    }
    SuiteOffenders(perQuery.flatMap(_.windows), perQuery.flatMap(_.cartesians),
      perQuery.flatMap(_.unpruned))
  }

  private def unpartitionedDistWindow(name: String,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Option[String] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LogicalWindow}
    import org.apache.spark.sql.catalyst.expressions.{CumeDist, NTile, PercentRank}
    val hit = plan.collect {
      case w: LogicalWindow if w.partitionSpec.isEmpty &&
        w.windowExpressions.exists(_.exists {
          case _: NTile | _: PercentRank | _: CumeDist => true
          case _ => false
        }) => w
    }
    if (hit.nonEmpty) Some(name) else None
  }

  private def unprunedScans(name: String,
      plan: org.apache.spark.sql.execution.SparkPlan): Seq[String] = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    // sparkPlan is the pre-AQE physical plan: scans are visible as nodes
    // (executedPlan wraps everything in AdaptiveSparkPlanExec). Subqueries
    // are walked MANUALLY: at this phase InjectRuntimeFilter's bloom
    // subqueries are still LOGICAL plans inside ScalarSubquery
    // expressions (they fire when a warm cache gives accurate stats), and
    // collectWithSubqueries would cast them to SparkPlan and throw. A
    // logical subquery tree references the same relations the main tree
    // scans, so skipping it drops no coverage.
    val subPlans = plan.collect { case n => n }
      .flatMap(_.expressions)
      .flatMap(_.collect {
        case pe: org.apache.spark.sql.catalyst.expressions.PlanExpression[_] =>
          pe.plan
      })
      .collect { case sp: org.apache.spark.sql.execution.SparkPlan => sp }
    (plan +: subPlans).flatMap(_.collect {
      case s: FileSourceScanExec => s
    }).flatMap { s =>
      val path = s.relation.location.rootPaths.headOption.map(_.toString).getOrElse("")
      val table = path.split('/').last
      val full = s.relation.dataSchema.size
      val read = s.requiredSchema.size
      if (path.contains("testdata") && read >= full &&
          !fullWidthAllowed.contains((name, table)))
        Some(s"$name: $table scanned full-width ($read/$full cols: " +
          s"${s.requiredSchema.fieldNames.mkString(",")})")
      else None
    }
  }
}

object PlanSpec {
  private final case class SuiteOffenders(windows: Seq[String],
      cartesians: Seq[String], unpruned: Seq[String])
}
