package graft.operators

import graft.{Q, Rounds, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Iterative graph analytics over relational-derived graphs. Complements the
  * connected-components core in Dedup (pointer-jumping): PageRank is the
  * other canonical "iterate a join-aggregate to fixpoint" shape, here run a
  * fixed 3 rounds so the result is closed-form and fully oracle-able as
  * unrolled SQL.
  *
  * Graph: part co-purchase — parts sharing an order are linked (the
  * item-item graph behind "customers also bought" and a stand-in for any
  * entity-cooccurrence graph a corpus pipeline derives, e.g. doc-link or
  * citation graphs).
  *
  * Scale design: edges come from a DISTINCT self-join co-partitioned on the
  * order key (per-order fanout is basket²  — bounded, ~tens — never table²);
  * the edge relation is cached and every iteration is one shuffle-join +
  * hash-aggregate on it. Ranks are integer micro-units with truncating
  * division — deterministic on both engines (all values positive), no float
  * accumulation order to diverge. At 100 TB you would bucket the edge table
  * by src so the per-iteration join is exchange-free, and checkpoint ranks
  * every ~10 rounds (3 rounds needs neither).
  */
object Graph {

  private val iters = 3

  // ---------------------------------------------------------------------
  // Staged co-purchase edge layout: the six graph queries each re-derive
  // the DISTINCT basket² edge relation from lineitem — honest for
  // per-query benching, but a production pipeline derives the graph ONCE
  // and runs every algorithm against the staged layout. This stages the
  // DEGREE-ORIENTED edge relation (src, dst, pdst) as a managed table
  // bucketed AND sorted on src (BucketedLayout pattern): the wedge
  // self-join — the dominant cost of triangle counting / clustering
  // coefficient — then runs as a merge of co-bucketed pre-sorted files
  // with NO exchange, and the symmetric relation LPA needs is just the
  // oriented rows unioned with their flips. The `_staged` query variants
  // below run against this layout under the SAME oracles — the layout is
  // semantically invisible, only the plan changes.
  // ---------------------------------------------------------------------

  /** Staged oriented-edge table + its |E| (recorded at staging time — the
    * broadcast size gate never re-counts the invariant staged relation). */
  private def stagedEdges(s: SparkSession, d: String): (String, Long) =
    graft.sources.Staging.ensureTable(s, "edges_orient", d,
      "lineitem.parquet", "src", 32, Some("src"))(orientedEdges(s, d))

  private[graft] def ensureEdgesStaged(s: SparkSession, d: String): String =
    stagedEdges(s, d)._1

  /** Staged MULTI-ORDER co-purchase edge layout (src, dst, n_shared):
    * the ≥2-shared-orders symmetric relation that the peeling/traversal
    * family (k-core, BFS, SSSP, link prediction) re-derives per query —
    * each pays the DISTINCT-orderkey scan plus the basket² self-join
    * before its own iterations even start (r13 verdict item 5: the five
    * unstaged graph heavies were the largest remaining per-query
    * re-derivation, 3.0–6.1 s each). Staged ONCE, bucketed+sorted on src
    * (32 buckets = session parallelism; thousands at cluster scale): every
    * per-round frontier/relaxation join keys on src, so the edge side of
    * each iteration reads co-bucketed pre-sorted files with no exchange.
    * n_shared is kept in the layout — SSSP derives its integer edge cost
    * from it, everyone else projects it away (column pruning reaches the
    * bucketed scan). The `_staged` variants run the SAME algorithm code
    * against this layout under the SAME oracles. */
  private def stagedMultiEdges(s: SparkSession, d: String): (String, Long) =
    graft.sources.Staging.ensureTable(s, "edges_multi", d,
      "lineitem.parquet", "src", 32, Some("src")) {
      basketPairs(s, d)
        .groupBy(col("u").as("src"), col("v").as("dst"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 2)
    }

  /** The staged multi-order edge RELATION the four traversal `_staged`
    * variants consume — exposed so GraphSpec can assert the relation's
    * plan scans the staged bucketed table and never re-derives from
    * lineitem (the final executedPlan of the checkpointing algorithms
    * shows only RDD scans, so asserting there was vacuous for
    * kcore/sssp). */
  private[graft] def stagedMultiEdgeRelation(s: SparkSession, d: String): DataFrame =
    s.table(stagedMultiEdges(s, d)._1)

  /** Staged LPA community labels (node, lbl): the shared derivation of the
    * community family, computed ONCE from the staged edge layout and
    * persisted bucketed on node — the production shape where one job
    * assigns communities and every quality metric (modularity, the
    * community report) just reads them. r9's worst consistent bench row
    * was q_graph_modularity re-running the 3 LPA rounds per query. */
  private def stagedLabels(s: SparkSession, d: String): String =
    graft.sources.Staging.ensureTable(s, "lpa_labels", d,
      "lineitem.parquet", "node", 32, Some("node")) {
      val e = s.table(ensureEdgesStaged(s, d))
      val edges = e.select(col("src"), col("dst"))
        .unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
      lpLabels(edges)
    }._1

  /** |E| of the per-query derived oriented relation — identical to the
    * staged count semantically, but computed against THIS query's cached
    * lineage so the unstaged queries stay independent of the staged
    * layout. Memoized per dataset via the shared future-latched memo
    * (Staging.memoizedCount): the derivation is deterministic over static
    * files, so later runs skip the counting job — and unlike the old
    * object-level synchronized block, an in-flight count never blocks
    * unrelated graph queries. */
  private def derivedEdgeCount(d: String, e: DataFrame): Long =
    graft.sources.Staging.memoizedCount("edges_derived", d,
      "lineitem.parquet")(e.count())


  /** The closing-side join strategy for the wedge family, by |E|: below
    * the gate the |E|-row closing relation BROADCASTS (wedges never leave
    * their partitions); above it, a SHUFFLED-HASH semi builds on the
    * closing side and STREAMS the wedges — the default sort-merge
    * fallback sorts the O(Σ outdeg²) wedge relation, whose spill filled a
    * 250 GB disk at the sf10 (~100x) decade measurement. GraphSpec pins
    * both strategies in the physical plan.
    *
    * Gate value: 50M edges = two packed longs × 50M ≈ 800 MB hashed —
    * heavy but routine for dimension-grade broadcasts on production
    * executors, and ALWAYS cheaper than materializing the wedge relation
    * through a shuffle (the r10 sf10 measure: broadcast closes 37M edges
    * in-place; the SHJ fallback pays a one-time wedge-relation shuffle
    * that reads ~1.17 exponent across the strategy flip). Past 50M the
    * broadcast risks executor OOM and the streamed SHJ is the honest
    * fallback.
    *
    * DRIVER REQUIREMENTS just under the gate: BroadcastExchange COLLECTS
    * the closing side through the driver, so the worst case (~1.4 GB of
    * packed rows at 49.9M edges) needs BOTH spark.driver.maxResultSize ≥
    * 4g (set at context start — GraftSession's builder does, and
    * getOrCreate warns when an existing session didn't) AND driver heap
    * with room for the collect. Rather than merely DOCUMENTING the ≥8 GiB
    * requirement, the gate is DERIVED from the running driver's heap
    * (`gateFor`): the collect's driver-resident cost is ~28 B/edge
    * (measured: ~1.4 GB at 49.9M), and the gate admits at most ~1/6 of
    * the heap, so the 50M ceiling is reached at the documented ~8 GiB
    * and a default-heap driver flips to the SHJ fallback before the
    * collect can OOM (ScaleSmoke's 96g run keeps the full ceiling). */
  private[graft] def gateFor(maxHeapBytes: Long): Long =
    math.min(50000000L, maxHeapBytes / (28L * 6L))
  private[graft] val closingBroadcastGate: Long =
    gateFor(Runtime.getRuntime.maxMemory)
  private[graft] def closingSideFor(closing: DataFrame, nEdges: Long,
      gate: Long = closingBroadcastGate): DataFrame =
    if (nEdges < gate) broadcast(closing)
    else closing.hint("shuffle_hash")

  /** EDGE-ITERATOR triangle triples over a degree-oriented (src, dst, …)
    * relation (Chiba–Nishizeki's edge algorithm in relational form, r17):
    * adjacency out-lists once per node, then for each oriented edge (x, y)
    * the third corners are array_intersect(N⁺(x), N⁺(y)) — the triple
    * (x, y, z) relation is EXACTLY the one the wedge self-join + closing
    * semi-join produced (triangle a<b<c in (deg,id) order appears once, at
    * edge (a, b) with z = c), but nothing ever materializes the O(Σ outdeg²)
    * wedge relation: the x-side list rides the explode that regenerates the
    * edge (zero joins on src), the y-side attaches under the SAME heap-gated
    * broadcast as the old closing side (shuffled-hash past it), and each
    * row's intersect is one codegen'd two-array pass bounded by the O(√m)
    * oriented out-degrees. The old form paid the wedge fan-out through SMJ
    * machinery plus a per-wedge probe into a |E|-row broadcast hash table —
    * a random-access cache miss per wedge (measured 43.6 s of executor CPU
    * at sf0.1 c32; the intersect form reads two short primitive arrays
    * sequentially instead). */
  private def triangleCorners(e: DataFrame, nEdges: Long): DataFrame = {
    val adj = e.groupBy("src").agg(collect_list(col("dst")).as("nbrs"))
    val adjSide =
      (if (nEdges < closingBroadcastGate) broadcast(adj)
       else adj.hint("shuffle_hash"))
        .select(col("src").as("ay"), col("nbrs").as("ny"))
    adj.select(col("src").as("x"), col("nbrs").as("nx"),
        explode(col("nbrs")).as("y"))
      .join(adjSide, col("y") === col("ay"))
      .select(col("x"), col("y"),
        array_intersect(col("nx"), col("ny")).as("zs"))
  }

  /** The shared derivation: undirected DISTINCT co-purchase edges,
    * degree-oriented (src = (deg,id)-smaller endpoint, pdst packs the
    * destination's (deg,id) order) — the q_triangle_count machinery. */
  private def orientedEdges(s: SparkSession, d: String): DataFrame = {
    val und = basketPairs(s, d).filter(col("u") < col("v")).distinct()
    val deg = und.select(col("u").as("node"))
      .unionAll(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val pk = deg.select(col("node"),
      (col("deg") * lit(1000000000L) + col("node")).as("pk"))
    und
      .join(pk.select(col("node").as("u"), col("pk").as("pu")), "u")
      .join(pk.select(col("node").as("v"), col("pk").as("pv")), "v")
      .select(
        when(col("pu") < col("pv"), col("u")).otherwise(col("v")).as("src"),
        when(col("pu") < col("pv"), col("v")).otherwise(col("u")).as("dst"),
        when(col("pu") < col("pv"), col("pv")).otherwise(col("pu")).as("pdst"))
  }

  /** All ordered within-basket pairs (u, v), u ≠ v, one row per order —
    * the shared first step of every co-purchase derivation. Replaces the
    * distinct + ok-keyed self-join form (r16): groupBy(ok) collect_set
    * dedups (ok, p) AND assembles the basket in ONE map-side-combinable
    * exchange, then two codegen'd explodes generate the basket² fan-out
    * in place — the old form paid a distinct exchange, a join exchange
    * and a sort-merge sort before the same fan-out existed. sort_array
    * makes basket order deterministic (collect_set order is not). */
  private def basketPairs(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
      .groupBy("ok").agg(sort_array(collect_set(col("p"))).as("ps"))
      .select(explode(col("ps")).as("u"), col("ps"))
      .select(col("u"), explode(col("ps")).as("v"))
      .filter(col("u") =!= col("v"))

  def qPagerankCopurchase(s: SparkSession, d: String): DataFrame = {
    // symmetric distinct co-purchase edges (both directions via u <> v),
    // cached PRE-PARTITIONED on src — the iteration join key — so every
    // PageRank round's edge join and the degree aggregate reuse the cached
    // partitioning instead of re-exchanging the edge relation per round
    // (guide §2.4: operations keyed the same way share one exchange; the
    // in-memory analog of the staged layout's bucketing-by-src)
    val edges = basketPairs(s, d)
      .select(col("u").as("src"), col("v").as("dst")).distinct()
      .repartition(col("src"))
      .cache()
    pagerankOn(edges)
  }

  /** PageRank core over any symmetric (src, dst) edge relation. */
  private def pagerankOn(edges: DataFrame): DataFrame = {
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg")).cache()
    // r0 = 1.0 in micro-units; damping 0.85 as integer 850/1000
    var ranks = deg.select(col("src").as("node"), lit(1000000L).as("r"))
    for (_ <- 1 to iters) {
      ranks = edges
        .join(deg, "src")
        .join(ranks, col("src") === col("node"))
        .select(col("dst"), expr("r div deg").as("c"))
        .groupBy("dst")
        .agg(sum("c").as("sc"))
        .select(col("dst").as("node"),
          expr("150000 + (850 * sc) div 1000").as("r"))
    }
    val w = Window.orderBy(col("r").desc, col("node").asc)
    ranks.join(deg, col("node") === col("src"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 100)
      .select(col("rk"), col("node").as("p_partkey"), col("deg").as("degree"),
        col("r").as("rank_micro"))
      .orderBy("rk")
  }

  private val qPagerankCopurchaseSql: String = {
    val iterCtes = (1 to iters).map { i =>
      s"""it$i AS (
         |  SELECT e.dst AS node,
         |    CAST(150000 + (850 * sum(r.r // d.deg)) // 1000 AS BIGINT) AS r
         |  FROM e JOIN deg d ON e.src = d.src JOIN it${i - 1} r ON e.src = r.node
         |  GROUP BY e.dst
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH li AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
       |), e AS (
       |  SELECT DISTINCT a.p AS src, b.p AS dst
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.p <> b.p
       |), deg AS (
       |  SELECT src, count(*) AS deg FROM e GROUP BY src
       |), it0 AS (
       |  SELECT src AS node, CAST(1000000 AS BIGINT) AS r FROM deg
       |), $iterCtes
       |SELECT CAST(row_number() OVER (ORDER BY r DESC, node) AS BIGINT) AS rk,
       |  node AS p_partkey, deg AS degree, r AS rank_micro
       |FROM it$iters JOIN deg ON node = src
       |ORDER BY r DESC, node
       |LIMIT 100""".stripMargin
  }

  /** Triangle counting over the same co-purchase graph — the other canonical
    * distributed-graph primitive next to PageRank/CC (clustering-coefficient
    * numerator, community detection, spam-graph features).
    *
    * Scale design: the standard wedge join is O(Σ deg²), which a hub node
    * turns into a hot partition. The fix is DEGREE ORIENTATION (Chiba–
    * Nishizeki / Cohen's MapReduce form): orient every undirected edge from
    * the (degree, id)-smaller endpoint to the larger, so every out-degree is
    * bounded by O(√m) regardless of skew, and each triangle is generated
    * exactly once (at its lowest-ordered corner — no ÷6 dedup pass, no
    * double counting). The (deg, id) total order packs into one BIGINT
    * (deg·10⁹ + id) so both engines compare identically. Two shuffle joins
    * on the cached oriented-edge relation; nothing materializes n².
    */
  def qTriangleCount(s: SparkSession, d: String): DataFrame = {
    // undirected edge set, one row per {u,v}: per-order basket² fanout
    val und = basketPairs(s, d).filter(col("u") < col("v")).distinct()
      .cache()
    val deg = und.select(col("u").as("node"))
      .unionAll(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .cache()
    // pk packs the (deg, id) total order into one comparable BIGINT
    val pk = deg.select(col("node"), (col("deg") * lit(1000000000L) + col("node")).as("pk"))
    val e = und
      .join(pk.select(col("node").as("u"), col("pk").as("pu")), "u")
      .join(pk.select(col("node").as("v"), col("pk").as("pv")), "v")
      .select(
        when(col("pu") < col("pv"), col("u")).otherwise(col("v")).as("src"),
        when(col("pu") < col("pv"), col("v")).otherwise(col("u")).as("dst"))
      // cached PRE-PARTITIONED on src: the adjacency-list aggregate keys on
      // src and reuses the cached partitioning — zero exchanges before the
      // intersect stage (the staged variant gets this from its src-bucketed
      // table; this is the unstaged arm's in-memory analog)
      .repartition(col("src"))
      .cache()
    val tri = triangleCorners(e, derivedEdgeCount(d, e))
      .select(col("x"), col("y"), explode(col("zs")).as("z"))
    val perNode = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
    val w = Window.orderBy(col("n_triangles").desc, col("node").asc)
    perNode.join(deg, "node")
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 50)
      .select(col("rk"), col("node").as("p_partkey"), col("deg").as("degree"),
        col("n_triangles"))
      .orderBy("rk")
  }

  private val qTriangleCountSql: String =
    """WITH li AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
      |), und AS (
      |  SELECT DISTINCT a.p AS u, b.p AS v
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.p < b.p
      |), deg AS (
      |  SELECT node, count(*) AS deg FROM (
      |    SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und)
      |  GROUP BY node
      |), pk AS (
      |  SELECT node, deg * 1000000000 + node AS pk FROM deg
      |), e AS (
      |  SELECT CASE WHEN pu.pk < pv.pk THEN und.u ELSE und.v END AS src,
      |         CASE WHEN pu.pk < pv.pk THEN und.v ELSE und.u END AS dst,
      |         CASE WHEN pu.pk < pv.pk THEN pv.pk ELSE pu.pk END AS pdst
      |  FROM und
      |  JOIN pk pu ON und.u = pu.node
      |  JOIN pk pv ON und.v = pv.node
      |), tri AS (
      |  SELECT ab.src AS x, ab.dst AS y, ac.dst AS z
      |  FROM e ab
      |  JOIN e ac ON ab.src = ac.src AND ab.pdst < ac.pdst
      |  WHERE EXISTS (SELECT 1 FROM e bc WHERE bc.src = ab.dst AND bc.dst = ac.dst)
      |), pern AS (
      |  SELECT node, count(*) AS n_triangles FROM (
      |    SELECT x AS node FROM tri
      |    UNION ALL SELECT y AS node FROM tri
      |    UNION ALL SELECT z AS node FROM tri)
      |  GROUP BY node
      |)
      |SELECT CAST(row_number() OVER (ORDER BY n_triangles DESC, node) AS BIGINT) AS rk,
      |  node AS p_partkey, deg AS degree, n_triangles
      |FROM pern JOIN deg USING (node)
      |ORDER BY n_triangles DESC, node
      |LIMIT 50""".stripMargin

  // ---------------------------------------------------------------------
  // q_label_propagation — synchronous LABEL PROPAGATION community
  // detection (Raghavan et al. 2007), the third canonical iterate-to-
  // fixpoint graph primitive next to PageRank and pointer-jumping CC:
  // every node starts as its own community and repeatedly adopts the most
  // frequent label among its neighbors (ties to the smallest label — the
  // deterministic synchronous variant), run a fixed 3 rounds so the result
  // is closed-form and fully oracle-able.
  //
  // Scale shape: identical to PageRank's — one shuffle-join + two
  // hash-aggregates per round over the cached symmetric edge relation
  // (label-frequency count, then per-node argmax via max_by). Labels are
  // node ids (longs); no floats anywhere. At 100 TB: bucket edges by src,
  // checkpoint labels every ~10 rounds.
  // ---------------------------------------------------------------------

  def qLabelPropagation(s: SparkSession, d: String): DataFrame = {
    // cached PRE-PARTITIONED on dst — LPA's per-round join key (labels
    // attach to the edge DESTINATION) — so the 3 rounds reuse the cached
    // partitioning instead of re-exchanging the edges each round
    val edges = basketPairs(s, d)
      .select(col("u").as("src"), col("v").as("dst")).distinct()
      .repartition(col("dst"))
      .cache()
    labelPropagationOn(edges)
  }

  /** The LPA iteration alone: final (node, lbl) at node grain — shared by
    * the community report and the modularity evaluation. */
  private[graft] def lpLabels(edges: DataFrame): DataFrame = {
    var labels = edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
    for (_ <- 1 to iters) {
      labels = edges
        .join(labels, col("dst") === col("node"))
        .groupBy(col("src"), col("lbl"))
        .agg(count(lit(1)).as("c"))
        .groupBy("src")
        // argmax (count desc, lbl asc) PACKED into one BIGINT max — the
        // same deg·10⁹+id packing as the wedge family's pk (node ids fit
        // under 10⁹ by the family's standing convention). The max_by on a
        // (c, −lbl) struct it replaces has a struct aggregation buffer,
        // which HashAggregate cannot hold — every LPA round fell back to
        // SortAggregate and paid TWO full sorts of the (src, lbl, c)
        // relation (r17 plan audit); a plain max over longs is one
        // map-side-partial hash aggregate.
        .agg(max(col("c") * lit(1000000000L) +
          (lit(999999999L) - col("lbl"))).as("m"))
        .select(col("src").as("node"),
          (lit(999999999L) - col("m") % lit(1000000000L)).as("lbl"))
    }
    labels
  }

  /** LPA core over any symmetric (src, dst) edge relation — spec-drivable. */
  private[graft] def labelPropagationOn(edges: DataFrame): DataFrame =
    communityReport(lpLabels(edges))

  /** The close alone — top-50 community sizes from a (node, lbl) label
    * relation, however derived (fresh LPA or the staged label table). */
  private def communityReport(labels: DataFrame): DataFrame = {
    val sizes = labels.groupBy("lbl").agg(count(lit(1)).as("n_members"))
    val w = Window.orderBy(col("n_members").desc, col("lbl").asc)
    sizes.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 50)
      .select(col("rk"), col("lbl").as("community"), col("n_members"))
      .orderBy("rk")
  }

  private val qLabelPropagationSql: String = {
    val iterCtes = (1 to iters).map { i =>
      s"""lp$i AS (
         |  SELECT node, lbl FROM (
         |    SELECT e.src AS node, l.lbl, count(*) AS c,
         |      row_number() OVER (PARTITION BY e.src
         |        ORDER BY count(*) DESC, l.lbl) AS rk
         |    FROM e JOIN lp${i - 1} l ON e.dst = l.node
         |    GROUP BY e.src, l.lbl
         |  ) WHERE rk = 1
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH li AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
       |), e AS (
       |  SELECT DISTINCT a.p AS src, b.p AS dst
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.p <> b.p
       |), lp0 AS (
       |  SELECT DISTINCT src AS node, src AS lbl FROM e
       |), $iterCtes
       |SELECT CAST(row_number() OVER (ORDER BY n_members DESC, lbl) AS BIGINT) AS rk,
       |  lbl AS community, n_members
       |FROM (SELECT lbl, CAST(count(*) AS BIGINT) AS n_members
       |      FROM lp$iters GROUP BY lbl)
       |ORDER BY rk
       |LIMIT 50""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q_kcore — K-CORE DECOMPOSITION by iterative peeling (Seidman 1983):
  // repeatedly delete nodes whose degree within the surviving subgraph is
  // below k until a fixpoint. The k-core is the standard "dense cluster"
  // screen over dedup/spam graphs (a near-duplicate cluster that survives
  // a 3-core is structural, not chance) and the degeneracy step behind
  // community detection.
  //
  // Graph: co-purchase edges that share >= 2 orders (the single-order graph
  // is near-complete at these SFs — min degree 42 at sf0.01 — so nothing
  // would ever peel; requiring 2 shared orders yields real peeling
  // dynamics: 11 rounds to fixpoint at sf0.01).
  //
  // Determinism/oracle: peeling runs a FIXED 12 rounds on both engines and
  // the output is the whole PEELING TRAJECTORY — (round, survivors,
  // node_sum) for rounds 0..12 — so the hash covers every intermediate
  // state and the result is non-degenerate even where the core empties.
  // GraphSpec asserts round 12 is a true fixpoint (a 13th peel changes
  // nothing), so the final row IS the exact k-core, not an approximation.
  //
  // Scale shape: each round is one shuffle-join of the cached edge relation
  // against the current survivor set plus a hash-aggregate — same cost
  // shape as one PageRank round. The survivor set only shrinks.
  // At 100 TB: bucket edges by src; the per-round aggregate is map-side
  // partial; stop early when count(survivors) stabilizes (the fixed-round
  // form here is what makes the cross-engine oracle exact).
  // ---------------------------------------------------------------------

  private val kCoreK = 3
  private val peelRounds = 12

  /** Co-purchase edges backed by >= 2 distinct shared orders (symmetric). */
  private[graft] def multiOrderEdges(s: SparkSession, d: String): DataFrame =
    basketPairs(s, d)
      .groupBy(col("u").as("src"), col("v").as("dst"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
      .select("src", "dst")

  def qKcore(s: SparkSession, d: String): DataFrame =
    // cached PRE-PARTITIONED on src: each peel round's survivor join and
    // the per-round degree aggregate key on src and reuse the cache's
    // partitioning across all 12 rounds
    kcoreOn(multiOrderEdges(s, d).repartition(col("src")).cache())

  /** q_kcore against the staged multi-order layout — same oracle; the
    * basket² edge derivation is amortized into the one-time staging and
    * the cached read keeps the 24 per-round consumptions in memory. */
  def qKcoreStaged(s: SparkSession, d: String): DataFrame =
    kcoreOn(stagedMultiEdgeRelation(s, d).select("src", "dst").cache())

  private def kcoreOn(edges: DataFrame): DataFrame =
    Rounds.fixed("kcore", peelRounds,
      edges.select(col("src").as("node")).distinct()) { (cur, _) =>
      edges
        .join(cur.select(col("node").as("sn")), col("src") === col("sn"))
        .join(cur.select(col("node").as("dn")), col("dst") === col("dn"))
        .groupBy("src").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= kCoreK)
        .select(col("src").as("node"))
    }.zipWithIndex.map { case (cur, r) =>
      cur.agg(count(lit(1)).cast("long").as("survivors"),
          coalesce(sum("node"), lit(0L)).as("node_sum"))
        .select(lit(r.toLong).as("peel_round"), col("survivors"), col("node_sum"))
    }.reduce(_ unionAll _).orderBy("peel_round")

  private val qKcoreSql: String = {
    // AS MATERIALIZED: each peel level references the previous one TWICE;
    // DuckDB inlines plain CTEs, so 12 levels would expand to 2^12 scans
    // of the base relation ("Too many open files" before it even runs)
    val peelCtes = (1 to peelRounds).map { i =>
      s"""c$i AS MATERIALIZED (
         |  SELECT e.src AS node FROM e
         |  JOIN c${i - 1} a ON e.src = a.node
         |  JOIN c${i - 1} b ON e.dst = b.node
         |  GROUP BY e.src HAVING count(*) >= $kCoreK
         |)""".stripMargin
    }.mkString(", ")
    val rows = (0 to peelRounds).map { i =>
      s"""SELECT CAST($i AS BIGINT) AS peel_round,
         |  CAST(count(*) AS BIGINT) AS survivors,
         |  CAST(coalesce(sum(node), 0) AS BIGINT) AS node_sum FROM c$i""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH li AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
       |), e AS MATERIALIZED (
       |  SELECT a.p AS src, b.p AS dst
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.p <> b.p
       |  GROUP BY a.p, b.p HAVING count(*) >= 2
       |), c0 AS MATERIALIZED (
       |  SELECT DISTINCT src AS node FROM e
       |), $peelCtes
       |$rows
       |ORDER BY peel_round""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q_bfs_layers — MULTI-SOURCE BFS hop distance (the "reachability in r
  // hops" primitive: blast-radius analysis, graph feature generation,
  // label spreading seeds). Seeds are the 20 smallest part ids in the
  // edge relation (deterministic); 3 synchronous frontier-expansion
  // rounds assign each node its minimum hop distance <= 3.
  //
  // Scale shape: round r is one shuffle-join (edges x current dists) +
  // min-aggregate; dist is referenced once per round so the logical plan
  // grows linearly (no checkpoint needed for fixed small R). Output is
  // the hop histogram (hop, n_nodes, node_sum) — covers every node's
  // assigned layer in the hash without emitting node-grain rows.
  // ---------------------------------------------------------------------

  private val bfsRounds = 3
  private val bfsSeeds = 20

  def qBfsLayers(s: SparkSession, d: String): DataFrame =
    // src-partitioned cache: the per-round frontier join keys on src
    bfsLayersOn(multiOrderEdges(s, d).repartition(col("src")).cache())

  /** q_bfs_layers against the staged multi-order layout — same oracle. */
  def qBfsLayersStaged(s: SparkSession, d: String): DataFrame =
    bfsLayersOn(
      stagedMultiEdgeRelation(s, d).select("src", "dst").cache())

  private def bfsLayersOn(edges: DataFrame): DataFrame = {
    val seeds = edges.select(col("src").as("node")).distinct()
      .orderBy("node").limit(bfsSeeds)
    var dist = seeds.select(col("node"), lit(0L).as("dist"))
    for (r <- 1 to bfsRounds) {
      val next = edges.join(dist, col("src") === col("node"))
        .select(col("dst").as("node"), lit(r.toLong).as("dist"))
      dist = dist.unionAll(next).groupBy("node").agg(min("dist").as("dist"))
    }
    dist.groupBy(col("dist").as("hop"))
      .agg(count(lit(1)).cast("long").as("n_nodes"), sum("node").as("node_sum"))
      .orderBy("hop")
  }

  private val qBfsLayersSql: String = {
    val hopCtes = (1 to bfsRounds).map { i =>
      s"""d$i AS (
         |  SELECT node, min(dist) AS dist FROM (
         |    SELECT node, dist FROM d${i - 1}
         |    UNION ALL
         |    SELECT e.dst AS node, CAST($i AS BIGINT) AS dist
         |    FROM e JOIN d${i - 1} p ON e.src = p.node
         |  ) GROUP BY node
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH li AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
       |), e AS (
       |  SELECT a.p AS src, b.p AS dst
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.p <> b.p
       |  GROUP BY a.p, b.p HAVING count(*) >= 2
       |), d0 AS (
       |  SELECT node, CAST(0 AS BIGINT) AS dist FROM (
       |    SELECT DISTINCT src AS node FROM e ORDER BY node LIMIT $bfsSeeds)
       |), $hopCtes
       |SELECT dist AS hop, CAST(count(*) AS BIGINT) AS n_nodes,
       |  CAST(sum(node) AS BIGINT) AS node_sum
       |FROM d$bfsRounds
       |GROUP BY dist
       |ORDER BY hop""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q_sssp_weighted — WEIGHTED single-source shortest paths (multi-source,
  // 3 Bellman–Ford relaxation rounds) over the co-purchase graph with
  // edge cost 1e6 div n_shared_orders — strong ties are cheap, so distance
  // reads as "relatedness hops". The weighted sibling of q_bfs_layers and
  // the standard min-plus semiring iteration (route cost, influence
  // distance, cheapest-path ETL joins).
  //
  // Exactness: integer micro-costs, min-aggregate relaxation — no floats,
  // so round results are order-independent under any partitioning. Output
  // is the distance histogram at 0.1-cost granularity (bucket, n, Σnode)
  // so every node's final distance is hashed (bucket = dist div 100000).
  //
  // Scale shape: one shuffle-join + min-aggregate per round against the
  // CACHED weighted edge relation; dist is cut per round (graft.Rounds).
  // K rounds = K-hop-bounded distances (documented truncation, same
  // contract as q_bfs_layers); at 100 TB bucket edges by src for an
  // exchange-free relaxation join.
  // ---------------------------------------------------------------------
  private val ssspRounds = 3
  private val ssspSeeds = 20

  def qSsspWeighted(s: SparkSession, d: String): DataFrame = {
    // src-partitioned cache: the per-round relaxation join keys on src
    val edges = basketPairs(s, d)
      .groupBy(col("u").as("src"), col("v").as("dst"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
      .select(col("src"), col("dst"), expr("1000000 div n_shared").as("w"))
      .repartition(col("src"))
      .cache()
    ssspOn(edges)
  }

  /** q_sssp_weighted against the staged multi-order layout — same oracle;
    * the integer edge cost derives from the staged n_shared column. */
  def qSsspWeightedStaged(s: SparkSession, d: String): DataFrame =
    ssspOn(stagedMultiEdgeRelation(s, d)
      .select(col("src"), col("dst"), expr("1000000 div n_shared").as("w"))
      .cache())

  private def ssspOn(edges: DataFrame): DataFrame = {
    val seeds = edges.select(col("src").as("node")).distinct()
      .orderBy("node").limit(ssspSeeds)
    Rounds.fixed("sssp", ssspRounds,
      seeds.select(col("node"), lit(0L).as("dist"))) { (dist, _) =>
      val relaxed = edges.join(dist, col("src") === col("node"))
        .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
      dist.unionAll(relaxed).groupBy("node").agg(min("dist").as("dist"))
    }.last.groupBy(expr("dist div 100000").as("dist_bucket"))
      .agg(count(lit(1)).cast("long").as("n_nodes"), sum("node").as("node_sum"))
      .orderBy("dist_bucket")
  }

  private val qSsspWeightedSql: String = {
    val roundCtes = (1 to ssspRounds).map { i =>
      s"""d$i AS (
         |  SELECT node, min(dist) AS dist FROM (
         |    SELECT node, dist FROM d${i - 1}
         |    UNION ALL
         |    SELECT e.dst AS node, p.dist + e.w AS dist
         |    FROM e JOIN d${i - 1} p ON e.src = p.node
         |  ) GROUP BY node
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH li AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
       |), e AS (
       |  SELECT a.p AS src, b.p AS dst, 1000000 // count(*) AS w
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.p <> b.p
       |  GROUP BY a.p, b.p HAVING count(*) >= 2
       |), d0 AS (
       |  SELECT node, CAST(0 AS BIGINT) AS dist FROM (
       |    SELECT DISTINCT src AS node FROM e ORDER BY node LIMIT $ssspSeeds)
       |), $roundCtes
       |SELECT dist // 100000 AS dist_bucket, CAST(count(*) AS BIGINT) AS n_nodes,
       |  CAST(sum(node) AS BIGINT) AS node_sum
       |FROM d$ssspRounds
       |GROUP BY 1
       |ORDER BY dist_bucket""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q_link_predict — LINK PREDICTION over the multi-order co-purchase
  // graph: for every non-adjacent pair (a, b) sharing at least one
  // neighbor, score the missing edge by the Resource-Allocation index
  // (Zhou/Lü/Zhang 2009, the integer-friendly sibling of Adamic–Adar:
  // Σ_z 1/deg(z) over common neighbors z) plus the raw common-neighbor
  // count. The "customers also bought" / recommendation primitive, and the
  // candidate generator for graph-completion pipelines.
  //
  // Exactness: RA weights are micro-units 1000000 div deg(z) — pure BIGINT
  // on both engines (Adamic–Adar's 1/log deg would drag in float logs).
  //
  // Scale shape: common-neighbor pairs come from the wedge relation
  // (z's neighbor list squared), generated AT z's partition — O(Σ deg²)
  // rows but never an edges×edges shuffle; the non-adjacency screen is a
  // left-anti join against the (cached) edge set; top-100 via a
  // WindowGroupLimit-eligible global rank. At 100 TB the standard knob is
  // a hub cap: a z with deg > D contributes ≤ 1e6/D per pair — dropping
  // mega-hubs bounds the wedge blowup with a provable score error bound.
  // ---------------------------------------------------------------------
  def qLinkPredict(s: SparkSession, d: String): DataFrame =
    // src-partitioned cache: the degree aggregate AND both sides of the
    // wedge self-join key on src (= z)
    linkPredictOn(multiOrderEdges(s, d).repartition(col("src")).cache())

  /** q_link_predict against the staged multi-order layout — same oracle;
    * the wedge generation reads the cached staged relation, never
    * re-paying the basket² derivation. */
  def qLinkPredictStaged(s: SparkSession, d: String): DataFrame =
    linkPredictOn(
      stagedMultiEdgeRelation(s, d).select("src", "dst").cache())

  private def linkPredictOn(edges: DataFrame): DataFrame = {
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val ew = edges.join(deg, "src")
      .select(col("src").as("z"), col("dst").as("n"),
        expr("1000000 div deg").as("w"))
    val wedge = ew.as("ea").join(ew.as("eb"),
        col("ea.z") === col("eb.z") && col("ea.n") < col("eb.n"))
      .select(col("ea.n").as("a"), col("eb.n").as("b"), col("ea.w").as("w"))
    val scored = wedge.groupBy("a", "b")
      .agg(count(lit(1)).as("common_n"), sum("w").as("ra_micro"))
      .join(edges.select(col("src").as("a"), col("dst").as("b")),
        Seq("a", "b"), "left_anti")
    val w = Window.orderBy(col("ra_micro").desc, col("common_n").desc,
      col("a").asc, col("b").asc)
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 100)
      .select(col("rk"), col("a").as("part_a"), col("b").as("part_b"),
        col("common_n"), col("ra_micro"))
      .orderBy("rk")
  }

  private val qLinkPredictSql: String =
    """WITH li AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
      |), e AS (
      |  SELECT a.p AS src, b.p AS dst
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.p <> b.p
      |  GROUP BY a.p, b.p
      |  HAVING count(*) >= 2
      |), deg AS (
      |  SELECT src, count(*) AS deg FROM e GROUP BY src
      |), ew AS (
      |  SELECT e.src AS z, e.dst AS n, 1000000 // d.deg AS w
      |  FROM e JOIN deg d ON e.src = d.src
      |), scored AS (
      |  SELECT ea.n AS a, eb.n AS b,
      |    CAST(count(*) AS BIGINT) AS common_n,
      |    CAST(sum(ea.w) AS BIGINT) AS ra_micro
      |  FROM ew ea JOIN ew eb ON ea.z = eb.z AND ea.n < eb.n
      |  GROUP BY ea.n, eb.n
      |), nonadj AS (
      |  SELECT s.* FROM scored s
      |  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.src = s.a AND e.dst = s.b)
      |)
      |SELECT CAST(row_number() OVER
      |    (ORDER BY ra_micro DESC, common_n DESC, a, b) AS BIGINT) AS rk,
      |  a AS part_a, b AS part_b, common_n, ra_micro
      |FROM nonadj
      |ORDER BY rk
      |LIMIT 100""".stripMargin

  /** Degree DISTRIBUTION of the co-purchase graph on power-of-two bands —
    * the first diagnostic before any graph algorithm choice (hub skew
    * decides salting, orientation, and broadcast strategy). The log2 band
    * is exact-integer (`length(bin(deg)) - 1`, never floating log). Cost:
    * the edge derivation (same per-order basket² shape as PageRank, never
    * table²) plus one node-grain aggregate into ≤64 bands. */
  def qDegreeHist(s: SparkSession, d: String): DataFrame = {
    // deg(u) = |distinct co-purchase neighbors| — count_distinct over the
    // basket pairs collapses the old distinct-edges exchange AND the
    // degree exchange into ONE src-keyed aggregate (same value: distinct
    // (src, dst) then count per src ≡ count_distinct(dst) per src)
    val deg = basketPairs(s, d)
      .groupBy(col("u").as("src"))
      .agg(count_distinct(col("v")).as("deg"))
    deg
      .withColumn("band", (length(bin(col("deg"))) - 1).cast("long"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_nodes"),
        min("deg").as("min_deg"), max("deg").as("max_deg"),
        sum("deg").as("band_edges"))
      .orderBy("band")
  }

  private val qDegreeHistSql =
    """WITH li AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
      |), e AS (
      |  SELECT DISTINCT a.p AS src, b.p AS dst
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.p <> b.p
      |), deg AS (
      |  SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src
      |)
      |SELECT CAST(length(bin(deg)) - 1 AS BIGINT) AS band,
      |  CAST(count(*) AS BIGINT) AS n_nodes,
      |  min(deg) AS min_deg, max(deg) AS max_deg,
      |  CAST(sum(deg) AS BIGINT) AS band_edges
      |FROM deg GROUP BY 1 ORDER BY band""".stripMargin

  // ---------------------------------------------------------------------
  // q_hits — HITS HUBS & AUTHORITIES (Kleinberg 1999) on the BIPARTITE
  // customer→part purchase graph: a customer is a good hub if they buy
  // authoritative parts, a part is authoritative if good hubs buy it —
  // the mutual-reinforcement ranking next to PageRank's random-walk one
  // (and the classic shopping application of HITS). Two full hub↔authority
  // rounds, unrolled so the whole computation is closed-form SQL.
  //
  // Exactness: scores are integer micro-units; each half-step is a
  // shuffle-join + SUM (exact BIGINT), followed by L∞ NORMALIZATION
  // (1e6·x div max) — a one-row broadcast aggregate + truncating div,
  // deterministic on both engines (the float L2 norm of textbook HITS
  // would accumulate in engine-dependent order; L∞ keeps the fixpoint
  // direction and stays integer). Headroom: scores ≤ 1e6, in-degrees ≤
  // |customers|, so every product stays ≤ ~1e17 through sf1.
  //
  // Scale shape: the edge relation (distinct customer×part pairs) is
  // cached and every half-iteration is ONE shuffle join + hash-aggregate
  // on it, exactly the PageRank loop shape; normalizations are scalar
  // broadcasts. Top-25 via rank-filter window (WindowGroupLimit — plans
  // as distributed top-k, PlanSpec-guarded).
  // ---------------------------------------------------------------------
  def qHits(s: SparkSession, d: String): DataFrame =
    // c-partitioned cache: the hub-side joins/aggregates (h1 groupBy, the
    // a1 and a2 joins) key on c and reuse the cached partitioning — the
    // in-memory analog of the staged bipartite table's c-bucketing
    hitsOn(bipartiteEdges(s, d).repartition(col("c")).cache())

  /** The bipartite customer–part purchase relation the HITS family scores
    * — the per-query derivation (one join + distinct). */
  private def bipartiteEdges(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p")).distinct()

  /** Staged bipartite edge table, bucketed+sorted on the hub key: the
    * graph-derivation-once idiom applied to the HITS relation (the
    * co-purchase `edges_orient` table can't serve here — HITS scores the
    * customer→part bipartite graph, not part–part co-purchase). */
  private def stagedBipartite(s: SparkSession, d: String): String =
    graft.sources.Staging.ensureTable(s, "edges_bipart", d,
      "lineitem.parquet", "c", 32, Some("c"))(bipartiteEdges(s, d))._1

  /** q_hits against the staged bipartite layout — same oracle; the four
    * normalization levels run against the bucketed table read (cached:
    * every level consumes it). */
  def qHitsStaged(s: SparkSession, d: String): DataFrame =
    hitsOn(s.table(stagedBipartite(s, d)).cache())

  /** HITS core over any bipartite (c, p) relation. */
  private def hitsOn(e: DataFrame): DataFrame = {
    // cache the pre-norm scores: the max-aggregate AND the downstream join
    // both consume them, and without the cache each normalization level
    // re-executes its whole upstream chain (the max's broadcast stage would
    // recompute h1 four times by the a2 level)
    def normBy(df0: DataFrame, key: String, v: String): DataFrame = {
      val df = df0.cache()
      val m = broadcast(df.agg(max(v).as("m")))
      df.crossJoin(m).select(col(key), expr(s"(1000000 * $v) div m").as(v))
    }
    // a0 ≡ 1e6 ⇒ h1(c) = 1e6·outdeg(c)
    val h1 = normBy(e.groupBy("c").agg((count(lit(1)) * 1000000L).as("h")),
      "c", "h")
    val a1 = normBy(e.join(h1, "c").groupBy("p").agg(sum("h").as("a")),
      "p", "a")
    val h2 = normBy(e.join(a1, "p").groupBy("c").agg(sum("a").as("h")),
      "c", "h")
    val a2 = e.join(h2, "c").groupBy("p")
      .agg(sum("h").as("a"), count(lit(1)).as("in_deg"))
      .cache()
    val a2m = broadcast(a2.agg(max("a").as("m")))
    val scored = a2.crossJoin(a2m)
      .select(col("p"), col("in_deg"),
        expr("(1000000 * a) div m").as("auth_micro"))
    val w = Window.orderBy(col("auth_micro").desc, col("p").asc)
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 25)
      .select(col("rk"), col("p").as("p_partkey"), col("in_deg"),
        col("auth_micro"))
      .orderBy("rk")
  }

  private val qHitsSql =
    """WITH e AS (
      |  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |), h1 AS (
      |  SELECT c, CAST(count(*) * 1000000 AS BIGINT) AS h FROM e GROUP BY c
      |), h1n AS (
      |  SELECT c, CAST((1000000 * h) // (SELECT max(h) FROM h1) AS BIGINT)
      |    AS h FROM h1
      |), a1 AS (
      |  SELECT e.p, CAST(sum(h1n.h) AS BIGINT) AS a
      |  FROM e JOIN h1n ON e.c = h1n.c GROUP BY e.p
      |), a1n AS (
      |  SELECT p, CAST((1000000 * a) // (SELECT max(a) FROM a1) AS BIGINT)
      |    AS a FROM a1
      |), h2 AS (
      |  SELECT e.c, CAST(sum(a1n.a) AS BIGINT) AS h
      |  FROM e JOIN a1n ON e.p = a1n.p GROUP BY e.c
      |), h2n AS (
      |  SELECT c, CAST((1000000 * h) // (SELECT max(h) FROM h2) AS BIGINT)
      |    AS h FROM h2
      |), a2 AS (
      |  SELECT e.p, CAST(sum(h2n.h) AS BIGINT) AS a,
      |    CAST(count(*) AS BIGINT) AS in_deg
      |  FROM e JOIN h2n ON e.c = h2n.c GROUP BY e.p
      |)
      |SELECT CAST(row_number() OVER (ORDER BY
      |    (1000000 * a) // (SELECT max(a) FROM a2) DESC, p) AS BIGINT) AS rk,
      |  p AS p_partkey, in_deg,
      |  CAST((1000000 * a) // (SELECT max(a) FROM a2) AS BIGINT) AS auth_micro
      |FROM a2
      |ORDER BY rk LIMIT 25""".stripMargin

  // ---------------------------------------------------------------------
  // q_assortativity — DEGREE ASSORTATIVITY (Newman 2002) of the
  // co-purchase graph: the Pearson correlation of endpoint degrees over
  // the edge list — positive r = hubs link hubs (social-network shape),
  // negative = hubs link leaves (hub-and-spoke). THE one-number structure
  // summary that decides whether degree-skew mitigations (q_salted_join,
  // the triangle count's degree orientation) are load-bearing for a given
  // graph.
  //
  // Exactness: moments (Σx, Σxy, Σx², edge count) are exact BIGINT sums
  // over the DIRECTED edge view (each undirected edge contributes both
  // orientations, which is what makes Σx = Σy and one moment row
  // suffice); r is one double expression from those integers in identical
  // operand order on both engines, quantized to milli (the q_mannwhitney
  // 1-ulp argument). Casting to DOUBLE before the n·Σ products avoids
  // BIGINT overflow past sf1 without losing milli-level precision.
  //
  // Scale shape: edges ⋈ degrees twice on the edge relation's own keys
  // (co-partitioned shuffle joins), ONE aggregate to a single moment row.
  // No window, no sort, nothing quadratic.
  // ---------------------------------------------------------------------
  def qAssortativity(s: SparkSession, d: String): DataFrame =
    assortativityOn(
      basketPairs(s, d).filter(col("u") < col("v")).distinct().cache())

  /** q_assortativity against the staged ORIENTED edge layout — same
    * oracle: the staged relation holds each undirected distinct edge
    * exactly once (degree-oriented, but every moment below is symmetric
    * in (du, dv), so orientation is invisible to the result). */
  def qAssortativityStaged(s: SparkSession, d: String): DataFrame =
    assortativityOn(s.table(ensureEdgesStaged(s, d))
      .select(col("src").as("u"), col("dst").as("v")).cache())

  private def assortativityOn(und: DataFrame): DataFrame = {
    val deg = und.select(col("u").as("node"))
      .unionAll(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val joined = und
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
    joined.agg(
        count(lit(1)).as("n_edges"),
        sum(col("du") + col("dv")).as("sx"),
        sum(col("du") * col("dv") * 2).as("sxy"),
        sum(col("du") * col("du") + col("dv") * col("dv")).as("sxx"))
      .select(col("n_edges"),
        expr("""CAST(round(1000 *
                ((CAST(2 * n_edges AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sx)
                 / (CAST(2 * n_edges AS DOUBLE) * sxx
                    - CAST(sx AS DOUBLE) * sx))) AS BIGINT)""").as("r_milli"),
        expr("sx div (2 * n_edges)").as("mean_deg"))
  }

  private val qAssortativitySql =
    """WITH li AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
      |), und AS (
      |  SELECT DISTINCT a.p AS u, b.p AS v
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.p < b.p
      |), deg AS (
      |  SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
      |    SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und
      |  ) GROUP BY node
      |), m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_edges,
      |    CAST(sum(du.deg + dv.deg) AS BIGINT) AS sx,
      |    CAST(sum(du.deg * dv.deg * 2) AS BIGINT) AS sxy,
      |    CAST(sum(du.deg * du.deg + dv.deg * dv.deg) AS BIGINT) AS sxx
      |  FROM und e JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node
      |)
      |SELECT n_edges,
      |  CAST(round(1000 *
      |    ((CAST(2 * n_edges AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sx)
      |     / (CAST(2 * n_edges AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)))
      |    AS BIGINT) AS r_milli,
      |  CAST(sx // (2 * n_edges) AS BIGINT) AS mean_deg
      |FROM m""".stripMargin

  // ---------------------------------------------------------------------
  // q_clustering_coeff — GLOBAL CLUSTERING COEFFICIENT (transitivity) of
  // the co-purchase graph: 3·triangles / wedges — "when two parts share a
  // neighbor, how often are they themselves linked". The one-number
  // closure summary next to q_assortativity's degree mixing and
  // q_triangle_count's per-node ranks.
  //
  // Scale design: triangles come from the SAME degree-oriented generation
  // as q_triangle_count (out-degree bounded O(√m) under any skew, each
  // triangle at its lowest corner exactly once), reduced here to ONE
  // count; wedges are a closed form on the degree table (Σ d(d−1)/2 —
  // exact BIGINT, one tiny aggregate). transitivity_bp = 30000·T div W is
  // all-integer (3T ≤ W guarantees ≤ 10000).
  // ---------------------------------------------------------------------
  def qClusteringCoeff(s: SparkSession, d: String): DataFrame = {
    val und = basketPairs(s, d).filter(col("u") < col("v")).distinct()
      .cache()
    val deg = und.select(col("u").as("node"))
      .unionAll(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .cache()
    val pk = deg.select(col("node"),
      (col("deg") * lit(1000000000L) + col("node")).as("pk"))
    val e = und
      .join(pk.select(col("node").as("u"), col("pk").as("pu")), "u")
      .join(pk.select(col("node").as("v"), col("pk").as("pv")), "v")
      .select(
        when(col("pu") < col("pv"), col("u")).otherwise(col("v")).as("src"),
        when(col("pu") < col("pv"), col("v")).otherwise(col("u")).as("dst"))
      // cached PRE-PARTITIONED on src: the adjacency-list aggregate keys on
      // src and reuses the cached partitioning (the unstaged arm's in-memory
      // analog of the staged table's src-bucketing)
      .repartition(col("src"))
      .cache()
    // the global count never needs the corner EXPLODED: Σ |zs| is the
    // triangle count
    val tri = triangleCorners(e, derivedEdgeCount(d, e))
      .agg(coalesce(sum(size(col("zs")).cast("long")), lit(0L))
        .as("n_triangles"))
    val shape = broadcast(deg.agg(
      count(lit(1)).as("n_nodes"), sum("deg").as("deg_sum"),
      sum(expr("(deg * (deg - 1)) div 2")).as("n_wedges")))
    tri.crossJoin(shape)
      .select(col("n_nodes"), expr("deg_sum div 2").as("n_edges"),
        col("n_wedges"), col("n_triangles"),
        expr("(30000 * n_triangles) div n_wedges").as("transitivity_bp"))
  }

  private val qClusteringCoeffSql =
    """WITH li AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
      |), und AS (
      |  SELECT DISTINCT a.p AS u, b.p AS v
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.p < b.p
      |), deg AS (
      |  SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
      |    SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und)
      |  GROUP BY node
      |), pk AS (
      |  SELECT node, deg * 1000000000 + node AS pk FROM deg
      |), e AS (
      |  SELECT CASE WHEN pu.pk < pv.pk THEN und.u ELSE und.v END AS src,
      |         CASE WHEN pu.pk < pv.pk THEN und.v ELSE und.u END AS dst,
      |         CASE WHEN pu.pk < pv.pk THEN pv.pk ELSE pu.pk END AS pdst
      |  FROM und
      |  JOIN pk pu ON und.u = pu.node
      |  JOIN pk pv ON und.v = pv.node
      |), tri AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_triangles
      |  FROM e ab JOIN e ac ON ab.src = ac.src AND ab.pdst < ac.pdst
      |  WHERE EXISTS (SELECT 1 FROM e bc WHERE bc.src = ab.dst
      |                AND bc.dst = ac.dst)
      |), shape AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
      |    CAST(sum(deg) AS BIGINT) AS deg_sum,
      |    CAST(sum((deg * (deg - 1)) // 2) AS BIGINT) AS n_wedges
      |  FROM deg
      |)
      |SELECT s.n_nodes, CAST(s.deg_sum // 2 AS BIGINT) AS n_edges,
      |  s.n_wedges, t.n_triangles,
      |  CAST((30000 * t.n_triangles) // s.n_wedges AS BIGINT)
      |    AS transitivity_bp
      |FROM tri t CROSS JOIN shape s""".stripMargin

  /** q_triangle_count against the staged bucketed edge layout — same
    * oracle; the wedge self-join runs exchange-free on co-bucketed
    * pre-sorted files. */
  def qTriangleCountStaged(s: SparkSession, d: String): DataFrame = {
    val (table, nEdges) = stagedEdges(s, d)
    val e = s.table(table)
    val deg = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val tri = triangleCorners(e, nEdges)
      .select(col("x"), col("y"), explode(col("zs")).as("z"))
    val perNode = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
    val w = Window.orderBy(col("n_triangles").desc, col("node").asc)
    perNode.join(deg, "node")
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 50)
      .select(col("rk"), col("node").as("p_partkey"), col("deg").as("degree"),
        col("n_triangles"))
      .orderBy("rk")
  }

  /** q_clustering_coeff against the staged layout — same oracle. */
  def qClusteringCoeffStaged(s: SparkSession, d: String): DataFrame = {
    val (table, nEdges) = stagedEdges(s, d)
    val e = s.table(table)
    val deg = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val tri = triangleCorners(e, nEdges)
      .agg(coalesce(sum(size(col("zs")).cast("long")), lit(0L))
        .as("n_triangles"))
    val shape = broadcast(deg.agg(
      count(lit(1)).as("n_nodes"), sum("deg").as("deg_sum"),
      sum(expr("(deg * (deg - 1)) div 2")).as("n_wedges")))
    tri.crossJoin(shape)
      .select(col("n_nodes"), expr("deg_sum div 2").as("n_edges"),
        col("n_wedges"), col("n_triangles"),
        expr("(30000 * n_triangles) div n_wedges").as("transitivity_bp"))
  }

  /** q_label_propagation against the staged layout — same oracle; the
    * symmetric relation is the oriented rows plus their flips (each
    * undirected edge is staged exactly once). */
  def qLabelPropagationStaged(s: SparkSession, d: String): DataFrame =
    communityReport(s.table(stagedLabels(s, d)))

  /** q_pagerank_copurchase against the staged layout — same oracle, same
    * flip-union symmetric relation as the staged LPA. */
  def qPagerankCopurchaseStaged(s: SparkSession, d: String): DataFrame = {
    val e = s.table(ensureEdgesStaged(s, d))
    // the flip-union discards the staged bucketing — re-key the cache on
    // src, the PageRank iteration join key
    val edges = e.select(col("src"), col("dst"))
      .unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("src"))
      .cache()
    pagerankOn(edges)
  }

  /** Newman modularity of the LPA communities — the standard community-
    * quality metric (Newman & Girvan 2004): Q = Σ_c [L_c/m − (d_c/2m)²].
    * Runs against the staged edge layout (the communities' own staged
    * variant exists; the edge relation is identical to the plain
    * derivation, so the oracle restates it from lineitem). Exact-integer
    * parity: the degree fraction is quantized FIRST — r_c = 1e6·d_c div 2m
    * (≤ 1e6) — so its square stays ≤ 1e12 and the whole pipeline fits
    * BIGINT at any corpus size (no n·Σ² overflow; the Welch-twice lesson),
    * with every floor div identical in both engines. Scale shape: the LPA
    * joins dominate (linear per round); the modularity close is two edge-
    * grain hash joins + community-grain arithmetic. */
  def qGraphModularity(s: SparkSession, d: String): DataFrame = {
    val e0 = s.table(ensureEdgesStaged(s, d))
    // the flip-union discards the staged table's bucketing, so re-key the
    // cache on dst — the 3 LPA rounds' join key (the src-side consumers
    // pay one exchange each; the per-round loop pays none)
    val edges = e0.select(col("src"), col("dst"))
      .unionAll(e0.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("dst"))
      .cache()
    modularityOn(edges)
  }

  /** q_graph_modularity against the staged LABEL layout — same oracle;
    * the LPA rounds are paid once at staging, the query is the close
    * alone (two edge-grain joins + community-grain arithmetic). */
  def qGraphModularityStaged(s: SparkSession, d: String): DataFrame = {
    val labels = s.table(stagedLabels(s, d))
    val e0 = s.table(ensureEdgesStaged(s, d))
    val edges = e0.select(col("src"), col("dst"))
      .unionAll(e0.select(col("dst").as("src"), col("src").as("dst")))
    modularityClose(edges, labels)
  }

  /** Modularity core over any symmetric edge relation — spec-drivable
    * (two disjoint cliques must read exactly Q = 0.5). */
  private[graft] def modularityOn(edges: DataFrame): DataFrame =
    modularityClose(edges, lpLabels(edges))

  /** The close alone, against any (node, lbl) label relation. */
  private def modularityClose(edges: DataFrame, labels: DataFrame): DataFrame = {
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val dC = labels.join(deg, col("node") === col("src"))
      .groupBy("lbl").agg(sum("deg").as("d_c"))
    val intra = edges
      .join(labels.select(col("node").as("src"), col("lbl").as("sl")), "src")
      .join(labels.select(col("node").as("dst"), col("lbl").as("dl")), "dst")
      .filter(col("sl") === col("dl"))
      .groupBy(col("sl").as("lbl")).agg(count(lit(1)).as("i_c"))
    val totals = broadcast(deg.agg(sum("deg").as("two_m")))
    val perC = dC.join(intra, Seq("lbl"), "left")
      .select(col("lbl"), col("d_c"), coalesce(col("i_c"), lit(0L)).as("i_c"))
      .crossJoin(totals)
      .withColumn("r_c", expr("(1000000 * d_c) div two_m"))
      .withColumn("term", expr(
        "(1000000 * i_c) div two_m - (r_c * r_c) div 1000000"))
    perC.agg(
      count(lit(1)).as("n_communities"),
      expr("max(two_m) div 2").as("n_edges"),
      expr("CAST(sum(i_c) div 2 AS BIGINT)").as("intra_edges"),
      expr("CAST(sum(term) AS BIGINT)").as("modularity_micro"))
  }

  private val qGraphModularitySql: String = {
    val iterCtes = (1 to iters).map { i =>
      s"""lp$i AS (
         |  SELECT node, lbl FROM (
         |    SELECT e.src AS node, l.lbl, count(*) AS c,
         |      row_number() OVER (PARTITION BY e.src
         |        ORDER BY count(*) DESC, l.lbl) AS rk
         |    FROM e JOIN lp${i - 1} l ON e.dst = l.node
         |    GROUP BY e.src, l.lbl
         |  ) WHERE rk = 1
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH li AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
       |), e AS MATERIALIZED (
       |  SELECT DISTINCT a.p AS src, b.p AS dst
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.p <> b.p
       |), lp0 AS (
       |  SELECT DISTINCT src AS node, src AS lbl FROM e
       |), $iterCtes,
       |labels AS MATERIALIZED (SELECT node, lbl FROM lp$iters),
       |deg AS MATERIALIZED (
       |  SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src
       |), two_m_t AS (SELECT CAST(sum(deg) AS BIGINT) AS two_m FROM deg),
       |d_c_t AS (
       |  SELECT l.lbl, CAST(sum(d.deg) AS BIGINT) AS d_c
       |  FROM labels l JOIN deg d ON d.src = l.node GROUP BY l.lbl
       |), intra AS (
       |  SELECT ls.lbl, CAST(count(*) AS BIGINT) AS i_c
       |  FROM e
       |  JOIN labels ls ON ls.node = e.src
       |  JOIN labels ld ON ld.node = e.dst
       |  WHERE ls.lbl = ld.lbl GROUP BY ls.lbl
       |), per_c AS (
       |  SELECT dc.lbl, dc.d_c, coalesce(i.i_c, 0) AS i_c, t.two_m,
       |    CAST((1000000 * dc.d_c) // t.two_m AS BIGINT) AS r_c
       |  FROM d_c_t dc LEFT JOIN intra i ON i.lbl = dc.lbl
       |  CROSS JOIN two_m_t t
       |)
       |SELECT CAST(count(*) AS BIGINT) AS n_communities,
       |  CAST(max(two_m) // 2 AS BIGINT) AS n_edges,
       |  CAST(sum(i_c) // 2 AS BIGINT) AS intra_edges,
       |  CAST(sum((1000000 * i_c) // two_m - (r_c * r_c) // 1000000)
       |    AS BIGINT) AS modularity_micro
       |FROM per_c""".stripMargin
  }

  /** Stage every managed layout this family owns (Bench's direct
    * pre-stage registry, graft.Layouts). */
  private[graft] def prestageLayouts(s: SparkSession, d: String): Unit = {
    stagedEdges(s, d); stagedMultiEdges(s, d); stagedLabels(s, d)
    stagedBipartite(s, d)
    ()
  }

  val all: Seq[Q] = Seq(
    Q("q_graph_modularity", qGraphModularity, Some(qGraphModularitySql)),
    Q("q_graph_modularity_staged", qGraphModularityStaged,
      Some(qGraphModularitySql)),
    Q("q_triangle_count_staged", qTriangleCountStaged, Some(qTriangleCountSql)),
    Q("q_clustering_coeff_staged", qClusteringCoeffStaged,
      Some(qClusteringCoeffSql)),
    Q("q_label_propagation_staged", qLabelPropagationStaged,
      Some(qLabelPropagationSql)),
    Q("q_pagerank_copurchase_staged", qPagerankCopurchaseStaged,
      Some(qPagerankCopurchaseSql)),
    Q("q_hits", qHits, Some(qHitsSql)),
    Q("q_hits_staged", qHitsStaged, Some(qHitsSql)),
    Q("q_assortativity", qAssortativity, Some(qAssortativitySql)),
    Q("q_clustering_coeff", qClusteringCoeff, Some(qClusteringCoeffSql)),
    Q("q_degree_hist", qDegreeHist, Some(qDegreeHistSql)),
    Q("q_sssp_weighted", qSsspWeighted, Some(qSsspWeightedSql)),
    Q("q_link_predict", qLinkPredict, Some(qLinkPredictSql)),
    Q("q_pagerank_copurchase", qPagerankCopurchase, Some(qPagerankCopurchaseSql)),
    Q("q_label_propagation", qLabelPropagation, Some(qLabelPropagationSql)),
    Q("q_triangle_count", qTriangleCount, Some(qTriangleCountSql)),
    Q("q_kcore", qKcore, Some(qKcoreSql)),
    Q("q_kcore_staged", qKcoreStaged, Some(qKcoreSql)),
    Q("q_bfs_layers", qBfsLayers, Some(qBfsLayersSql)),
    Q("q_bfs_layers_staged", qBfsLayersStaged, Some(qBfsLayersSql)),
    Q("q_sssp_weighted_staged", qSsspWeightedStaged, Some(qSsspWeightedSql)),
    Q("q_link_predict_staged", qLinkPredictStaged, Some(qLinkPredictSql)),
    Q("q_assortativity_staged", qAssortativityStaged,
      Some(qAssortativitySql)))
}
