package graft.operators

import graft.{Q, Rounds, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Pattern-mining and hierarchy operators: the recursive-query and
  * market-basket capabilities classic warehouses bolt on via RECURSIVE CTEs
  * and data-mining extensions, here expressed as iterative/relational Spark
  * plans with exact DuckDB oracles (DuckDB runs the genuine WITH RECURSIVE
  * form, so the oracle independently validates the iterative expansion).
  */
object Mining {

  // ---------------------------------------------------------------------
  // q_hierarchy_rollup — HIERARCHICAL (BOM-style) SUBTREE ROLLUP over a
  // parent-pointer table: every node's subtree size and subtree balance,
  // plus its depth under the root. The org-chart / bill-of-materials /
  // category-tree flattening that SQL needs WITH RECURSIVE for and Spark
  // lacks entirely.
  //
  // Hierarchy: suppliers under the implicit binary tree parent(k) = k/2
  // (root = suppkey 1; suppkey 0, where present, is an isolated root of
  // its own — a forest) — a deterministic stand-in for any parent-pointer
  // edge table; the ALGORITHM below never exploits the closed form, it
  // consumes an ordinary (child, parent) relation.
  //
  // Scale design: ancestor closure by ITERATIVE DOUBLING — jump pointers
  // (node → 2^i-th ancestor) square each round, so a depth-d tree closes in
  // ⌈log2 d⌉ joins (5 rounds covers depth 32; a 100 TB catalog hierarchy
  // is depth < 32). Per round: one self-join of the closure relation +
  // distinct, cut by graft.Rounds to cap plan growth. The closure has
  // O(n·d) rows — for shallow real hierarchies effectively linear. The
  // rollup is then ONE hash-aggregate grouped by ancestor. The driver-side
  // loop condition is a bounded count() per round (≤ ⌈log2 d⌉ rounds),
  // metadata-scale. Oracle: DuckDB WITH RECURSIVE over the same edges.
  // ---------------------------------------------------------------------
  def qHierarchyRollup(s: SparkSession, d: String): DataFrame = {
    val sup = Tables.supplier(s, d)
      .select(col("s_suppkey").cast("long").as("node"),
        round(col("s_acctbal") * 100).cast("long").as("bal_cents"))
      .cache()
    // ordinary parent-pointer edge relation (child, parent); root has none
    val parents = sup.filter(col("node") > 1)
      .select(col("node").as("child"), floor(col("node") / lit(2L)).as("parent"))
    // closure starts at distance-0 (self) ∪ distance-1 (parent) pairs and
    // doubles: (n →d1 m) ⋈ (m →d2 a) ⇒ (n →d1+d2 a), distinct, to fixpoint
    val init = sup.select(col("node"), col("node").as("anc"), lit(0L).as("d"))
      .unionAll(parents.select(col("child").as("node"), col("parent").as("anc"),
        lit(1L).as("d")))
    // the closure only grows (the self pairs re-derive every old row), so
    // an unchanged count is the fixpoint; doubling over long ids reaches
    // any depth within 64 rounds
    val closure = Rounds.untilStable("hierarchy", 64, init) { (closure, _) =>
      closure.as("x").join(closure.as("y"), col("x.anc") === col("y.node"))
        .select(col("x.node").as("node"), col("y.anc").as("anc"),
          (col("x.d") + col("y.d")).as("d"))
        .distinct()
    }(_.count())
    val rollup = closure.join(sup, "node")
      .groupBy(col("anc"))
      .agg(count(lit(1)).as("subtree_size"), sum("bal_cents").as("subtree_cents"))
    val depth = closure.filter(col("node") =!= col("anc") || col("d") === 0)
      .groupBy("node").agg(max("d").as("depth"))
    rollup.join(depth, col("anc") === col("node"))
      .select(col("anc").as("s_suppkey"), col("depth"), col("subtree_size"),
        col("subtree_cents"))
      .orderBy("s_suppkey")
  }

  private val qHierarchyRollupSql =
    """WITH RECURSIVE sup AS (
      |  SELECT CAST(s_suppkey AS BIGINT) AS node,
      |    CAST(round(s_acctbal * 100) AS BIGINT) AS bal_cents
      |  FROM supplier
      |), anc AS (
      |  SELECT node, node AS anc, CAST(0 AS BIGINT) AS d FROM sup
      |  UNION ALL
      |  SELECT a.node, a.anc // 2 AS anc, a.d + 1 AS d
      |  FROM anc a WHERE a.anc > 1
      |), rollup_ AS (
      |  SELECT a.anc, CAST(count(*) AS BIGINT) AS subtree_size,
      |    CAST(sum(s.bal_cents) AS BIGINT) AS subtree_cents
      |  FROM anc a JOIN sup s ON a.node = s.node
      |  GROUP BY a.anc
      |), depth AS (
      |  SELECT node, CAST(max(d) AS BIGINT) AS depth FROM anc GROUP BY node
      |)
      |SELECT r.anc AS s_suppkey, d.depth, r.subtree_size, r.subtree_cents
      |FROM rollup_ r JOIN depth d ON r.anc = d.node
      |ORDER BY s_suppkey""".stripMargin

  // ---------------------------------------------------------------------
  // q_itemsets_apriori — FREQUENT-ITEMSET MINING (Agrawal–Srikant A-priori)
  // over order baskets at brand granularity: all brand pairs and triples
  // co-occurring in at least 1% of baskets, with exact support counts.
  // The market-basket / association-rule primitive.
  //
  // Scale design: candidate generation is per-basket and bounded by
  // basket-size^k (baskets are tens of items — never catalog²); the
  // A-PRIORI PRUNE screens candidate triples against the frequent-pair set
  // (broadcast — it is ≤ brands² rows) BEFORE the counting aggregate, the
  // exact monotonicity trick that keeps k=3 candidate volume collapsed at
  // scale. Two hash-aggregates total (pairs, triples); min-support is
  // computed relationally (no driver round-trip) and applied via a
  // broadcast scalar join. Items inside an itemset are ordered
  // lexicographically, giving each set one canonical row.
  // ---------------------------------------------------------------------
  def qItemsetsApriori(s: SparkSession, d: String): DataFrame = {
    // Basket-as-array derivation (r17, the Graph.basketPairs precedent —
    // guide §2.4 remove shuffles): groupBy(ok).collect_set dedups (ok, item)
    // AND assembles the basket in ONE map-side-combinable exchange; ordered
    // pair/triple candidates then come from codegen'd posexplodes over the
    // sorted array (index order ≡ lexicographic order) — the old form paid
    // a distinct exchange plus TWO ok-keyed self-join exchanges (pairs,
    // third-item join) before the same fan-out existed. Fan-out is still
    // bounded by basket-size^k, never catalog^k.
    val basketSets = Tables.lineitem(s, d)
      .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("ok"), col("p_brand").as("item"))
      .groupBy("ok").agg(sort_array(collect_set(col("item"))).as("items"))
      .cache()
    val minsup = basketSets
      .agg(floor(count(lit(1)) / lit(100L)).as("minsup"))
    val basketPairs = basketSets
      .select(col("items"), posexplode(col("items")).as(Seq("ia", "i1")))
      .select(col("items"), col("ia"), col("i1"),
        posexplode(col("items")).as(Seq("ib", "i2")))
      .filter(col("ib") > col("ia"))
    val pairs = basketPairs
      .groupBy("i1", "i2")
      .agg(count(lit(1)).as("support"))
      .join(broadcast(minsup), col("support") >= col("minsup"))
      .drop("minsup")
      .cache()
    val freqPairs = pairs.select("i1", "i2")
    // a-priori prune ORDERING matters for the plan: the (i1,i2) arm of a
    // candidate is screened BEFORE the third-item explode, so the basket³
    // expansion only ever materializes for frequent-pair prefixes — the
    // candidate relation stays collapsed instead of exploding then
    // filtering (12.3 s → the prune-early plan at sf0.1)
    val triples = basketPairs
      .join(broadcast(freqPairs), Seq("i1", "i2"), "left_semi")
      .select(col("i1"), col("i2"), col("ib"),
        posexplode(col("items")).as(Seq("ic", "i3")))
      .filter(col("ic") > col("ib"))
      // remaining 2-subsets of the surviving candidate must be frequent too
      .join(broadcast(freqPairs.select(col("i1"), col("i2").as("i3"))),
        Seq("i1", "i3"), "left_semi")
      .join(broadcast(freqPairs.select(col("i1").as("i2"), col("i2").as("i3"))),
        Seq("i2", "i3"), "left_semi")
      .groupBy("i1", "i2", "i3")
      .agg(count(lit(1)).as("support"))
      .join(broadcast(minsup), col("support") >= col("minsup"))
      .drop("minsup")
    pairs.select(concat_ws("|", col("i1"), col("i2")).as("itemset"),
        lit(2L).as("k"), col("support"))
      .unionAll(triples.select(
        concat_ws("|", col("i1"), col("i2"), col("i3")).as("itemset"),
        lit(3L).as("k"), col("support")))
      .orderBy(col("k"), col("support").desc, col("itemset"))
  }

  // MATERIALIZED CTEs + SEMI JOIN prunes (the q_kcore oracle precedent):
  // the plain-CTE + triple-correlated-EXISTS form re-inlined `pairs` (and
  // its basket self-join) into every EXISTS and took DuckDB >45 min at
  // sf0.1; this equivalent restatement runs in ~1.5 s with identical rows.
  private val qItemsetsAprioriSql =
    """WITH baskets AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey AS ok, p_brand AS item
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |), ms AS MATERIALIZED (
      |  SELECT count(DISTINCT ok) // 100 AS minsup FROM baskets
      |), pairs AS MATERIALIZED (
      |  SELECT a.item AS i1, b.item AS i2, CAST(count(*) AS BIGINT) AS support
      |  FROM baskets a JOIN baskets b ON a.ok = b.ok AND a.item < b.item
      |  GROUP BY a.item, b.item
      |  HAVING count(*) >= (SELECT minsup FROM ms)
      |), triples AS (
      |  SELECT t.i1, t.i2, t.i3, CAST(count(*) AS BIGINT) AS support
      |  FROM (
      |    SELECT a.ok, a.item AS i1, b.item AS i2, c.item AS i3
      |    FROM baskets a
      |    JOIN baskets b ON a.ok = b.ok AND a.item < b.item
      |    JOIN baskets c ON a.ok = c.ok AND b.item < c.item) t
      |  SEMI JOIN pairs p12 ON p12.i1 = t.i1 AND p12.i2 = t.i2
      |  SEMI JOIN pairs p13 ON p13.i1 = t.i1 AND p13.i2 = t.i3
      |  SEMI JOIN pairs p23 ON p23.i1 = t.i2 AND p23.i2 = t.i3
      |  GROUP BY t.i1, t.i2, t.i3
      |  HAVING count(*) >= (SELECT minsup FROM ms)
      |)
      |SELECT i1 || '|' || i2 AS itemset, CAST(2 AS BIGINT) AS k, support
      |FROM pairs
      |UNION ALL
      |SELECT i1 || '|' || i2 || '|' || i3 AS itemset, CAST(3 AS BIGINT) AS k, support
      |FROM triples
      |ORDER BY k, support DESC, itemset""".stripMargin

  // ---------------------------------------------------------------------
  // q_gini_split — DECISION-STUMP SPLIT SEARCH (CART, Breiman 1984): for
  // every threshold t on the quantity feature, the weighted Gini impurity
  // of the {qty ≤ t | qty > t} partition against the return-flag label,
  // with the argmin flagged. The single-feature core of tree training and
  // the standard "is this feature predictive" screen.
  //
  // Exactness: per-side impurity is 1e6·(1 − Σ_c (n_c/n_s)²) evaluated as
  // (1e6·(n_s² − Σ n_c²)) div n_s² — pure BIGINT (n ≤ 6e9 rows before
  // 1e6·n_s² would overflow); the weighted mix is a second truncating div.
  //
  // Scale shape: ONE hash-aggregate collapses the fact table to the
  // (feature_value × label) contingency grid (≤ 50×3 rows); every split
  // is then a cumulative window over that grid — the classic histogram
  // trick (XGBoost/LightGBM): split search never rescans data. The argmin
  // is a 1-row broadcast join, not a global sort.
  // ---------------------------------------------------------------------
  def qGiniSplit(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grid = Tables.lineitem(s, d)
      .groupBy(col("l_quantity").cast("long").as("qty"),
        col("l_returnflag").as("flag"))
      .agg(count(lit(1)).as("n"))
      .cache()
    val classTot = grid.groupBy("flag").agg(sum("n").as("tot"))
    // DENSIFY first: a class with no rows at some qty still has a nonzero
    // cumulative there — the sparse grid would silently drop it from that
    // threshold's sums. thresholds × classes is metadata-sized.
    val dense = grid.select("qty").distinct()
      .crossJoin(grid.select("flag").distinct())
      .join(grid, Seq("qty", "flag"), "left")
      .select(col("qty"), col("flag"), coalesce(col("n"), lit(0L)).as("n"))
    val wc = Window.partitionBy("flag").orderBy("qty")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = dense
      .withColumn("cum", sum("n").over(wc))
      .join(broadcast(classTot), "flag")
    val splits = cum.groupBy(col("qty").as("thr"))
      .agg(sum("cum").as("n_l"), sum(col("cum") * col("cum")).as("sl2"),
        sum(col("tot") - col("cum")).as("n_r"),
        sum((col("tot") - col("cum")) * (col("tot") - col("cum"))).as("sr2"))
      .filter(col("n_r") > 0)
      .select(col("thr"), col("n_l"), col("n_r"),
        expr("""(n_l * ((1000000 * (n_l * n_l - sl2)) div (n_l * n_l))
               + n_r * ((1000000 * (n_r * n_r - sr2)) div (n_r * n_r)))
               div (n_l + n_r)""").as("gini_micro"))
    val best = splits.agg(min_by(col("thr"), struct(col("gini_micro"), col("thr")))
      .as("best_thr"))
    splits.crossJoin(broadcast(best))
      .select(col("thr"), col("n_l"), col("n_r"), col("gini_micro"),
        (col("thr") === col("best_thr")).cast("long").as("is_best"))
      .orderBy("thr")
  }

  private val qGiniSplitSql =
    """WITH grid AS (
      |  SELECT CAST(l_quantity AS BIGINT) AS qty, l_returnflag AS flag,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM lineitem GROUP BY 1, 2
      |), classes AS (
      |  SELECT flag, CAST(sum(n) AS BIGINT) AS tot FROM grid GROUP BY flag
      |), dense AS (
      |  SELECT t.qty, c.flag, c.tot, CAST(coalesce(g.n, 0) AS BIGINT) AS n
      |  FROM (SELECT DISTINCT qty FROM grid) t
      |  CROSS JOIN classes c
      |  LEFT JOIN grid g ON g.qty = t.qty AND g.flag = c.flag
      |), cum AS (
      |  SELECT qty, flag, tot,
      |    CAST(sum(n) OVER (PARTITION BY flag ORDER BY qty
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      |  FROM dense
      |), splits AS (
      |  SELECT qty AS thr, CAST(sum(cum) AS BIGINT) AS n_l,
      |    CAST(sum(tot - cum) AS BIGINT) AS n_r,
      |    CAST(sum(cum * cum) AS BIGINT) AS sl2,
      |    CAST(sum((tot - cum) * (tot - cum)) AS BIGINT) AS sr2
      |  FROM cum GROUP BY qty
      |), scored AS (
      |  SELECT thr, n_l, n_r,
      |    CAST((n_l * ((1000000 * (n_l * n_l - sl2)) // (n_l * n_l))
      |        + n_r * ((1000000 * (n_r * n_r - sr2)) // (n_r * n_r)))
      |        // (n_l + n_r) AS BIGINT) AS gini_micro
      |  FROM splits WHERE n_r > 0
      |), best AS (
      |  SELECT thr AS best_thr FROM scored
      |  ORDER BY gini_micro, thr LIMIT 1
      |)
      |SELECT s.thr, s.n_l, s.n_r, s.gini_micro,
      |  CAST(s.thr = b.best_thr AS BIGINT) AS is_best
      |FROM scored s CROSS JOIN best b
      |ORDER BY s.thr""".stripMargin

  // ---------------------------------------------------------------------
  // q_seq_pairs — SEQUENTIAL PRECEDENCE MINING over per-user event
  // histories: for every ordered type pair (first, then), how many users
  // saw their first `first` strictly before their first `then`, and the
  // mean gap between the two. The 2-element sequential-pattern primitive
  // (AprioriAll/PrefixSpan's k=2 rung) behind "what do users do next" —
  // distinct from q_event_transitions (ADJACENT steps) and q_events_funnel
  // (one fixed path): this scores ALL type pairs by first-touch precedence.
  //
  // Exactness: first-touch = min(ms) per (user, type); strict < on the
  // integer timestamps (equal first-touches count for neither direction);
  // mean gap is a truncating div of exact ms sums.
  //
  // Scale shape: one hash-aggregate to (user × type) first-touches — the
  // only event-grain pass — then a per-user self-join whose fanout is
  // bounded by the TYPE VOCABULARY squared (≤ 25 rows/user here, never
  // events²), co-partitioned on user_id, then one tiny aggregate.
  // ---------------------------------------------------------------------
  def qSeqPairs(s: SparkSession, d: String): DataFrame = {
    val ms = graft.functions.TimeFunctions.nsToMs("ts")
    val ft = Tables.events(s, d)
      .groupBy(col("user_id"), col("event_type"))
      .agg(min(ms).as("fms"))
      .cache()
    ft.as("a").join(ft.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.fms") < col("b.fms"))
      .groupBy(col("a.event_type").as("first_type"),
        col("b.event_type").as("then_type"))
      .agg(count(lit(1)).as("n_users"),
        expr("sum(b.fms - a.fms) div count(1)").as("mean_gap_ms"))
      .orderBy("first_type", "then_type")
  }

  private val qSeqPairsSql =
    """WITH ft AS (
      |  SELECT user_id, event_type, min(epoch_ms(ts)) AS fms
      |  FROM events GROUP BY 1, 2
      |)
      |SELECT a.event_type AS first_type, b.event_type AS then_type,
      |  CAST(count(*) AS BIGINT) AS n_users,
      |  CAST(sum(b.fms - a.fms) // count(*) AS BIGINT) AS mean_gap_ms
      |FROM ft a JOIN ft b ON a.user_id = b.user_id AND a.fms < b.fms
      |GROUP BY 1, 2
      |ORDER BY first_type, then_type""".stripMargin

  // ---------------------------------------------------------------------
  // q_top_paths — TOP SESSION PATHS: the most common opening event-type
  // sequences (first ≤3 steps) across gap-sessionized user histories —
  // the clickstream path-analysis primitive behind "how do users start",
  // nav-flow sankeys, and UX funnels discovery (the inverse of
  // q_events_funnel, which checks ONE fixed path).
  //
  // Determinism: the same 30-min gap rule and (ms, event_id) tie-break as
  // q_events_sessionize; path assembly sorts by the in-session rank, and
  // the top-20 ranks by (count desc, path asc).
  //
  // Scale shape: everything up to the path aggregate partitions by
  // user_id (two stacked windows on one shuffle); paths collapse to a
  // tiny (≤ types³) relation before the global top-k.
  // ---------------------------------------------------------------------
  def qTopPaths(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gapMs = 30L * 60 * 1000
    val order = Window.partitionBy("user_id")
      .orderBy(col("ms").asc, col("event_id").asc)
    val run = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sess = Tables.events(s, d)
      .withColumn("ms", graft.functions.TimeFunctions.nsToMs("ts"))
      .withColumn("prev_ms", lag(col("ms"), 1).over(order))
      .withColumn("is_new", when(col("prev_ms").isNull ||
        col("ms") - col("prev_ms") > gapMs, 1L).otherwise(0L))
      .withColumn("session_id", sum("is_new").over(run))
      .withColumn("rn", row_number().over(
        Window.partitionBy("user_id", "session_id")
          .orderBy(col("ms").asc, col("event_id").asc)))
      .filter(col("rn") <= 3)
    val paths = sess.groupBy("user_id", "session_id")
      .agg(concat_ws(">", transform(
        sort_array(collect_list(struct(col("rn"), col("event_type")))),
        x => x.getField("event_type"))).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_sessions"))
    val wTop = Window.orderBy(col("n_sessions").desc, col("path").asc)
    paths.withColumn("rk", row_number().over(wTop).cast("long"))
      .filter(col("rk") <= 20)
      .select(col("rk"), col("path"), col("n_sessions"))
      .orderBy("rk")
  }

  private val qTopPathsSql =
    """WITH ev AS (
      |  SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms FROM events
      |), s1 AS (
      |  SELECT *, CASE WHEN lag(ms) OVER w IS NULL
      |      OR ms - lag(ms) OVER w > 1800000 THEN 1 ELSE 0 END AS is_new
      |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)
      |), s2 AS (
      |  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ms, event_id
      |    ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM s1
      |), s3 AS (
      |  SELECT *, row_number() OVER (PARTITION BY user_id, session_id
      |    ORDER BY ms, event_id) AS rn
      |  FROM s2
      |), p AS (
      |  SELECT user_id, session_id, string_agg(event_type, '>' ORDER BY rn)
      |    AS path
      |  FROM s3 WHERE rn <= 3 GROUP BY user_id, session_id
      |), pc AS (
      |  SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
      |  FROM p GROUP BY path
      |)
      |SELECT CAST(row_number() OVER (ORDER BY n_sessions DESC, path)
      |    AS BIGINT) AS rk, path, n_sessions
      |FROM pc ORDER BY rk LIMIT 20""".stripMargin

  val all: Seq[Q] = Seq(
    Q("q_hierarchy_rollup", qHierarchyRollup, Some(qHierarchyRollupSql)),
    Q("q_itemsets_apriori", qItemsetsApriori, Some(qItemsetsAprioriSql)),
    Q("q_gini_split", qGiniSplit, Some(qGiniSplitSql)),
    Q("q_seq_pairs", qSeqPairs, Some(qSeqPairsSql)),
    Q("q_top_paths", qTopPaths, Some(qTopPathsSql)))
}
