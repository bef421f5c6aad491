package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational core — the engine capability the reference's pandas ops imply
  * (merge/join, groupby-agg, value_counts, drop_duplicates, filters; see
  * sheaswauger/dissertation-data-pipeline build_corpus.py:63-97 and
  * build_master_corpus.py:118-140), expressed as declarative DataFrame plans
  * so Catalyst handles pushdown, pruning and join strategy selection.
  *
  * Scale notes: dim tables (region/nation/supplier/customer) are broadcast;
  * fact-fact joins shuffle on the join key (bucketing target at 100 TB); all
  * aggregates are partial (map-side combine) HashAggregates. Every floating
  * aggregate is rounded identically to its DuckDB oracle and every output is
  * deterministically ordered with explicit tie-breaks.
  */
object Relational {

  /** Net line revenue: l_extendedprice * (1 - l_discount). */
  private def netPrice: org.apache.spark.sql.Column =
    col("l_extendedprice") * (lit(1.0) - col("l_discount"))

  /** TPC-H Q1 shape: scan-filter + groupBy multi-aggregate. */
  def q1PricingSummary(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        round(sum(netPrice), 2).as("sum_disc_price"),
        round(sum(netPrice * (lit(1.0) + col("l_tax"))), 2).as("sum_charge"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        round(avg("l_extendedprice"), 4).as("avg_price"),
        round(avg("l_discount"), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  private val q1Sql =
    """SELECT l_returnflag, l_linestatus,
      |  round(sum(l_quantity), 2) AS sum_qty,
      |  round(sum(l_extendedprice), 2) AS sum_base_price,
      |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
      |  round(sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)), 2) AS sum_charge,
      |  round(avg(l_quantity), 4) AS avg_qty,
      |  round(avg(l_extendedprice), 4) AS avg_price,
      |  round(avg(l_discount), 6) AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** TPC-H Q3 shape: 3-way join + agg + deterministic top-N (ties broken on
    * the rounded revenue then the key, so Spark and DuckDB select the same
    * rows at the LIMIT boundary). */
  def q3TopOrders(s: SparkSession, d: String): DataFrame =
    q3From(Tables.lineitem(s, d), Tables.orders(s, d), Tables.customer(s, d))

  /** Q3 body over caller-supplied fact frames (plain parquet or the bucketed
    * layout — same plan shape, minus the orderkey exchanges when bucketed). */
  private def q3From(lineitem: DataFrame, orders: DataFrame, customer: DataFrame): DataFrame = {
    val c = customer.filter(col("c_mktsegment") === "BUILDING")
    val o = orders.filter(col("o_orderdate") < lit("1998-07-01"))
    val l = lineitem.filter(col("l_shipdate") > lit("1998-07-01"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(round(sum(netPrice), 2).as("revenue"))
      .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
  }

  private val q3Sql =
    """SELECT l_orderkey,
      |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
      |  o_orderdate, o_orderpriority
      |FROM customer
      |JOIN orders   ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-07-01 00:00:00'
      |  AND l_shipdate  > TIMESTAMP '1998-07-01 00:00:00'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey
      |LIMIT 10""".stripMargin

  /** TPC-H Q5 shape: 6-table star join with the customer-nation = supplier-
    * nation co-location constraint. region/nation/supplier broadcast. */
  def q5RegionVolume(s: SparkSession, d: String): DataFrame =
    q5From(s, d, Tables.lineitem(s, d), Tables.orders(s, d))

  private def q5From(s: SparkSession, d: String,
      lineitem: DataFrame, orders: DataFrame): DataFrame = {
    val r = Tables.region(s, d).filter(col("r_name") === "ASIA")
    lineitem
      .join(orders.filter(
        col("o_orderdate") >= lit("1995-01-01") && col("o_orderdate") < lit("1999-01-01")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.supplier(s, d)),
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(round(sum(netPrice), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name").asc)
  }

  private val q5Sql =
    """SELECT n_name, round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation   ON s_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      |  AND o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  /** TPC-H Q2's shape — minimum-cost supplier per part via CORRELATED-MIN
    * decorrelation: the per-part minimum is computed once as an aggregate
    * and JOINED BACK on (part, cost = min) equality — the other classic
    * argmin plan next to q_top_customer_per_nation's window row_number
    * (the join-back keeps ties, the window picks one; both matter). Supply
    * cost is the min observed line price in exact cents. Candidate costs
    * aggregate lineitem ONCE (partial hash-agg), the supplier→nation→region
    * dim chain broadcasts, and the min relation re-joins on the part key —
    * two shuffles total on the same key, no correlated per-row subquery
    * execution anywhere. */
  def q2MinCostSupplier(s: SparkSession, d: String): DataFrame = {
    val cents = round(col("l_extendedprice") * 100).cast("long")
    val cand = Tables.lineitem(s, d)
      .select(col("l_partkey"), col("l_suppkey"), cents.as("cost_cents"))
      .groupBy("l_partkey", "l_suppkey")
      .agg(min("cost_cents").as("supply_cost"))
    val sup = Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("n_name"))
    val candR = cand.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
    val minPerPart = candR.groupBy("l_partkey")
      .agg(min("supply_cost").as("min_cost"))
    candR
      .join(minPerPart, "l_partkey")
      .filter(col("supply_cost") === col("min_cost")) // keep ALL tied argmins
      .join(broadcast(Tables.part(s, d)
          .filter(col("p_size") <= 10 && col("p_type") === "ECONOMY")),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_partkey"), col("p_name"), col("s_suppkey").as("suppkey"),
        col("n_name"), col("min_cost"))
      .orderBy("p_partkey", "suppkey")
  }

  private val q2MinCostSupplierSql =
    """WITH cand AS (
      |  SELECT l_partkey, l_suppkey,
      |    min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS supply_cost
      |  FROM lineitem GROUP BY l_partkey, l_suppkey
      |), sup AS (
      |  SELECT s_suppkey, n_name
      |  FROM supplier
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  WHERE r_name = 'ASIA'
      |), cand_r AS (
      |  SELECT l_partkey, l_suppkey, supply_cost, n_name
      |  FROM cand JOIN sup ON l_suppkey = s_suppkey
      |), min_pp AS (
      |  SELECT l_partkey, min(supply_cost) AS min_cost
      |  FROM cand_r GROUP BY l_partkey
      |)
      |SELECT p_partkey, p_name, l_suppkey AS suppkey, n_name,
      |  CAST(min_cost AS BIGINT) AS min_cost
      |FROM cand_r
      |JOIN min_pp USING (l_partkey)
      |JOIN part ON l_partkey = p_partkey
      |WHERE supply_cost = min_cost AND p_size <= 10 AND p_type = 'ECONOMY'
      |ORDER BY p_partkey, suppkey""".stripMargin

  /** Conditional aggregation: per-year revenue share of one region
    * (CASE inside sum — build_master_corpus.py:51 normalize_status is the
    * same contains/CASE idiom, here over a ratio).
    *
    * Aggregate-before-join: lineitem revenue is pre-aggregated to order
    * grain BEFORE joining orders — the join then moves ~4× fewer rows, and
    * since both sides are hash-partitioned on the same orderkey the join
    * reuses the aggregation's exchange. The classic 100 TB join reduction. */
  def qMarketShare(s: SparkSession, d: String): DataFrame =
    qMarketShareFrom(s, d, Tables.lineitem(s, d), Tables.orders(s, d))

  private def qMarketShareFrom(s: SparkSession, d: String,
      lineitem: DataFrame, orders: DataFrame): DataFrame = {
    val revByOrder = lineitem
      .groupBy(col("l_orderkey"))
      .agg(sum(netPrice).as("rev"))
    revByOrder
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        round(sum(when(col("r_name") === "AMERICA", col("rev")).otherwise(lit(0.0)))
          / sum(col("rev")), 6).as("america_share"),
        round(sum(col("rev")), 2).as("total_revenue"))
      .orderBy("o_year")
  }

  private val qMarketShareSql =
    """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
      |  round(sum(CASE WHEN r_name = 'AMERICA' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END)
      |        / sum(l_extendedprice * (1.0 - l_discount)), 6) AS america_share,
      |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS total_revenue
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |GROUP BY 1
      |ORDER BY o_year""".stripMargin

  /** Window rank-per-group: top-3 customers by spend within each nation.
    * Rank computed over the ROUNDED spend with c_custkey tie-break so both
    * engines pick identical rows. Single shuffle on n_name. */
  def qTopCustomerPerNation(s: SparkSession, d: String): DataFrame = {
    val spend = Tables.orders(s, d)
      .groupBy("o_custkey")
      .agg(round(sum("o_totalprice"), 2).as("spend"))
    val w = Window.partitionBy("n_name").orderBy(col("spend").desc, col("o_custkey").asc)
    spend
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select("n_name", "rk", "c_name", "spend")
      .orderBy("n_name", "rk")
  }

  private val qTopCustomerPerNationSql =
    """WITH spend AS (
      |  SELECT o_custkey, round(sum(o_totalprice), 2) AS spend
      |  FROM orders GROUP BY o_custkey
      |), ranked AS (
      |  SELECT n_name,
      |    CAST(row_number() OVER (PARTITION BY n_name ORDER BY spend DESC, o_custkey) AS BIGINT) AS rk,
      |    c_name, spend
      |  FROM spend
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation   ON c_nationkey = n_nationkey
      |)
      |SELECT n_name, rk, c_name, spend FROM ranked
      |WHERE rk <= 3
      |ORDER BY n_name, rk""".stripMargin

  /** Hierarchical ROLLUP aggregate over region → nation.
    *
    * Expressed as re-aggregation of the finest-level partials (nation level →
    * region level → grand total) instead of `Dataset.rollup`: scans the fact
    * once and each coarser level aggregates the (tiny) previous level —
    * exactly what you want at 100 TB, and it sidesteps a Spark 4.1 analyzer
    * false-positive (ambiguous-self-join check fires on rollup grouping
    * columns). Sums stay unrounded until the final projection so values match
    * DuckDB's ROLLUP over raw rows. */
  def qRollup(s: SparkSession, d: String): DataFrame = {
    val l2 = Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(count(lit(1)).as("c"), sum("c_acctbal").as("b"))
    val l1 = l2.groupBy("r_name")
      .agg(lit(null).cast("string").as("n_name"), sum("c").as("c"), sum("b").as("b"))
      .select("r_name", "n_name", "c", "b")
    val l0 = l2.agg(sum("c").as("c"), sum("b").as("b"))
      .select(lit(null).cast("string").as("r_name"), lit(null).cast("string").as("n_name"),
        col("c"), col("b"))
    l2.select("r_name", "n_name", "c", "b").unionByName(l1).unionByName(l0)
      .select(col("r_name"), col("n_name"), col("c").as("n_customers"),
        round(col("b"), 2).as("total_bal"))
      .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
  }

  private val qRollupSql =
    """SELECT r_name, n_name, count(*) AS n_customers, round(sum(c_acctbal), 2) AS total_bal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP(r_name, n_name)
      |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin

  /** EXISTS / NOT EXISTS as left-semi / left-anti joins (no row duplication,
    * shuffle only on the key). */
  def qSemiAnti(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
    val noOrders = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), lit("no_orders").as("tag"))
    val bigSpenders = c.join(
        o.filter(col("o_totalprice") > 400000.0),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), lit("has_big_order").as("tag"))
    noOrders.unionAll(bigSpenders).orderBy("tag", "c_custkey")
  }

  private val qSemiAntiSql =
    """SELECT c_custkey, 'no_orders' AS tag FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |UNION ALL
      |SELECT c_custkey, 'has_big_order' AS tag FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
      |ORDER BY tag, c_custkey""".stripMargin

  /** Broadcast dim-join chain: orders enriched with customer → nation →
    * region. All three dims broadcast — zero shuffle of the fact table. */
  def qOrdersEnriched(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .select("o_orderkey", "o_totalprice", "o_orderstatus", "c_name", "n_name", "r_name")
      .orderBy("o_orderkey")
      .limit(200)

  private val qOrdersEnrichedSql =
    """SELECT o_orderkey, o_totalprice, o_orderstatus, c_name, n_name, r_name
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |ORDER BY o_orderkey
      |LIMIT 200""".stripMargin

  /** Exact percentiles (linear interpolation) of order totals per status —
    * pandas .describe()/quantile idioms at scale. Spark's exact `percentile`
    * matches DuckDB's quantile_cont interpolation. */
  def qPercentiles(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy("o_orderstatus")
      .agg(
        count(lit(1)).as("n"),
        round(expr("percentile(o_totalprice, 0.25)"), 2).as("p25"),
        round(expr("percentile(o_totalprice, 0.5)"), 2).as("p50"),
        round(expr("percentile(o_totalprice, 0.75)"), 2).as("p75"),
        round(expr("percentile(o_totalprice, 0.95)"), 2).as("p95"))
      .orderBy("o_orderstatus")

  private val qPercentilesSql =
    """SELECT o_orderstatus, count(*) AS n,
      |  round(CAST(quantile_cont(o_totalprice, 0.25) AS DOUBLE), 2) AS p25,
      |  round(CAST(quantile_cont(o_totalprice, 0.5)  AS DOUBLE), 2) AS p50,
      |  round(CAST(quantile_cont(o_totalprice, 0.75) AS DOUBLE), 2) AS p75,
      |  round(CAST(quantile_cont(o_totalprice, 0.95) AS DOUBLE), 2) AS p95
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** Quantile SKETCH: equi-width histogram estimate of p50/p90/p99 — the
    * one-extra-narrow-pass, bounded-memory, MERGEABLE alternative to
    * q_percentiles' exact `percentile` (which buffers every value per group).
    * Per-group 64-bin counts merge by addition (map-side partial combine —
    * the distributed-sketch property), so at 100 TB the wide data is touched
    * by one hash-aggregate and the quantile math runs on ≤ 64 rows per group.
    *
    * Deterministic by construction (integer cents, integer bin width
    * `(hi-lo) div 64 + 1`, rank `ceil(q·n/100)`, within-bin linear
    * interpolation as integer div), hence fully oracled — unlike t-digest/GK
    * sketches whose estimates are engine-specific. Error ≤ one bin width;
    * RelationalSpec asserts that bound against the exact percentiles. */
  def qHistogramQuantiles(s: SparkSession, d: String): DataFrame = {
    val c = Tables.orders(s, d)
      .select(col("o_orderstatus").as("status"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    // pass 1: per-group range + count — three longs per group, broadcast back
    val mm = c.groupBy("status").agg(
        min("cents").as("lo"), max("cents").as("hi"), count(lit(1)).as("n"))
      .withColumn("w", expr("(hi - lo) div 64 + 1"))
    // pass 2: the sketch — per (group, bin) counts, map-side partial
    val binned = c.join(broadcast(mm), "status")
      .groupBy(col("status"), expr("(cents - lo) div w").as("bin"))
      .agg(count(lit(1)).as("cnt"))
    // quantile math on the tiny sketch: cumulative counts, pick the bin
    // holding rank ceil(q·n/100), interpolate inside it with integer div
    val cum = binned.withColumn("cum",
      sum("cnt").over(Window.partitionBy("status").orderBy("bin")))
    val est = cum.join(broadcast(mm), "status")
      .select(col("status"), col("n"), col("lo"), col("w"), col("bin"),
        col("cnt"), col("cum"),
        explode(array(lit(50L), lit(90L), lit(99L))).as("q"))
      .withColumn("r", expr("(q * n + 99) div 100"))
      .filter(col("cum") >= col("r") && col("cum") - col("cnt") < col("r"))
      .withColumn("est_cents",
        expr("lo + bin * w + ((r - (cum - cnt)) * w) div cnt"))
    est.groupBy("status", "n").agg(
        max(when(col("q") === 50, col("est_cents"))).as("p50_cents"),
        max(when(col("q") === 90, col("est_cents"))).as("p90_cents"),
        max(when(col("q") === 99, col("est_cents"))).as("p99_cents"))
      .orderBy("status")
  }

  private val qHistogramQuantilesSql =
    """WITH c AS (
      |  SELECT o_orderstatus AS status,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders
      |), mm AS (
      |  SELECT status, min(cents) AS lo, max(cents) AS hi, count(*) AS n,
      |    (max(cents) - min(cents)) // 64 + 1 AS w
      |  FROM c GROUP BY status
      |), binned AS (
      |  SELECT c.status, (cents - lo) // w AS bin, count(*) AS cnt
      |  FROM c JOIN mm ON c.status = mm.status
      |  GROUP BY 1, 2
      |), cum AS (
      |  SELECT status, bin, cnt,
      |    sum(cnt) OVER (PARTITION BY status ORDER BY bin) AS cum
      |  FROM binned
      |), est AS (
      |  SELECT b.status, mm.n,
      |    q.q,
      |    CAST(lo + bin * w +
      |      (((q.q * mm.n + 99) // 100 - (cum - cnt)) * w) // cnt AS BIGINT)
      |      AS est_cents
      |  FROM cum b
      |  JOIN mm ON b.status = mm.status
      |  CROSS JOIN (VALUES (50), (90), (99)) q(q)
      |  WHERE cum >= (q.q * mm.n + 99) // 100
      |    AND cum - cnt < (q.q * mm.n + 99) // 100
      |)
      |SELECT status, n,
      |  max(CASE WHEN q = 50 THEN est_cents END) AS p50_cents,
      |  max(CASE WHEN q = 90 THEN est_cents END) AS p90_cents,
      |  max(CASE WHEN q = 99 THEN est_cents END) AS p99_cents
      |FROM est GROUP BY status, n ORDER BY status""".stripMargin

  /** HyperLogLog cardinality sketch — PORTABLE and fully oracled. The 100 TB
    * substitute for countDistinct when a shuffle of raw keys is unaffordable:
    * the register grid (m = 64 buckets × max leading-zero rank) is a plain
    * groupBy(group, bucket) max() — partial grids merge by max, the same
    * mergeable-sketch property as text_cms_freq's count grid, so the only
    * data shuffle is 64 rows per group. Flajolet's estimator runs in exact
    * integer arithmetic: Σ 2^-M[j] scaled by 2^50 is an integer shift-sum,
    * α·m²/Σ decomposes into overflow-free integer div/mod steps, and the
    * linear-counting small-range arm quantizes ln(m/V) to micro-nats
    * (verified bit-identical JVM vs DuckDB over all 64 possible V). Every
    * step deterministic ⇒ a hash-exact DuckDB oracle for an APPROXIMATE
    * aggregate, with its true error recorded in err_bp. The engine-internal
    * approx_count_distinct (HLL++ with private register layout) offers the
    * same capability but can never be cross-engine-checked; this is the
    * checkable equivalent, next to q_kmv_distinct's KMV rung.
    * exact_orders (one countDistinct) is the comparison baseline only. */
  def qApproxDistinct(s: SparkSession, d: String): DataFrame = {
    val h = conv(substring(md5(col("l_orderkey").cast("string")), 1, 15), 16, 10)
      .cast("long")
    val base = Tables.lineitem(s, d)
      .select(year(col("l_shipdate")).cast("long").as("ship_year"), col("l_orderkey"))
    val hv = base.select(col("ship_year"), h.as("h"))
      .select(col("ship_year"), (col("h") % 64).as("bucket"), expr("h div 64").as("w"))
      .select(col("ship_year"), col("bucket"),
        when(col("w") === 0, 55L) // all 54 payload bits zero ⇒ rank 55
          .otherwise(lit(55L) - length(bin(col("w")))).as("rho"))
    val regs = hv.groupBy("ship_year", "bucket").agg(max("rho").as("m"))
    val spine = base.select("ship_year").distinct()
      .select(col("ship_year"), explode(sequence(lit(0L), lit(63L))).as("bucket"))
    val full = spine.join(regs, Seq("ship_year", "bucket"), "left")
      .withColumn("m", coalesce(col("m"), lit(0L)))
    val sums = full.groupBy("ship_year").agg(
      sum(expr("shiftright(1125899906842624, cast(m as int))")).as("S"), // Σ 2^(50-M[j])
      count(when(col("m") === 0, 1)).as("V"))
    val exact = base.groupBy("ship_year")
      .agg(countDistinct("l_orderkey").as("exact_orders"))
    sums.join(exact, "ship_year")
      // E = α·m²/Σ2^-M = α·2^62/S, α_64·1e6 = 709341; (t·α)//1e6 decomposed
      // so no intermediate exceeds int64
      .withColumn("t", expr("4611686018427387904 div greatest(S, 1)"))
      .withColumn("raw",
        expr("(t div 1000000) * 709341 + ((t % 1000000) * 709341) div 1000000"))
      .withColumn("hll_orders",
        when(col("V") > 0 && col("raw") <= 160, // linear counting below 2.5m
          expr("(64 * cast(round(ln(64.0 / V) * 1000000) as bigint)) div 1000000"))
          .otherwise(col("raw")))
      .select(col("ship_year"), col("exact_orders"), col("hll_orders"),
        expr("(abs(hll_orders - exact_orders) * 10000) div exact_orders").as("err_bp"))
      .orderBy("ship_year")
  }

  private val qApproxDistinctSql: String = {
    val h = OracleSql.hexPrefix("h0", 15)
    s"""WITH hv AS (
       |  SELECT ship_year, $h AS h
       |  FROM (SELECT CAST(year(l_shipdate) AS BIGINT) AS ship_year,
       |          md5(CAST(l_orderkey AS VARCHAR)) AS h0 FROM lineitem)
       |), rh AS (
       |  SELECT ship_year, h % 64 AS bucket,
       |    CASE WHEN h // 64 = 0 THEN 55 ELSE 55 - length(bin(h // 64)) END AS rho
       |  FROM hv
       |), regs AS (
       |  SELECT ship_year, bucket, max(rho) AS m FROM rh GROUP BY 1, 2
       |), spine AS (
       |  SELECT ship_year, r.range AS bucket
       |  FROM (SELECT DISTINCT ship_year FROM hv) CROSS JOIN range(0, 64) r
       |), fullgrid AS (
       |  SELECT spine.ship_year, coalesce(m, 0) AS m
       |  FROM spine LEFT JOIN regs
       |    ON spine.ship_year = regs.ship_year AND spine.bucket = regs.bucket
       |), sums AS (
       |  SELECT ship_year,
       |    CAST(sum(1125899906842624 >> CAST(m AS INTEGER)) AS BIGINT) AS S,
       |    count(*) FILTER (WHERE m = 0) AS V
       |  FROM fullgrid GROUP BY ship_year
       |), exact AS (
       |  SELECT CAST(year(l_shipdate) AS BIGINT) AS ship_year,
       |    count(DISTINCT l_orderkey) AS exact_orders
       |  FROM lineitem GROUP BY 1
       |), est AS (
       |  SELECT sums.ship_year, exact_orders, V,
       |    CAST(4611686018427387904 // greatest(S, 1) AS BIGINT) AS t
       |  FROM sums JOIN exact ON sums.ship_year = exact.ship_year
       |), fin AS (
       |  SELECT ship_year, exact_orders,
       |    CASE WHEN V > 0 AND raw <= 160
       |      THEN CAST((64 * CAST(round(ln(64.0 / V) * 1000000) AS BIGINT))
       |             // 1000000 AS BIGINT)
       |      ELSE raw END AS hll_orders
       |  FROM (SELECT *, CAST((t // 1000000) * 709341
       |          + ((t % 1000000) * 709341) // 1000000 AS BIGINT) AS raw FROM est)
       |)
       |SELECT ship_year, exact_orders, hll_orders,
       |  CAST((abs(hll_orders - exact_orders) * 10000) // exact_orders AS BIGINT) AS err_bp
       |FROM fin ORDER BY ship_year""".stripMargin
  }

  /** KMV cardinality sketch next to the exact count — same query shape as
    * q_approx_distinct but FULLY oracled: the k-minimum-values sketch
    * (functions/KmvDistinct, bounded k=256 memory, union-merge) runs on an
    * engine-portable hash (first 15 md5 nibbles = 60 bits), and its
    * estimator is a fixed closed form on exact integers, so DuckDB can
    * recompute the identical estimate from the k-th smallest hash — a
    * hash-exact correctness statement about an APPROXIMATE aggregate.
    * err_bp records the estimator's actual error in basis points. */
  def qKmvDistinct(s: SparkSession, d: String): DataFrame = {
    val v = conv(substring(md5(col("l_orderkey").cast("string")), 1, 15), 16, 10)
      .cast("long")
    Tables.lineitem(s, d)
      .select(year(col("l_shipdate")).cast("long").as("ship_year"),
        col("l_orderkey"), v.as("v"))
      .groupBy("ship_year")
      .agg(
        countDistinct(col("l_orderkey")).as("exact_orders"),
        graft.functions.KmvDistinct.kmvDistinct(col("v"), 256).as("kmv_orders"))
      .withColumn("err_bp",
        expr("(abs(kmv_orders - exact_orders) * 10000) div exact_orders"))
      .orderBy("ship_year")
  }

  private val qKmvDistinctSql: String = {
    val v = OracleSql.hexPrefix("h", 15)
    s"""WITH base AS (
       |  SELECT DISTINCT CAST(year(l_shipdate) AS BIGINT) AS ship_year, l_orderkey
       |  FROM lineitem
       |), hv AS (
       |  SELECT ship_year, $v AS v
       |  FROM (SELECT ship_year, md5(CAST(l_orderkey AS VARCHAR)) AS h FROM base)
       |), ranked AS (
       |  SELECT ship_year, v,
       |    row_number() OVER (PARTITION BY ship_year ORDER BY v) AS rk
       |  FROM (SELECT DISTINCT ship_year, v FROM hv)
       |), agg AS (
       |  SELECT ship_year, count(*) AS n_seen,
       |    max(CASE WHEN rk = 256 THEN v END) AS kth
       |  FROM ranked GROUP BY ship_year
       |), ex AS (
       |  SELECT ship_year, CAST(count(*) AS BIGINT) AS exact_orders
       |  FROM base GROUP BY ship_year
       |), est AS (
       |  SELECT a.ship_year, ex.exact_orders,
       |    CASE WHEN kth IS NULL THEN CAST(n_seen AS BIGINT)
       |         ELSE CAST(round(255.0 * 1152921504606846976.0 / kth) AS BIGINT)
       |    END AS kmv_orders
       |  FROM agg a JOIN ex ON a.ship_year = ex.ship_year
       |)
       |SELECT ship_year, exact_orders, kmv_orders,
       |  (abs(kmv_orders - exact_orders) * 10000) // exact_orders AS err_bp
       |FROM est ORDER BY ship_year""".stripMargin
  }

  /** KMV sketch MERGEABILITY as a user-visible rollup — the property that
    * makes cardinality sketches work at 100 TB: per-year k-minimum-value
    * "partial sketches" (the k smallest distinct portable hashes, a rank
    * window — no custom aggregate needed at this level) are UNIONED and
    * re-cut to k, and the union's estimate is provably identical to
    * sketching the full data directly (k-min of ∪ survivors = k-min of
    * the union). The all-years row is computed WITHOUT re-scanning
    * lineitem — only the ≤ k·|years| survivor hashes move — exactly how a
    * datacube serves "distinct users, any date range" from per-day
    * sketches. Same portable md5-prefix hash and closed-form estimator as
    * q_kmv_distinct, so fully oracled. */
  def qKmvUnion(s: SparkSession, d: String): DataFrame = {
    val k = 256
    val v = conv(substring(md5(col("l_orderkey").cast("string")), 1, 15), 16, 10)
      .cast("long")
    val hv = Tables.lineitem(s, d)
      .select(year(col("l_shipdate")).cast("long").as("ship_year"),
        col("l_orderkey"), v.as("v"))
      .distinct()
    val exact = hv.groupBy("ship_year")
      .agg(countDistinct("l_orderkey").as("exact_n"))
    val exactAll = hv.agg(countDistinct("l_orderkey").as("exact_n"))
      .withColumn("scope", lit("all"))
    // per-year partial sketches: the k smallest distinct hashes
    val wYear = Window.partitionBy("ship_year").orderBy("v")
    val perYear = hv.select("ship_year", "v").distinct()
      .withColumn("rk", row_number().over(wYear))
      .filter(col("rk") <= k)
    def estimate(df: DataFrame, keyCols: Seq[String]): DataFrame = {
      val grp = if (keyCols.isEmpty) df.groupBy() else df.groupBy(keyCols.head)
      grp.agg(count(lit(1)).as("n_seen"),
          max(when(col("rk") === k, col("v"))).as("kth"))
        .withColumn("kmv_n",
          when(col("kth").isNull, col("n_seen"))
            .otherwise(expr(s"CAST(round(${k - 1}.0 * 1152921504606846976.0 / kth) AS BIGINT)")))
    }
    val yearEst = estimate(perYear, Seq("ship_year"))
      .join(exact, "ship_year")
      .select(lit("year").as("scope"), col("ship_year").cast("string").as("key"),
        col("exact_n"), col("kmv_n"))
    // merge: union of the per-year survivors, re-cut to the k smallest
    val wAll = Window.orderBy("v")
    val merged = perYear.select("v").distinct()
      .withColumn("rk", row_number().over(wAll))
      .filter(col("rk") <= k)
    val allEst = estimate(merged, Seq.empty)
      .crossJoin(broadcast(exactAll.select("exact_n")))
      .select(lit("all").as("scope"), lit("*").as("key"),
        col("exact_n"), col("kmv_n"))
    yearEst.unionByName(allEst)
      .withColumn("err_bp", expr("(abs(kmv_n - exact_n) * 10000) div exact_n"))
      .orderBy("scope", "key")
  }

  private val qKmvUnionSql: String = {
    val v = OracleSql.hexPrefix("h", 15)
    s"""WITH base AS (
       |  SELECT DISTINCT CAST(year(l_shipdate) AS BIGINT) AS ship_year, l_orderkey
       |  FROM lineitem
       |), hv AS (
       |  SELECT ship_year, l_orderkey, $v AS v
       |  FROM (SELECT ship_year, l_orderkey,
       |          md5(CAST(l_orderkey AS VARCHAR)) AS h FROM base)
       |), py AS (
       |  SELECT ship_year, v, row_number() OVER (PARTITION BY ship_year ORDER BY v) AS rk
       |  FROM (SELECT DISTINCT ship_year, v FROM hv)
       |), pyk AS (
       |  SELECT * FROM py WHERE rk <= 256
       |), yest AS (
       |  SELECT 'year' AS scope, CAST(ship_year AS VARCHAR) AS key,
       |    ex.exact_n,
       |    CASE WHEN kth IS NULL THEN CAST(n_seen AS BIGINT)
       |         ELSE CAST(round(255.0 * 1152921504606846976.0 / kth) AS BIGINT)
       |    END AS kmv_n
       |  FROM (
       |    SELECT ship_year, count(*) AS n_seen,
       |      max(CASE WHEN rk = 256 THEN v END) AS kth
       |    FROM pyk GROUP BY ship_year
       |  ) a JOIN (
       |    SELECT ship_year, CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_n
       |    FROM hv GROUP BY ship_year
       |  ) ex USING (ship_year)
       |), mg AS (
       |  SELECT v, row_number() OVER (ORDER BY v) AS rk
       |  FROM (SELECT DISTINCT v FROM pyk)
       |), aest AS (
       |  SELECT 'all' AS scope, '*' AS key,
       |    (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) FROM hv) AS exact_n,
       |    CASE WHEN kth IS NULL THEN CAST(n_seen AS BIGINT)
       |         ELSE CAST(round(255.0 * 1152921504606846976.0 / kth) AS BIGINT)
       |    END AS kmv_n
       |  FROM (
       |    SELECT count(*) AS n_seen, max(CASE WHEN rk = 256 THEN v END) AS kth
       |    FROM mg WHERE rk <= 256
       |  )
       |)
       |SELECT scope, key, exact_n, kmv_n,
       |  (abs(kmv_n - exact_n) * 10000) // exact_n AS err_bp
       |FROM (SELECT * FROM yest UNION ALL SELECT * FROM aest)
       |ORDER BY scope, key""".stripMargin
  }

  /** Robust statistics: per-group median, MAD, and 3σ-equivalent outlier
    * counts (|x − med| > 3·1.4826·MAD, the robust z-score rule) — the
    * outlier-screening companion to q_describe's mean/stddev, which a
    * heavy-tailed 100 TB corpus needs because mean/stddev are themselves
    * dragged by the outliers being hunted.
    *
    * Exactness: medians of integer cents are integer-or-half values, so
    * 2·median (half-cents) and 2·MAD-median (quarter-cents) are EXACT
    * BIGINTs on both engines (linear interpolation at q=0.5 can only yield
    * .0/.5), and the outlier test cross-multiplies to integers
    * (dev2·20000 > mad4·44478). Three narrow passes (med → MAD → count),
    * each a partial hash-aggregate with the group stats broadcast back —
    * the unavoidable data-dependence chain of robust stats, each pass
    * scan-bound at scale. */
  def qRobustStats(s: SparkSession, d: String): DataFrame = {
    val c = Tables.orders(s, d).select(col("o_orderstatus").as("status"),
      round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    val med = c.groupBy("status").agg(
      expr("CAST(percentile(cents, 0.5) * 2 AS BIGINT)").as("med2"),
      count(lit(1)).as("n"))
    val dev = c.join(broadcast(med), "status")
      .withColumn("dev2", abs(col("cents") * 2 - col("med2")))
    val mad = dev.groupBy("status").agg(
      expr("CAST(percentile(dev2, 0.5) * 2 AS BIGINT)").as("mad4"))
    dev.join(broadcast(mad), "status")
      .groupBy("status")
      .agg(
        first("n").as("n"),
        first("med2").as("med_halfcents"),
        first("mad4").as("mad_qcents"),
        sum(when(col("dev2") * 20000L > col("mad4") * 44478L, 1L).otherwise(0L))
          .as("n_outliers"))
      .withColumn("out_bp", expr("(n_outliers * 10000) div n"))
      .orderBy("status")
  }

  private val qRobustStatsSql =
    """WITH c AS (
      |  SELECT o_orderstatus AS status,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders
      |), med AS (
      |  SELECT status, CAST(quantile_cont(cents, 0.5) * 2 AS BIGINT) AS med2,
      |    count(*) AS n
      |  FROM c GROUP BY status
      |), dev AS (
      |  SELECT c.status, abs(cents * 2 - med2) AS dev2, med2, n
      |  FROM c JOIN med ON c.status = med.status
      |), mad AS (
      |  SELECT status, CAST(quantile_cont(dev2, 0.5) * 2 AS BIGINT) AS mad4
      |  FROM dev GROUP BY status
      |), fin AS (
      |  SELECT d.status, max(n) AS n, max(med2) AS med_halfcents,
      |    max(mad4) AS mad_qcents,
      |    CAST(sum(CASE WHEN dev2 * 20000 > mad4 * 44478 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_outliers
      |  FROM dev d JOIN mad ON d.status = mad.status GROUP BY d.status
      |)
      |SELECT status, n, med_halfcents, mad_qcents, n_outliers,
      |  (n_outliers * 10000) // n AS out_bp
      |FROM fin ORDER BY status""".stripMargin

  /** Window-function flavors in one pass: running total, rank, quartile,
    * day-gap to previous order — all over ONE (o_custkey, date, key) sort, so
    * a single exchange serves every window. */
  def qWindowRunning(s: SparkSession, d: String): DataFrame = {
    val byDate = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    val run = byDate.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val byPrice = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
    Tables.orders(s, d)
      .filter(col("o_custkey") < 50)
      .select(
        col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        round(sum("o_totalprice").over(run), 2).as("running_spend"),
        row_number().over(byDate).cast("long").as("order_seq"),
        ntile(4).over(byPrice).cast("long").as("price_quartile"),
        // o_orderdate is TIMESTAMP_NTZ; cast to TIMESTAMP is value-preserving
        // under the UTC session and unlocks unix_millis
        ((unix_millis(col("o_orderdate").cast("timestamp")) -
          lag(unix_millis(col("o_orderdate").cast("timestamp")), 1).over(byDate))
          / lit(86400000L))
          .cast("long").as("days_since_prev"))
      .orderBy("o_custkey", "order_seq")
  }

  private val qWindowRunningSql =
    """SELECT o_custkey, o_orderkey, o_totalprice,
      |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |                                ROWS UNBOUNDED PRECEDING), 2) AS running_spend,
      |  CAST(row_number() OVER w AS BIGINT) AS order_seq,
      |  CAST(ntile(4) OVER (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS price_quartile,
      |  CAST((epoch_ms(o_orderdate) - lag(epoch_ms(o_orderdate)) OVER w) // 86400000 AS BIGINT) AS days_since_prev
      |FROM orders
      |WHERE o_custkey < 50
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, order_seq""".stripMargin

  /** LEFT OUTER join + null fill — every customer with their order stats,
    * zeros where none exist (the aggregate side is pre-grouped so the outer
    * join moves one row per customer, not one per order). */
  def qOuterJoinFill(s: SparkSession, d: String): DataFrame = {
    val stats = Tables.orders(s, d)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("t"))
    Tables.customer(s, d)
      .join(stats, col("c_custkey") === col("o_custkey"), "left")
      .select(
        col("c_custkey"),
        coalesce(col("n"), lit(0L)).as("n_orders"),
        coalesce(col("t"), lit(0.0)).as("total_spend"))
      .orderBy("c_custkey")
  }

  private val qOuterJoinFillSql =
    """SELECT c_custkey,
      |  coalesce(n, 0) AS n_orders,
      |  coalesce(t, 0.0) AS total_spend
      |FROM customer
      |LEFT JOIN (SELECT o_custkey, count(*) AS n, round(sum(o_totalprice), 2) AS t
      |           FROM orders GROUP BY o_custkey) s
      |  ON c_custkey = o_custkey
      |ORDER BY c_custkey""".stripMargin

  /** Correlated-subquery shape, decorrelated by hand: customers above their
    * nation's average balance.
    *
    * All comparisons and the displayed average are EXACT integer arithmetic
    * over cents: `bal > avg` becomes `bal_cents · n > sum_cents`, and the
    * 2-dp average is integer round-half-away-from-zero — float avgs differ
    * across engines in the last ulp and flip both the filter and the
    * rounding at boundaries. (Engines also disagree on negative integer
    * division — Spark `div` truncates, DuckDB `//` floors — so the rounding
    * runs on |sum| with the sign reapplied.) */
  def qCorrelatedAvg(s: SparkSession, d: String): DataFrame = {
    val cents = Tables.customer(s, d)
      .withColumn("bc", round(col("c_acctbal") * 100, 0).cast("long"))
    val natSum = cents.groupBy("c_nationkey")
      .agg(sum("bc").as("sc"), count(lit(1)).as("cnt"))
      .withColumnRenamed("c_nationkey", "nk")
    cents
      .join(broadcast(natSum), col("c_nationkey") === col("nk"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .filter(col("bc") * col("cnt") > col("sc"))
      .withColumn("avg_cents",
        when(col("sc") >= 0, expr("(2 * sc + cnt) div (2 * cnt)"))
          .otherwise(-expr("(2 * (-sc) + cnt) div (2 * cnt)")))
      .select(col("c_custkey"), col("c_acctbal"), col("n_name"),
        (col("avg_cents").cast("double") / 100.0).as("nation_avg"))
      .orderBy("c_custkey")
  }

  private val qCorrelatedAvgSql =
    """WITH cents AS (
      |  SELECT c_custkey, c_nationkey, c_acctbal,
      |    CAST(round(c_acctbal * 100, 0) AS BIGINT) AS bc
      |  FROM customer
      |), nat AS (
      |  SELECT c_nationkey AS nk, CAST(sum(bc) AS BIGINT) AS sc, count(*) AS cnt
      |  FROM cents GROUP BY c_nationkey
      |)
      |SELECT c_custkey, c_acctbal, n_name,
      |  CAST(CASE WHEN sc >= 0 THEN CAST((2 * sc + cnt) // (2 * cnt) AS BIGINT)
      |        ELSE -CAST((2 * (-sc) + cnt) // (2 * cnt) AS BIGINT) END AS BIGINT) * 1.0 / 100.0 AS nation_avg
      |FROM cents
      |JOIN nat ON c_nationkey = nk
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE bc * cnt > sc
      |ORDER BY c_custkey""".stripMargin

  /** Set operations: INTERSECT / EXCEPT (distinct semantics in both
    * engines) over per-year active-customer sets. */
  def qSetOps(s: SparkSession, d: String): DataFrame = {
    def activeIn(y: Int) = Tables.orders(s, d)
      .filter(year(col("o_orderdate")) === y)
      .select(col("o_custkey")).distinct()
    val both = activeIn(1995).intersect(activeIn(1996))
      .select(lit("both_95_96").as("tag"), col("o_custkey"))
    val only95 = activeIn(1995).except(activeIn(1996))
      .select(lit("only_95").as("tag"), col("o_custkey"))
    both.unionAll(only95).orderBy("tag", "o_custkey")
  }

  private val qSetOpsSql =
    """WITH y95 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
      |     y96 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
      |SELECT 'both_95_96' AS tag, o_custkey FROM (FROM y95 INTERSECT FROM y96)
      |UNION ALL
      |SELECT 'only_95' AS tag, o_custkey FROM (FROM y95 EXCEPT FROM y96)
      |ORDER BY tag, o_custkey""".stripMargin

  /** CHI-SQUARE independence test over a contingency table (returnflag ×
    * linestatus) — the categorical-association screen behind feature
    * selection and drift detection. Determinism recipe: observed counts and
    * row/col/total margins are exact int64; each cell's (O·N − R·C) fits
    * int64 (the square would overflow, so the per-cell term goes through
    * ONE deterministic double division), is quantized to micro-units, and
    * the Σ runs over INTEGERS — order-independent under any partitioning.
    * One scan for the counts; margins are broadcast-size re-aggregations. */
  def qChi2(s: SparkSession, d: String): DataFrame = {
    val obs = Tables.lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus").agg(count(lit(1)).as("o"))
      .cache() // feeds the margins AND the scored cells
    val rowT = obs.groupBy("l_returnflag").agg(sum("o").as("r"))
    val colT = obs.groupBy("l_linestatus").agg(sum("o").as("c"))
    val tot = obs.agg(sum("o").as("n"),
      countDistinct(col("l_returnflag")).as("nr"),
      countDistinct(col("l_linestatus")).as("nc"))
    obs.join(rowT, "l_returnflag").join(colT, "l_linestatus")
      .crossJoin(broadcast(tot))
      .withColumn("term_micro",
        round(pow(col("o") * col("n") - col("r") * col("c"), 2) /
          (col("r") * col("c") * col("n")).cast("double") * 1000000).cast("long"))
      .agg(sum("term_micro").as("chi2_micro"),
        ((max("nr") - 1) * (max("nc") - 1)).as("dof"),
        count(lit(1)).as("n_cells"),
        max("n").as("n_rows"))
  }

  private val qChi2Sql =
    """WITH obs AS (
      |  SELECT l_returnflag, l_linestatus, count(*) AS o
      |  FROM lineitem GROUP BY 1, 2
      |), rt AS (SELECT l_returnflag, CAST(sum(o) AS BIGINT) AS r FROM obs GROUP BY 1),
      |ct AS (SELECT l_linestatus, CAST(sum(o) AS BIGINT) AS c FROM obs GROUP BY 1),
      |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
      |  count(DISTINCT l_returnflag) AS nr, count(DISTINCT l_linestatus) AS nc
      |  FROM obs)
      |SELECT CAST(sum(CAST(round(pow(o * n - r * c, 2) /
      |    CAST(r * c * n AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS chi2_micro,
      |  CAST((max(nr) - 1) * (max(nc) - 1) AS BIGINT) AS dof,
      |  count(*) AS n_cells, max(n) AS n_rows
      |FROM obs
      |JOIN rt USING (l_returnflag)
      |JOIN ct USING (l_linestatus)
      |CROSS JOIN tot""".stripMargin

  /** UNPIVOT (pandas melt — the reverse reshape of q_pivot, and the
    * spreadsheet-normalization idiom behind the reference's wide→long
    * cleanups): the per-flag aggregate's three measure columns melt into
    * (measure, value) rows via Spark's native `unpivot` (planned as a
    * zero-shuffle Expand on top of the aggregate). */
  def qUnpivot(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        round(sum("l_quantity"), 2).as("qty"),
        round(sum("l_extendedprice"), 2).as("price"),
        round(sum("l_discount"), 2).as("disc"))
      .unpivot(
        Array(col("l_returnflag")),
        Array(col("qty"), col("price"), col("disc")),
        "measure", "value")
      .orderBy("l_returnflag", "measure")

  private val qUnpivotSql =
    """WITH agg AS (
      |  SELECT l_returnflag,
      |    round(sum(l_quantity), 2) AS qty,
      |    round(sum(l_extendedprice), 2) AS price,
      |    round(sum(l_discount), 2) AS disc
      |  FROM lineitem GROUP BY l_returnflag
      |)
      |SELECT l_returnflag, measure, value
      |FROM agg UNPIVOT (value FOR measure IN (qty, price, disc))
      |ORDER BY l_returnflag, measure""".stripMargin

  /** INTERSECT ALL / EXCEPT ALL — the MULTISET semantics (duplicates
    * preserved by min/difference of per-key multiplicities) next to
    * q_set_ops' distinct forms. Spark plans these as a single aggregate
    * carrying two counters per key (no distinct pre-shuffles); the probe
    * here is lineitem quantities per returnflag slice, where duplicate
    * (flag-erased) rows genuinely recur. */
  def qSetOpsAll(s: SparkSession, d: String): DataFrame = {
    def qtys(flag: String) = Tables.lineitem(s, d)
      .filter(col("l_returnflag") === flag)
      .select(col("l_quantity").cast("long").as("qty"))
    val inter = qtys("A").intersectAll(qtys("R"))
      .groupBy("qty").agg(count(lit(1)).as("n"))
      .select(lit("intersect_all").as("tag"), col("qty"), col("n"))
    val exc = qtys("A").exceptAll(qtys("R"))
      .groupBy("qty").agg(count(lit(1)).as("n"))
      .select(lit("except_all").as("tag"), col("qty"), col("n"))
    inter.unionAll(exc).orderBy("tag", "qty")
  }

  private val qSetOpsAllSql =
    """WITH a AS (SELECT CAST(l_quantity AS BIGINT) AS qty FROM lineitem WHERE l_returnflag = 'A'),
      |     r AS (SELECT CAST(l_quantity AS BIGINT) AS qty FROM lineitem WHERE l_returnflag = 'R')
      |SELECT 'intersect_all' AS tag, qty, count(*) AS n
      |FROM (FROM a INTERSECT ALL FROM r) GROUP BY qty
      |UNION ALL
      |SELECT 'except_all' AS tag, qty, count(*) AS n
      |FROM (FROM a EXCEPT ALL FROM r) GROUP BY qty
      |ORDER BY tag, qty""".stripMargin

  /** Pivot / crosstab — pandas value_counts-by-two-dims (the reference's
    * bills-by-year-by-state tables). Spark's `pivot` emits the same plan as
    * the CASE-based formulation the oracle uses; columns are pinned so the
    * schema is stable regardless of data. */
  def qPivot(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .withColumnsRenamed(Map("F" -> "n_f", "O" -> "n_o", "P" -> "n_p"))
      .orderBy("o_year")

  private val qPivotSql =
    """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
      |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
      |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
      |  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
      |FROM orders GROUP BY 1 ORDER BY o_year""".stripMargin

  /** describe()-style summary statistics per numeric column (count, mean,
    * stddev, min, max) — the reference's summary-report idiom. Mean/stddev
    * rounded to 2 dp on both sides. */
  def qDescribe(s: SparkSession, d: String): DataFrame = {
    def statsFor(colName: String) = Tables.lineitem(s, d).agg(
      lit(colName).as("column"),
      count(col(colName)).as("n"),
      round(avg(col(colName)), 2).as("mean"),
      round(stddev_samp(col(colName)), 2).as("stddev"),
      round(min(col(colName)), 2).as("min_v"),
      round(max(col(colName)), 2).as("max_v"))
    statsFor("l_quantity")
      .unionByName(statsFor("l_extendedprice"))
      .unionByName(statsFor("l_discount"))
      .orderBy("column")
  }

  private val qDescribeSql = {
    def one(c: String) =
      s"""SELECT '$c' AS "column", count($c) AS n, round(avg($c), 2) AS mean,
         |  round(stddev_samp($c), 2) AS stddev,
         |  round(min($c), 2) AS min_v, round(max($c), 2) AS max_v
         |FROM lineitem""".stripMargin
    Seq("l_quantity", "l_extendedprice", "l_discount").map(one)
      .mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
  }

  /** The three fact-fact queries over the bucketed layout
    * (sources/BucketedLayout): lineitem + orders staged once per session as
    * managed tables bucketed+sorted on orderkey, so the l⋈o join and the
    * orderkey-grain pre-aggregation run with NO exchange — the write-once
    * shuffle is amortized across every reader. Results (and oracles) are
    * identical to the plain-parquet variants; only the physical plan differs.
    * SinksSpec asserts the orderkey exchanges are gone. The first call pays
    * the staging write — an honest cost: it IS the layout's amortization
    * story, and the bench reports it as part of this query family. */
  private def bucketedFacts(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val (lt, ot) = graft.sources.BucketedLayout.ensureStaged(s, d)
    (s.table(lt), s.table(ot))
  }

  def q3Bucketed(s: SparkSession, d: String): DataFrame = {
    val (l, o) = bucketedFacts(s, d)
    q3From(l, o, Tables.customer(s, d))
  }

  def q5Bucketed(s: SparkSession, d: String): DataFrame = {
    val (l, o) = bucketedFacts(s, d)
    q5From(s, d, l, o)
  }

  def qMarketShareBucketed(s: SparkSession, d: String): DataFrame = {
    val (l, o) = bucketedFacts(s, d)
    qMarketShareFrom(s, d, l, o)
  }

  /** 2-D box scan over the Z-ORDERED lineitem layout
    * (sources/ZOrderLayout): literal range predicates on BOTH l_partkey and
    * l_suppkey reach the parquet reader as pushed filters, and because the
    * files are laid out along the Morton curve their min/max stats skip
    * most row groups in either dimension (ZOrderSpec measures the skipping
    * against a shuffled layout of the same file count). The layout is
    * invisible in results — the oracle is the same predicate over the plain
    * table, exactly like q_salted_join's. */
  def qZorderScan(s: SparkSession, d: String): DataFrame =
    graft.sources.ZOrderLayout.lineitemZ(s, d)
      .filter(col("l_partkey") <= 100 && col("l_suppkey") <= 5)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_price"))
      .orderBy("l_returnflag")

  private val qZorderScanSql =
    """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
      |  round(sum(l_quantity), 2) AS sum_qty,
      |  round(sum(l_extendedprice), 2) AS sum_price
      |FROM lineitem
      |WHERE l_partkey <= 100 AND l_suppkey <= 5
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** Several COUNT(DISTINCT ...) over different columns in ONE aggregate —
    * the shape Catalyst plans via a single Expand (each input row fans out
    * once per distinct group, NULL-padded) + two-level aggregation, instead
    * of N self-joined single-distinct aggregates. One lineitem scan, one
    * shuffle; the regular sum rides along in the same pass. */
  def qMultiDistinct(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_orderkey")).as("n_orders"),
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"),
        round(sum("l_quantity"), 2).as("sum_qty"))
      .orderBy("l_returnflag")

  private val qMultiDistinctSql =
    """SELECT l_returnflag,
      |  count(DISTINCT l_orderkey) AS n_orders,
      |  count(DISTINCT l_partkey) AS n_parts,
      |  count(DISTINCT l_suppkey) AS n_supps,
      |  count(*) AS n_rows,
      |  round(sum(l_quantity), 2) AS sum_qty
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** Declarative DATA-QUALITY audit (the Deequ/dbt-test shape every 100 TB
    * ingest runs before publishing a dataset): one row per constraint with
    * its violation count — domain rules, null keys, PK uniqueness,
    * referential integrity, and a cross-table temporal rule. The first
    * three rules share ONE scan (a single aggregate with conditional sums —
    * never one pass per rule); RI is a broadcast-able anti-join count; the
    * temporal rule rides the lineitem⋈orders join. The testdata generator
    * doesn't enforce order-date ≤ ship-date, so that check reports real
    * violations — the audit visibly has teeth. */
  /** q_analyze_stats — OPTIMIZER-GRADE COLUMN STATISTICS in one scan (the
    * ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS equivalent, the
    * stats a cost-based optimizer's CBO joins/filters feed on): per
    * numeric lineitem measure — row count, exact NDV, min, max, and the 7
    * inner EQUI-HEIGHT histogram bounds (octiles). One table scan
    * EXPLODES each row into its 4 (column, value) pairs; everything after
    * runs on the per-column VALUE GRIDS (the textQualityTercile
    * discrete-quantile machinery — cumulative windows over value domains,
    * never a data sort; the quantile pick is the exact multiply-form
    * first-crossing 8·cum ≥ k·n ∧ 8·(cum−cnt) < k·n). Long output format
    * (col_name, stat, v) keeps the schema stable as columns are added.
    * All exact integers. */
  def qAnalyzeStats(s: SparkSession, d: String): DataFrame = {
    val colDefs = Seq("qty" -> "CAST(l_quantity AS BIGINT)",
      "price" -> "CAST(round(l_extendedprice) AS BIGINT)",
      "disc" -> "CAST(round(l_discount * 1000) AS BIGINT)",
      "tax" -> "CAST(round(l_tax * 1000) AS BIGINT)")
    val pairs = colDefs.map { case (n, e) =>
      struct(lit(n).as("col_name"), expr(e).as("v")) }
    val grid = Tables.lineitem(s, d)
      .select(explode(array(pairs: _*)).as("p"))
      .select(col("p.col_name").as("col_name"), col("p.v").as("v"))
      .groupBy("col_name", "v").agg(count(lit(1)).as("cnt"))
      .cache()
    val summary = grid.groupBy("col_name")
      .agg(sum("cnt").as("n"), count(lit(1)).as("ndv"),
        min("v").as("min_v"), max("v").as("max_v"))
    val wc = Window.partitionBy("col_name").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = grid.withColumn("cum", sum("cnt").over(wc))
      .join(summary.select(col("col_name"), col("n")), "col_name")
    val octs = cum
      .crossJoin(broadcast(s.range(1, 8).select(col("id").as("k"))))
      .filter(col("cum") * 8 >= col("k") * col("n") &&
        (col("cum") - col("cnt")) * 8 < col("k") * col("n"))
      .select(col("col_name"),
        concat(lit("oct_"), col("k").cast("string")).as("stat"), col("v"))
    val longStats = summary.select(col("col_name"),
        explode(array(
          struct(lit("n").as("stat"), col("n").as("v")),
          struct(lit("ndv").as("stat"), col("ndv").as("v")),
          struct(lit("min").as("stat"), col("min_v").as("v")),
          struct(lit("max").as("stat"), col("max_v").as("v")))).as("p"))
      .select(col("col_name"), col("p.stat").as("stat"), col("p.v").as("v"))
    longStats.unionByName(octs).orderBy("col_name", "stat")
  }

  private val qAnalyzeStatsSql = {
    val defs = Seq("qty" -> "CAST(l_quantity AS BIGINT)",
      "price" -> "CAST(round(l_extendedprice) AS BIGINT)",
      "disc" -> "CAST(round(l_discount * 1000) AS BIGINT)",
      "tax" -> "CAST(round(l_tax * 1000) AS BIGINT)")
    val unions = defs.map { case (n, e) =>
      s"SELECT '$n' AS col_name, $e AS v FROM lineitem" }
      .mkString("\nUNION ALL\n")
    s"""WITH base AS (
       |$unions
       |), grid AS (
       |  SELECT col_name, v, CAST(count(*) AS BIGINT) AS cnt
       |  FROM base GROUP BY col_name, v
       |), summary AS (
       |  SELECT col_name, CAST(sum(cnt) AS BIGINT) AS n,
       |    CAST(count(*) AS BIGINT) AS ndv,
       |    min(v) AS min_v, max(v) AS max_v
       |  FROM grid GROUP BY col_name
       |), cum AS (
       |  SELECT g.col_name, g.v, g.cnt, s.n,
       |    CAST(sum(g.cnt) OVER (PARTITION BY g.col_name ORDER BY g.v
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |  FROM grid g JOIN summary s ON g.col_name = s.col_name
       |), octs AS (
       |  SELECT c.col_name, 'oct_' || CAST(k.k AS VARCHAR) AS stat, c.v
       |  FROM cum c CROSS JOIN (SELECT unnest(generate_series(1, 7)) AS k) k
       |  WHERE c.cum * 8 >= k.k * c.n AND (c.cum - c.cnt) * 8 < k.k * c.n
       |), longstats AS (
       |  SELECT col_name, 'n' AS stat, n AS v FROM summary
       |  UNION ALL SELECT col_name, 'ndv', ndv FROM summary
       |  UNION ALL SELECT col_name, 'min', min_v FROM summary
       |  UNION ALL SELECT col_name, 'max', max_v FROM summary
       |)
       |SELECT col_name, stat, CAST(v AS BIGINT) AS v FROM longstats
       |UNION ALL
       |SELECT col_name, stat, CAST(v AS BIGINT) AS v FROM octs
       |ORDER BY col_name, stat""".stripMargin
  }

  /** q_benford — BENFORD'S-LAW first-digit audit of order totals: the
    * fraud/fabrication screen auditors run on financial columns (Benford
    * 1938; naturally-generated multi-scale amounts follow
    * P(d) = log10(1+1/d), fabricated ones don't). One conditional-count
    * aggregate to 9 digit rows; expected probabilities are FIXED milli
    * constants embedded identically in both engines (the dctW
    * literal-table trick — no cross-engine log10 to trust), and each
    * digit's χ² contribution is EXACT integer arithmetic via the
    * multiply-through identity (1000·obs − n·p_milli)² div (n·p_milli) —
    * no float sum anywhere, so the total χ² is order-independent. The
    * synthetic generator draws totals from a narrow band, so the audit
    * VISIBLY fails Benford — the screen has teeth, like q_dq_checks'
    * temporal rule. */
  def qBenford(s: SparkSession, d: String): DataFrame = {
    // round(log10(1+1/d)*1000) for d=1..9, fixed shared constants
    val pm = Seq(1 -> 301L, 2 -> 176L, 3 -> 125L, 4 -> 97L, 5 -> 79L,
      6 -> 67L, 7 -> 58L, 8 -> 51L, 9 -> 46L)
    val exp = broadcast(s.createDataFrame(pm).toDF("digit", "p_milli"))
    val obs = Tables.orders(s, d)
      .select(substring(expr(
        "CAST(CAST(round(o_totalprice) AS BIGINT) AS STRING)"), 1, 1)
        .cast("long").as("digit"))
      .filter(col("digit") >= 1)
      .groupBy("digit").agg(count(lit(1)).as("n_obs"))
    val tot = broadcast(obs.agg(sum("n_obs").as("n")))
    obs.join(exp, "digit").crossJoin(tot)
      .select(col("digit"), col("n_obs"),
        expr("(10000 * n_obs) div n").as("obs_bp"),
        (col("p_milli") * 10).as("benford_bp"),
        expr("""((1000 * n_obs - n * p_milli) * (1000 * n_obs - n * p_milli))
                div (n * p_milli)""").as("chi2_contrib_milli"))
      .orderBy("digit")
  }

  private val qBenfordSql = {
    val pmRows = Seq(1 -> 301, 2 -> 176, 3 -> 125, 4 -> 97, 5 -> 79,
      6 -> 67, 7 -> 58, 8 -> 51, 9 -> 46)
      .map { case (d, p) => s"($d, ${p}::BIGINT)" }.mkString(", ")
    s"""WITH exp(digit, p_milli) AS (
       |  VALUES $pmRows
       |), obs AS (
       |  -- TRY_CAST: a negative total's first char is '-', which Spark's
       |  -- cast NULLs (then filters); a hard CAST would make DuckDB raise
       |  SELECT TRY_CAST(substr(CAST(CAST(round(o_totalprice) AS BIGINT)
       |      AS VARCHAR), 1, 1) AS BIGINT) AS digit,
       |    CAST(count(*) AS BIGINT) AS n_obs
       |  FROM orders
       |  GROUP BY 1 HAVING TRY_CAST(substr(CAST(CAST(round(o_totalprice)
       |    AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) >= 1
       |), tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM obs)
       |SELECT o.digit, o.n_obs,
       |  CAST((10000 * o.n_obs) // t.n AS BIGINT) AS obs_bp,
       |  CAST(e.p_milli * 10 AS BIGINT) AS benford_bp,
       |  CAST(((1000 * o.n_obs - t.n * e.p_milli)
       |        * (1000 * o.n_obs - t.n * e.p_milli)) // (t.n * e.p_milli)
       |    AS BIGINT) AS chi2_contrib_milli
       |FROM obs o JOIN exp e ON o.digit = e.digit CROSS JOIN tot t
       |ORDER BY o.digit""".stripMargin
  }

  def qDqChecks(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    // one scan for the three single-table rules: the single aggregate row
    // EXPLODES into its three check rows (a unionByName of three selects
    // would re-evaluate the whole aggregate per branch)
    val nLi = li.agg(
      count(lit(1)).as("n"),
      sum(when(col("l_quantity") <= 0, 1L).otherwise(0L)).as("qty"),
      sum(when(col("l_discount") < 0 || col("l_discount") > 0.1, 1L).otherwise(0L)).as("disc"),
      sum(when(col("l_orderkey").isNull || col("l_partkey").isNull ||
        col("l_suppkey").isNull, 1L).otherwise(0L)).as("nullkey"))
      .select(explode(array(
        struct(lit("lineitem.quantity_positive").as("check"),
          col("qty").cast("long").as("n_violations"), col("n").cast("long").as("n_checked")),
        struct(lit("lineitem.discount_in_range").as("check"),
          col("disc").cast("long").as("n_violations"), col("n").cast("long").as("n_checked")),
        struct(lit("lineitem.keys_not_null").as("check"),
          col("nullkey").cast("long").as("n_violations"), col("n").cast("long").as("n_checked"))))
        .as("r"))
      .select("r.*")
    val dupPk = o.agg(
      count(lit(1)).as("n"),
      (count(lit(1)) - countDistinct(col("o_orderkey"))).as("dup"))
    val orphan = li.join(o, col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("viol"))
      .crossJoin(broadcast(li.agg(count(lit(1)).as("n"))))
    val shipBefore = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("l_shipdate") < col("o_orderdate"), 1L).otherwise(0L)).as("viol"))
    def row(name: String, viol: org.apache.spark.sql.Column,
        n: org.apache.spark.sql.Column) = Seq(
      lit(name).as("check"), viol.cast("long").as("n_violations"),
      n.cast("long").as("n_checked"))
    nLi
      .unionByName(dupPk.select(row("orders.orderkey_unique", col("dup"), col("n")): _*))
      .unionByName(orphan.select(row("lineitem.orderkey_ri", col("viol"), col("n")): _*))
      .unionByName(shipBefore.select(row("lineitem.ship_after_orderdate", col("viol"), col("n")): _*))
      .orderBy("check")
  }

  private val qDqChecksSql =
    """WITH li AS (
      |  SELECT count(*) AS n,
      |    CAST(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS qty,
      |    CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS disc,
      |    CAST(sum(CASE WHEN l_orderkey IS NULL OR l_partkey IS NULL
      |                    OR l_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nullkey
      |  FROM lineitem
      |), o AS (
      |  SELECT count(*) AS n,
      |    count(*) - count(DISTINCT o_orderkey) AS dup
      |  FROM orders
      |), orphan AS (
      |  SELECT (SELECT count(*) FROM lineitem l
      |          WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l.l_orderkey)) AS viol,
      |         (SELECT count(*) FROM lineitem) AS n
      |), ship AS (
      |  SELECT count(*) AS n,
      |    CAST(sum(CASE WHEN l_shipdate < o_orderdate THEN 1 ELSE 0 END) AS BIGINT) AS viol
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |)
      |SELECT 'lineitem.quantity_positive' AS check, qty AS n_violations, n AS n_checked FROM li
      |UNION ALL SELECT 'lineitem.discount_in_range', disc, n FROM li
      |UNION ALL SELECT 'lineitem.keys_not_null', nullkey, n FROM li
      |UNION ALL SELECT 'orders.orderkey_unique', dup, n FROM o
      |UNION ALL SELECT 'lineitem.orderkey_ri', viol, n FROM orphan
      |UNION ALL SELECT 'lineitem.ship_after_orderdate', viol, n FROM ship
      |ORDER BY "check"""".stripMargin

  /** CUBE (full grouping-sets lattice) over (returnflag, linestatus),
    * written as union-of-levels re-aggregation from ONE base aggregate:
    * the (rf, ls) level scans lineitem once, the three coarser levels
    * re-aggregate the tiny base — the exact partial-agg reuse a GROUPING
    * SETS plan does, minus Spark 4.1's Dataset.cube ambiguous-self-join
    * false positive (same trap as rollup, see qRollup). Quantities are
    * integer-valued doubles, so the long cast is exact cross-engine. */
  def qCube(s: SparkSession, d: String): DataFrame = {
    val base = Tables.lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), sum("l_quantity").as("q"))
    val byRf = base.groupBy("l_returnflag")
      .agg(lit(null).cast("string").as("l_linestatus"), sum("n").as("n"), sum("q").as("q"))
      .select("l_returnflag", "l_linestatus", "n", "q")
    val byLs = base.groupBy("l_linestatus")
      .agg(sum("n").as("n"), sum("q").as("q"))
      .select(lit(null).cast("string").as("l_returnflag"), col("l_linestatus"),
        col("n"), col("q"))
    val grand = base.agg(sum("n").as("n"), sum("q").as("q"))
      .select(lit(null).cast("string").as("l_returnflag"),
        lit(null).cast("string").as("l_linestatus"), col("n"), col("q"))
    base.unionByName(byRf).unionByName(byLs).unionByName(grand)
      .select(col("l_returnflag"), col("l_linestatus"),
        col("n").as("n_items"), col("q").cast("long").as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
  }

  private val qCubeSql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(count(*) AS BIGINT) AS n_items,
      |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty
      |FROM lineitem
      |GROUP BY CUBE(l_returnflag, l_linestatus)
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  /** Band (range) join via bin bucketing: for each part, how many other
    * parts are priced within ±50 cents, and the exact sum of the gaps.
    *
    * A naive theta-join (`abs(a.price - b.price) <= band`) has no equi-key,
    * so Spark would plan a BroadcastNestedLoopJoin — O(n²) compares and a
    * guaranteed 100 TB death. The scale form bins the join dimension at the
    * band width: a row can only have band-mates in its own or the two
    * neighboring bins, so replicating ONE side ×3 (explode over bin-1..bin+1)
    * turns the range join into an EQUI-join on the bin id — shuffle/hash
    * join, linear in candidates, skew handled by AQE. Each candidate pair
    * meets exactly once (the probe bins are distinct). PlanSpec asserts no
    * nested-loop join survives in the plan.
    *
    * All arithmetic in exact integer cents (`round(price*100)::BIGINT`) —
    * double subtraction at the band boundary is not cross-engine-stable,
    * integer compare is. Oracle: DuckDB's native IEJoin on the same
    * predicate (its own scale path for inequality joins). */
  def qRangeJoinBinned(s: SparkSession, d: String): DataFrame = {
    val bandCents = 50L
    val c = Tables.part(s, d)
      .select(col("p_partkey"),
        round(col("p_retailprice") * 100).cast("long").as("cents"))
      .withColumn("bin", expr(s"cents div $bandCents"))
    val probes = c.select(col("p_partkey").as("b_key"), col("cents").as("b_cents"),
        explode(array(col("bin") - 1, col("bin"), col("bin") + 1)).as("probe_bin"))
    c.join(probes,
        col("bin") === col("probe_bin") &&
          col("p_partkey") =!= col("b_key") &&
          abs(col("cents") - col("b_cents")) <= bandCents)
      .groupBy("p_partkey")
      .agg(count(lit(1)).as("n_close"),
        sum(abs(col("cents") - col("b_cents"))).as("sum_gap_cents"))
      .orderBy("p_partkey")
  }

  private val qRangeJoinBinnedSql =
    """WITH c AS (
      |  SELECT p_partkey, CAST(round(p_retailprice * 100) AS BIGINT) AS cents
      |  FROM part
      |)
      |SELECT a.p_partkey,
      |  CAST(count(*) AS BIGINT) AS n_close,
      |  CAST(sum(abs(a.cents - b.cents)) AS BIGINT) AS sum_gap_cents
      |FROM c a JOIN c b
      |  ON a.p_partkey <> b.p_partkey AND abs(a.cents - b.cents) <= 50
      |GROUP BY a.p_partkey
      |ORDER BY a.p_partkey""".stripMargin

  /** Time-interval window aggregate: per event, the user's trailing-10-minute
    * event count and value sum — RANGE BETWEEN (time-based frame), distinct
    * from q_window_running's ROWS frame. One shuffle on user_id; the
    * user_id < 20 filter pushes down to the parquet scan so only those
    * users' rows are ever read. Values summed in exact integer cents: a
    * per-frame double sum re-associates differently across engines. */
  def qWindowTimeRange(s: SparkSession, d: String): DataFrame = {
    import graft.functions.TimeFunctions.nsToMs
    val w = Window.partitionBy("user_id").orderBy("ts_ms")
      .rangeBetween(-600000L, Window.currentRow)
    Tables.events(s, d)
      .filter(col("user_id") < 20)
      .select(col("event_id"), col("user_id"), nsToMs("ts").as("ts_ms"),
        round(col("value") * 100).cast("long").as("val_cents"))
      .select(col("event_id"), col("user_id"), col("ts_ms"),
        count(lit(1)).over(w).as("ev_cnt_10m"),
        sum(col("val_cents")).over(w).as("val_cents_10m"))
      .orderBy("user_id", "ts_ms", "event_id")
  }

  private val qWindowTimeRangeSql =
    """WITH e AS (
      |  SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
      |    CAST(round(value * 100) AS BIGINT) AS val_cents
      |  FROM events WHERE user_id < 20
      |)
      |SELECT event_id, user_id, ts_ms,
      |  CAST(count(*) OVER w AS BIGINT) AS ev_cnt_10m,
      |  CAST(sum(val_cents) OVER w AS BIGINT) AS val_cents_10m
      |FROM e
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms
      |  RANGE BETWEEN 600000 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, ts_ms, event_id""".stripMargin

  /** Arbitrary (non-hierarchical) GROUPING SETS — the lattice rollup and
    * cube can't express: {(nation, year), (nation), (year, priority), ()}.
    * Same union-of-levels plan as rollup/cube: ONE base aggregate on the
    * union of keys (cached — at 100 TB you checkpoint it), each set a
    * re-aggregation of base-agg rows, never a second fact scan. grp_id
    * carries the standard grouping bitmask (bit set = column aggregated
    * away) so consumers — and the hash compare — never confuse a grouping
    * null with a data null. Oracle is DuckDB's native GROUP BY GROUPING
    * SETS with GROUPING(). */
  def qGroupingSets(s: SparkSession, d: String): DataFrame = {
    val cents = round(col("o_totalprice") * 100).cast("long")
    val base = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), year(col("o_orderdate")).cast("long").as("yr"),
        col("o_orderpriority").as("prio"), cents.as("cents"))
      .groupBy("n_name", "yr", "prio")
      .agg(count(lit(1)).as("c"), sum("cents").as("b"))
      .cache()
    val nullS = lit(null).cast("string")
    val nullL = lit(null).cast("long")
    val ny = base.groupBy("n_name", "yr")
      .agg(sum("c").as("c"), sum("b").as("b"))
      .select(col("n_name"), col("yr"), nullS.as("prio"), lit(1L).as("grp_id"),
        col("c"), col("b"))
    val n = base.groupBy("n_name")
      .agg(sum("c").as("c"), sum("b").as("b"))
      .select(col("n_name"), nullL.as("yr"), nullS.as("prio"), lit(3L).as("grp_id"),
        col("c"), col("b"))
    val yp = base.groupBy("yr", "prio")
      .agg(sum("c").as("c"), sum("b").as("b"))
      .select(nullS.as("n_name"), col("yr"), col("prio"), lit(4L).as("grp_id"),
        col("c"), col("b"))
    val g = base.agg(sum("c").as("c"), sum("b").as("b"))
      .select(nullS.as("n_name"), nullL.as("yr"), nullS.as("prio"), lit(7L).as("grp_id"),
        col("c"), col("b"))
    ny.unionByName(n).unionByName(yp).unionByName(g)
      .select(col("n_name"), col("yr"), col("prio"), col("grp_id"),
        col("c").as("n_orders"), col("b").as("total_cents"))
      .orderBy(col("grp_id").asc, col("n_name").asc_nulls_first,
        col("yr").asc_nulls_first, col("prio").asc_nulls_first)
  }

  private val qGroupingSetsSql =
    """SELECT n_name, yr, prio,
      |  CAST(GROUPING(n_name, yr, prio) AS BIGINT) AS grp_id,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(cents) AS BIGINT) AS total_cents
      |FROM (
      |  SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS yr,
      |    o_orderpriority AS prio,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation   ON c_nationkey = n_nationkey
      |) t
      |GROUP BY GROUPING SETS ((n_name, yr), (n_name), (yr, prio), ())
      |ORDER BY grp_id, n_name NULLS FIRST, yr NULLS FIRST, prio NULLS FIRST""".stripMargin

  /** The window DISTRIBUTION-function family (percent_rank, cume_dist) —
    * the rank-normalizing complement of q_window_running's
    * row_number/ntile/lag: each customer's balance position within its
    * market segment as exact basis points. The oracle states it with the
    * window functions; the plan does NOT — partitioning only by
    * c_mktsegment (~5 values) would sort n/5 of the customer table on one
    * task. Instead the q_mannwhitney count-grid identity: ranks from
    * CUMULATIVE COUNTS over the (segment × bal_cents) grid, which is
    * bounded by the VALUE DOMAIN (≤ ~1.1M distinct cents), not the row
    * count. The ordering key carries a custkey tie-break so ranks are
    * total: rank = (#rows below my balance in my segment, from the grid)
    * + (my row_number within the tie group — a window partitioned at
    * (segment, balance) grain, reused as the join key so the rows shuffle
    * ONCE). percent_rank = (rank−1)/(n−1) and cume_dist = rank/n (peers
    * are single rows under the total order) — the identical rationals the
    * window functions compute, one correctly-rounded IEEE division each,
    * so the ×10000 quantization matches bit-exactly. */
  def qWindowDistribution(s: SparkSession, d: String): DataFrame = {
    val rows = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment"),
        round(col("c_acctbal") * 100).cast("long").as("bal_cents"))
    val grid = rows.groupBy("c_mktsegment", "bal_cents")
      .agg(count(lit(1)).as("c"))
    val wg = Window.partitionBy("c_mktsegment").orderBy("bal_cents")
      .rowsBetween(Window.unboundedPreceding, -1)
    val below = grid.withColumn("below", coalesce(sum("c").over(wg), lit(0L)))
      .select("c_mktsegment", "bal_cents", "below")
    val segN = grid.groupBy("c_mktsegment").agg(sum("c").as("n")) // ~5 rows
    val wTie = Window.partitionBy("c_mktsegment", "bal_cents")
      .orderBy("c_custkey")
    rows
      .withColumn("tie_rn", row_number().over(wTie).cast("long"))
      .join(below, Seq("c_mktsegment", "bal_cents"))
      .join(broadcast(segN), Seq("c_mktsegment"))
      .withColumn("rk", col("below") + col("tie_rn"))
      .withColumn("pr_bp",
        when(col("n") === 1, lit(0L)).otherwise(
          round((col("rk") - 1).cast("double") / (col("n") - 1).cast("double")
            * 10000).cast("long")))
      .withColumn("cd_bp",
        round(col("rk").cast("double") / col("n").cast("double") * 10000)
          .cast("long"))
      .select("c_custkey", "c_mktsegment", "bal_cents", "pr_bp", "cd_bp")
      .orderBy("c_mktsegment", "bal_cents", "c_custkey")
  }

  private val qWindowDistributionSql =
    """SELECT c_custkey, c_mktsegment,
      |  CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents,
      |  CAST(round(percent_rank() OVER w * 10000) AS BIGINT) AS pr_bp,
      |  CAST(round(cume_dist() OVER w * 10000) AS BIGINT) AS cd_bp
      |FROM customer
      |WINDOW w AS (PARTITION BY c_mktsegment
      |  ORDER BY CAST(round(c_acctbal * 100) AS BIGINT), c_custkey)
      |ORDER BY c_mktsegment, bal_cents, c_custkey""".stripMargin

  /** q_skyline — 2D SKYLINE / Pareto-frontier query (Börzsönyi et al. 2001):
    * the parts not dominated on (retail price, size) — no other part is at
    * most as expensive AND at most as large while strictly better in one.
    * The multi-objective "best tradeoff" operator classic optimizers lack.
    *
    * Scale design: the textbook NOT-EXISTS form is an O(n²) theta self-join
    * (that form is the ORACLE, not the plan). Here domination decomposes by
    * PRICE BUCKET so nothing global ever sorts:
    *   1. within-bucket: a RANGE-frame window (partition by bucket, order by
    *      price) gives min(size) over strictly-cheaper same-bucket rows, and
    *      a (bucket, price)-partition min catches equal-price-smaller-size;
    *   2. cross-bucket: every row of a strictly lower bucket is strictly
    *      cheaper, so only the BUCKET-GRAIN running min of size crosses
    *      buckets — a ≤n_buckets-row relation, windowed and broadcast back.
    * Equal (price, size) pairs are incomparable ⇒ both kept (standard
    * skyline tie semantics). Price in exact integer cents both engines.
    * At 100 TB: buckets are the partition key; the bucket-summary window is
    * driver-scale metadata. */
  def qSkyline(s: SparkSession, d: String): DataFrame = {
    val pts = Tables.part(s, d).select(
      col("p_partkey"),
      round(col("p_retailprice") * 100).cast("long").as("price_cents"),
      col("p_size").cast("long").as("size"))
      .withColumn("bucket", floor(col("price_cents") / lit(10000L)).cast("long"))
    val inBucket = Window.partitionBy("bucket").orderBy("price_cents")
      .rangeBetween(Window.unboundedPreceding, -1)
    val atPrice = Window.partitionBy("bucket", "price_cents")
    val bucketMin = pts.groupBy("bucket")
      .agg(min("size").as("bmin"))
    val wB = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    val lowerMin = bucketMin
      .withColumn("lower_min", min("bmin").over(wB))
      .select("bucket", "lower_min")
    pts
      .withColumn("m_cheaper", min("size").over(inBucket))
      .withColumn("m_same", min("size").over(atPrice))
      .join(broadcast(lowerMin), Seq("bucket"))
      .filter(
        (col("m_cheaper").isNull || col("m_cheaper") > col("size")) &&
          col("m_same") === col("size") &&
          (col("lower_min").isNull || col("lower_min") > col("size")))
      .select("p_partkey", "price_cents", "size")
      .orderBy("price_cents", "size", "p_partkey")
  }

  private val qSkylineSql =
    """WITH pts AS (
      |  SELECT p_partkey, CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
      |    CAST(p_size AS BIGINT) AS size
      |  FROM part
      |)
      |SELECT p.p_partkey, p.price_cents, p.size
      |FROM pts p
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM pts q
      |  WHERE q.price_cents <= p.price_cents AND q.size <= p.size
      |    AND (q.price_cents < p.price_cents OR q.size < p.size))
      |ORDER BY price_cents, size, p_partkey""".stripMargin

  /** Decile lift table (the gains chart of direct-marketing analytics):
    * customers ranked by total spend, cut into 10 equal-frequency buckets
    * (ntile(10) semantics: the first n%10 buckets take one extra row), each
    * decile reporting its size, spend, and CUMULATIVE revenue share in
    * basis points. Exact integer cents; ties broken deterministically by
    * custkey. The oracle states it with a global `ntile` — the plan does
    * NOT: a global ntile is a single-partition sort of the whole customer
    * relation (`WindowExec` with no partition spec), the classic 100 TB
    * killer. Instead, exact DISTRIBUTED ranking:
    *   1. range-shuffle the customer-grain spend relation into contiguous
    *      slices of the (cents DESC, custkey) order (`repartitionByRange` —
    *      sampled balanced bounds, equal keys co-located);
    *   2. rank locally within each slice (window partitioned by slice id —
    *      every task sorts only its ~n/P rows);
    *   3. global rank = local rank + the broadcast cumulative offset of the
    *      preceding slices (a ≤P-row relation);
    *   4. decile = closed-form ntile arithmetic on (rank, n) — no second
    *      window over the data.
    * The decile summary itself is a 10-row aggregate. Rank is exact (total
    * order, custkey tie-break), so this matches the oracle's ntile
    * bit-for-bit while every window runs partitioned. */
  def qDecileLift(s: SparkSession, d: String): DataFrame = {
    val spend = Tables.orders(s, d)
      .groupBy("o_custkey")
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
    val sliced = spend
      .repartitionByRange(32, col("cents").desc, col("o_custkey").asc)
      .withColumn("slice", spark_partition_id().cast("long"))
    val counts = sliced.groupBy("slice").agg(count(lit(1)).as("c"))
    val wOff = Window.orderBy("slice").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts // ≤ 32 rows: slice → rows ahead of it, global n
      .withColumn("off", coalesce(sum("c").over(wOff), lit(0L)))
      .withColumn("n", sum("c").over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select("slice", "off", "n")
    val wLocal = Window.partitionBy("slice")
      .orderBy(col("cents").desc, col("o_custkey").asc)
    val tiles = sliced
      .withColumn("lrn", row_number().over(wLocal).cast("long"))
      .join(broadcast(offsets), Seq("slice"))
      .withColumn("rk", col("off") + col("lrn"))
      .withColumn("decile", expr(
        """CASE WHEN n < 10 THEN rk
          |     WHEN rk <= (n % 10) * (n DIV 10 + 1)
          |       THEN (rk - 1) DIV (n DIV 10 + 1) + 1
          |     ELSE n % 10 + (rk - (n % 10) * (n DIV 10 + 1) - 1) DIV (n DIV 10) + 1
          |END""".stripMargin))
    val per = tiles.groupBy("decile")
      .agg(count(lit(1)).as("n_customers"), sum("cents").as("decile_cents"))
    val wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    per
      .withColumn("cum_cents", sum("decile_cents").over(wc))
      .withColumn("total_cents", sum("decile_cents").over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("cum_share_bp", expr("(10000 * cum_cents) div total_cents"))
      .select("decile", "n_customers", "decile_cents", "cum_share_bp")
      .orderBy("decile")
  }

  private val qDecileLiftSql =
    """WITH spend AS (
      |  SELECT o_custkey,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders GROUP BY o_custkey
      |), tiles AS (
      |  SELECT cents,
      |    CAST(ntile(10) OVER (ORDER BY cents DESC, o_custkey) AS BIGINT) AS decile
      |  FROM spend
      |), per AS (
      |  SELECT decile, CAST(count(*) AS BIGINT) AS n_customers,
      |    CAST(sum(cents) AS BIGINT) AS decile_cents
      |  FROM tiles GROUP BY decile
      |)
      |SELECT decile, n_customers, decile_cents,
      |  CAST((10000 * CAST(sum(decile_cents) OVER (ORDER BY decile
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT))
      |    // CAST(sum(decile_cents) OVER () AS BIGINT) AS BIGINT) AS cum_share_bp
      |FROM per ORDER BY decile""".stripMargin

  val all: Seq[Q] = Seq(
    Q("q_kmv_union", qKmvUnion, Some(qKmvUnionSql)),
    Q("q_decile_lift", qDecileLift, Some(qDecileLiftSql)),
    Q("q_skyline", qSkyline, Some(qSkylineSql)),
    Q("q_grouping_sets", qGroupingSets, Some(qGroupingSetsSql)),
    Q("q_window_distribution", qWindowDistribution, Some(qWindowDistributionSql)),
    Q("q_histogram_quantiles", qHistogramQuantiles, Some(qHistogramQuantilesSql)),
    Q("q_kmv_distinct", qKmvDistinct, Some(qKmvDistinctSql)),
    Q("q_robust_stats", qRobustStats, Some(qRobustStatsSql)),
    Q("q_pivot", qPivot, Some(qPivotSql)),
    Q("q_describe", qDescribe, Some(qDescribeSql)),
    Q("q_window_running", qWindowRunning, Some(qWindowRunningSql)),
    Q("q_outer_join_fill", qOuterJoinFill, Some(qOuterJoinFillSql)),
    Q("q_correlated_avg", qCorrelatedAvg, Some(qCorrelatedAvgSql)),
    Q("q_set_ops", qSetOps, Some(qSetOpsSql)),
    Q("q_set_ops_all", qSetOpsAll, Some(qSetOpsAllSql)),
    Q("q_unpivot", qUnpivot, Some(qUnpivotSql)),
    Q("q_chi2", qChi2, Some(qChi2Sql)),
    Q("q1_pricing_summary", q1PricingSummary, Some(q1Sql)),
    Q("q2_min_cost_supplier", q2MinCostSupplier, Some(q2MinCostSupplierSql)),
    Q("q3_top_orders", q3TopOrders, Some(q3Sql)),
    Q("q5_region_volume", q5RegionVolume, Some(q5Sql)),
    Q("q_market_share", qMarketShare, Some(qMarketShareSql)),
    Q("q3_bucketed", q3Bucketed, Some(q3Sql)),
    Q("q5_bucketed", q5Bucketed, Some(q5Sql)),
    Q("q_market_share_bucketed", qMarketShareBucketed, Some(qMarketShareSql)),
    Q("q_zorder_scan", qZorderScan, Some(qZorderScanSql)),
    Q("q_dq_checks", qDqChecks, Some(qDqChecksSql)),
    Q("q_benford", qBenford, Some(qBenfordSql)),
    Q("q_analyze_stats", qAnalyzeStats, Some(qAnalyzeStatsSql)),
    Q("q_multi_distinct", qMultiDistinct, Some(qMultiDistinctSql)),
    Q("q_top_customer_per_nation", qTopCustomerPerNation, Some(qTopCustomerPerNationSql)),
    Q("q_rollup", qRollup, Some(qRollupSql)),
    Q("q_semi_anti", qSemiAnti, Some(qSemiAntiSql)),
    Q("q_orders_enriched", qOrdersEnriched, Some(qOrdersEnrichedSql)),
    Q("q_percentiles", qPercentiles, Some(qPercentilesSql)),
    Q("q_approx_distinct", qApproxDistinct, Some(qApproxDistinctSql)),
    Q("q_range_join_binned", qRangeJoinBinned, Some(qRangeJoinBinnedSql)),
    Q("q_window_time_range", qWindowTimeRange, Some(qWindowTimeRangeSql)),
    Q("q_cube", qCube, Some(qCubeSql))
  )
}
