package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Skew-aware joins. AQE's skew-join handling covers sort-merge joins at
  * runtime; explicit salting is the deterministic plan-level tool when one
  * key dominates (the classic 100 TB failure mode: one hot user/key pins a
  * single reducer for hours).
  *
  * `saltedJoin` splits each hot fact key across `saltFactor` reducers and
  * replicates the (small) dim side per salt — result is identical to the
  * plain join, verified both by the DuckDB oracle (plain SQL join) and
  * SkewSpec.
  */
object Skew {

  /** Bloom-filter SEMI-JOIN REDUCTION: prune the fact side against a compact
    * membership summary of the dim keys BEFORE the join — the classic
    * distributed-join optimization (runtime filters in warehouses; Spark's
    * own InjectRuntimeFilter) made explicit and engine-portable. The "bloom
    * filter" is k=4 bit positions per key over a 2^16-bit space, derived
    * from md5 nibbles; it is represented RELATIONALLY as the broadcast
    * distinct-positions set, and a fact key survives iff all 4 of its
    * positions are set (exactly a Bloom membership test, false positives
    * included). Survivors are then EXACTLY verified against the dim, so the
    * result is precise and oracled against the plain semi-join SQL.
    *
    * Scale story: the bloom test runs on the DISTINCT fact keys (narrow)
    * against a broadcast position set, so the wide fact shuffle happens only
    * for keys that pass — at 100 TB that is the difference between shuffling
    * the whole fact table and shuffling the selective slice. SkewSpec
    * asserts the pruning actually bites (candidates ≪ distinct keys). */
  def qBloomSemiPrune(s: SparkSession, d: String): DataFrame = {
    def positions(key: Column): Column = array((0 until 4).map(j =>
      pmod(conv(substring(md5(key.cast("string")), 4 * j + 1, 4), 16, 10)
        .cast("long"), lit(65536L))): _*)
    val dim = Tables.supplier(s, d)
      .filter(col("s_nationkey") < 5).select(col("s_suppkey"))
    val dimPos = dim
      .select(explode(positions(col("s_suppkey"))).as("pos")).distinct()
    val factKeys = Tables.lineitem(s, d).select(col("l_suppkey")).distinct()
    val candidates = factKeys
      .select(col("l_suppkey"), posexplode(positions(col("l_suppkey")))
        .as(Seq("j", "pos")))
      .join(broadcast(dimPos), "pos")
      .groupBy("l_suppkey").agg(count(lit(1)).as("hits"))
      .filter(col("hits") === 4)
    // exact verification of the bloom survivors, then the pruned fact join
    val verified = candidates
      .join(broadcast(dim), col("l_suppkey") === col("s_suppkey"))
      .select("l_suppkey")
    Tables.lineitem(s, d)
      .join(broadcast(verified), "l_suppkey")
      .groupBy(year(col("l_shipdate")).cast("long").as("ship_year"))
      .agg(count(lit(1)).as("n_items"),
        sum(round(col("l_extendedprice") * 100, 0).cast("long")).as("rev_cents"))
      .orderBy("ship_year")
  }

  private val qBloomSemiPruneSql =
    """SELECT CAST(year(l_shipdate) AS BIGINT) AS ship_year,
      |  count(*) AS n_items,
      |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
      |FROM lineitem
      |WHERE l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_nationkey < 5)
      |GROUP BY 1 ORDER BY ship_year""".stripMargin


  /** Inner-join fact to a small dim with the fact side salted.
    * The salt must depend only on intra-row data (here: a hash of the fact's
    * whole key + a rotating component) so it's deterministic and uniform. */
  def saltedJoin(
      fact: DataFrame,
      dim: DataFrame,
      factKey: String,
      dimKey: String,
      saltFactor: Int,
      saltSource: Column): DataFrame = {
    val salted = fact.withColumn("_salt", pmod(xxhash64(saltSource), lit(saltFactor)))
    val replicated = dim.withColumn("_salt",
      explode(array((0 until saltFactor).map(i => lit(i.toLong)): _*)))
    salted.join(replicated,
      salted(factKey) === replicated(dimKey) && salted("_salt") === replicated("_salt"))
      .drop("_salt")
  }

  /** events ⋈ customer on user_id via the salted path, then aggregate.
    * Must produce exactly what the plain join produces (the oracle IS the
    * plain join). */
  def qSaltedJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val cust = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment"))
    saltedJoin(ev, cust, "user_id", "c_custkey", 8, col("event_id"))
      .groupBy("c_mktsegment")
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        round(sum("value"), 2).as("total_value"))
      .orderBy("c_mktsegment")
  }

  private val qSaltedJoinSql =
    """SELECT c_mktsegment,
      |  count(*) AS n_events,
      |  count(DISTINCT user_id) AS n_users,
      |  round(sum(value), 2) AS total_value
      |FROM events
      |JOIN customer ON user_id = c_custkey
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** Two-phase SALTED AGGREGATION: the skew tool for aggregates (salted
    * joins fix joins; a hot GROUP BY key still pins one reducer during the
    * final aggregate). Phase 1 aggregates on (key, salt) — the hot key's
    * rows spread over `saltFactor` reducers; phase 2 re-aggregates the tiny
    * per-salt partials by key. Orders' o_orderstatus is 3-valued, the
    * worst-case skew shape. Every aggregate here re-composes exactly
    * (count→sum, sum→sum, min→min); value sums in exact integer cents.
    * Oracle = the plain single-phase GROUP BY. */
  def qSaltedAgg(s: SparkSession, d: String): DataFrame = {
    val saltFactor = 16
    Tables.orders(s, d)
      .withColumn("_salt", pmod(xxhash64(col("o_orderkey")), lit(saltFactor)))
      .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
      .groupBy(col("o_orderstatus"), col("_salt"))
      .agg(count(lit(1)).as("pn"), sum("cents").as("ps"), min("cents").as("pm"))
      .groupBy("o_orderstatus")
      .agg(sum("pn").as("n_orders"), sum("ps").as("total_cents"),
        min("pm").as("min_cents"))
      .orderBy("o_orderstatus")
  }

  private val qSaltedAggSql =
    """SELECT o_orderstatus,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents,
      |  CAST(min(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS min_cents
      |FROM orders
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  /** JOIN-KEY SKEW PROFILE — the measurement that decides whether the
    * salted/bloom plans in this file are needed at all: per-key count
    * distribution of the fact table's join key (events.user_id) reduced to
    * the operational numbers a shuffle planner reads — key/row counts, the
    * hottest key's absolute count and basis-point share, discrete p50/p99
    * per-key counts, and skew_x100 = max/avg ×100 (100 = perfectly
    * uniform). The pre-flight audit every 100 TB join deserves: a
    * skew_x100 in the thousands says "salt or AQE-skew-join this key"
    * BEFORE one reducer pins for hours.
    *
    * Scale shape: one hash-aggregate to per-key counts (the only
    * data-sized step, map-side partial), then a COUNTS-OF-COUNTS grid —
    * the cumulative window runs over distinct count VALUES (bounded
    * metadata, the textQualityTercile discrete-quantile machinery), never
    * a sort of keys. All-integer arithmetic; quantiles in exact
    * multiply-form ceil compares. */
  def qSkewProfile(s: SparkSession, d: String): DataFrame = {
    val perKey = Tables.events(s, d).groupBy("user_id").agg(count(lit(1)).as("c"))
    val grid = perKey.groupBy("c").agg(count(lit(1)).as("n_keys"))
    val tot = grid.agg(sum("n_keys").as("nk"),
      sum(col("c") * col("n_keys")).as("n_rows"), max("c").as("max_c"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("c")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    grid.withColumn("cum", sum("n_keys").over(w))
      .crossJoin(broadcast(tot))
      .agg(max("nk").as("n_keys"), max("n_rows").as("n_rows"),
        max("max_c").as("max_c"),
        min(when(col("cum") * 2 >= col("nk"), col("c"))).as("p50_c"),
        min(when(col("cum") * 100 >= col("nk") * 99, col("c"))).as("p99_c"))
      .select(col("n_keys"), col("n_rows"), col("max_c"), col("p50_c"), col("p99_c"),
        expr("(10000 * max_c) div n_rows").as("top_key_share_bp"),
        expr("(100 * max_c * n_keys) div n_rows").as("skew_x100"))
  }

  private val qSkewProfileSql =
    """WITH pk AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS c FROM events GROUP BY user_id
      |), grid AS (
      |  SELECT c, CAST(count(*) AS BIGINT) AS n_keys FROM pk GROUP BY c
      |), tot AS (
      |  SELECT CAST(sum(n_keys) AS BIGINT) AS nk,
      |    CAST(sum(c * n_keys) AS BIGINT) AS n_rows,
      |    CAST(max(c) AS BIGINT) AS max_c
      |  FROM grid
      |), cum AS (
      |  SELECT c, CAST(sum(n_keys) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING)
      |    AS BIGINT) AS cum
      |  FROM grid
      |), q AS (
      |  SELECT CAST(min(CASE WHEN cum * 2 >= nk THEN c END) AS BIGINT) AS p50_c,
      |    CAST(min(CASE WHEN cum * 100 >= nk * 99 THEN c END) AS BIGINT) AS p99_c
      |  FROM cum CROSS JOIN tot
      |)
      |SELECT nk AS n_keys, n_rows, max_c, p50_c, p99_c,
      |  CAST((10000 * max_c) // n_rows AS BIGINT) AS top_key_share_bp,
      |  CAST((100 * max_c * nk) // n_rows AS BIGINT) AS skew_x100
      |FROM tot CROSS JOIN q""".stripMargin

  /** SELF-JOIN SIZE ESTIMATION from a mergeable sketch — the other number
    * a shuffle planner wants next to q_skew_profile's max-key share: F₂ =
    * Σ_k c(k)², the exact row count of the key's self-join (what a
    * user_id⋈user_id pair operator — sessionize pairs, co-visit counts —
    * would materialize). The estimate is the COUNT-MIN INNER PRODUCT
    * (Cormode–Muthukrishnan 2005; the sketched second-moment idea of
    * Alon–Matias–Szegedy 1996): min over the d=4 hash rows of Σ_b cell² on
    * the same 4×256 counter grid textCmsFreq uses. Never an underestimate;
    * collision mass inflates it and the query REPORTS that error in basis
    * points next to the exact number — the measure-don't-guess contract.
    * At 100 TB the grid is the only state: mergeable by addition (map-side
    * partials are sub-sketches), 1 KB per partition, no per-key state —
    * the exact Σc² needs the full per-key aggregate this sketch avoids.
    * Portable md5-prefix hashing ⇒ the approximate structure is
    * hash-exactly oracled. */
  def qJoinSizeEstimate(s: SparkSession, d: String): DataFrame = {
    val depth = 4
    val keys = Tables.events(s, d).select(col("user_id").cast("string").as("k"))
    def bucket(j: Int, k: Column): Column =
      conv(substring(md5(concat(lit(s"js$j:"), k)), 1, 2), 16, 10).cast("long")
    val exact = keys.groupBy("k").agg(count(lit(1)).as("c"))
      .agg(sum(col("c") * col("c")).as("exact_f2"),
        count(lit(1)).as("n_keys"))
    val grid = keys
      .select(explode(array((0 until depth).map(j =>
        struct(lit(j.toLong).as("j"), bucket(j, col("k")).as("b"))): _*)).as("jb"))
      .groupBy(col("jb.j").as("j"), col("jb.b").as("b"))
      .agg(count(lit(1)).as("c"))
    val est = grid.groupBy("j").agg(sum(col("c") * col("c")).as("f2j"))
      .agg(min("f2j").as("est_f2"))
    exact.crossJoin(broadcast(est))
      .select(col("n_keys"), col("exact_f2"), col("est_f2"),
        expr("(10000 * (est_f2 - exact_f2)) div exact_f2").as("overest_bp"))
  }

  private val qJoinSizeEstimateSql: String = {
    s"""WITH k AS (
       |  SELECT CAST(user_id AS VARCHAR) AS k FROM events
       |), exact AS (
       |  SELECT CAST(sum(c * c) AS BIGINT) AS exact_f2,
       |    CAST(count(*) AS BIGINT) AS n_keys
       |  FROM (SELECT k, CAST(count(*) AS BIGINT) AS c FROM k GROUP BY k)
       |), hashed AS (
       |  SELECT j.j, md5('js' || j.j || ':' || k) AS h
       |  FROM k CROSS JOIN (VALUES (0), (1), (2), (3)) AS j(j)
       |), grid AS (
       |  SELECT j, ${OracleSql.hexPrefix("h", 2)} AS b, CAST(count(*) AS BIGINT) AS c
       |  FROM hashed GROUP BY 1, 2
       |), est AS (
       |  SELECT CAST(min(f2j) AS BIGINT) AS est_f2 FROM (
       |    SELECT j, sum(c * c) AS f2j FROM grid GROUP BY j
       |  )
       |)
       |SELECT n_keys, exact_f2, est_f2,
       |  CAST((10000 * (est_f2 - exact_f2)) // exact_f2 AS BIGINT) AS overest_bp
       |FROM exact CROSS JOIN est""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q_gini_concentration — LORENZ/GINI CONCENTRATION of event volume
  // across users, plus the top-decile share: the "what fraction of the
  // workload do the hottest users generate" number that q_skew_profile's
  // max/avg ratio only hints at (Gini sees the WHOLE distribution, not
  // one hot key). Drives partition-sizing and salting decisions the same
  // way household-income Ginis drive tax brackets.
  //
  // Exactness + scale: the textbook Gini needs ranks over per-user totals
  // — a data-grain sort. This uses the COUNTS-OF-COUNTS grid identity
  // instead (the q_skew_profile / q_mannwhitney move): per-user totals
  // hash-aggregate once, then collapse to (total value v, #users m_v) —
  // a bounded grid — and the tie-correct rank sum is exact on the grid:
  // Σ ranks within a tie group = m·C_before + m(m+1)/2 (m(m+1) is always
  // even ⇒ the div is exact). Gini and decile share come out in exact
  // basis points; BIGINT headroom holds through ~sf100 (n·T < 2⁶³).
  // ---------------------------------------------------------------------
  def qGiniConcentration(s: SparkSession, d: String): DataFrame = {
    val perUser = Tables.events(s, d)
      .groupBy("user_id").agg(count(lit(1)).as("c"))
    val grid = perUser.groupBy("c").agg(count(lit(1)).as("m")).cache()
    val wAsc = Window.orderBy("c")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wDesc = Window.orderBy(col("c").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = broadcast(grid.agg(sum("m").as("n"),
      sum(expr("c * m")).as("t")))
    val ranked = grid
      .withColumn("cum_before", sum("m").over(wAsc) - col("m"))
      .withColumn("ua", sum("m").over(wDesc) - col("m"))
      .withColumn("ea", sum(expr("c * m")).over(wDesc) - expr("c * m"))
      .crossJoin(tot)
      .cache()
    val gini = ranked
      .select(expr("c * (m * cum_before + (m * (m + 1)) div 2)").as("sr"))
      .agg(sum("sr").as("sr"))
    val k = expr("greatest(1L, n div 10)")
    val decile = ranked
      .filter(col("ua") < k && k <= col("ua") + col("m"))
      .select(col("n"), col("t"),
        (col("ea") + (k - col("ua")) * col("c")).as("top_events"))
    gini.crossJoin(broadcast(decile))
      .select(col("n").as("n_users"), col("t").as("n_events"),
        expr("(10000 * (2 * sr - (n + 1) * t)) div (n * t)").as("gini_bp"),
        expr("(10000 * top_events) div t").as("top_decile_bp"))
  }

  private val qGiniConcentrationSql =
    """WITH pu AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS c
      |  FROM events GROUP BY user_id
      |), grid AS (
      |  SELECT c, CAST(count(*) AS BIGINT) AS m FROM pu GROUP BY c
      |), tot AS (
      |  SELECT CAST(sum(m) AS BIGINT) AS n, CAST(sum(c * m) AS BIGINT) AS t
      |  FROM grid
      |), ranked AS (
      |  SELECT c, m,
      |    CAST(sum(m) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) - m
      |      AS BIGINT) AS cum_before,
      |    CAST(sum(m) OVER (ORDER BY c DESC ROWS UNBOUNDED PRECEDING) - m
      |      AS BIGINT) AS ua,
      |    CAST(sum(c * m) OVER (ORDER BY c DESC ROWS UNBOUNDED PRECEDING)
      |      - c * m AS BIGINT) AS ea
      |  FROM grid
      |), sr AS (
      |  SELECT CAST(sum(c * (m * cum_before + (m * (m + 1)) // 2)) AS BIGINT)
      |    AS sr
      |  FROM ranked
      |), dec AS (
      |  SELECT t.n, t.t,
      |    CAST(r.ea + (greatest(1, t.n // 10) - r.ua) * r.c AS BIGINT)
      |      AS top_events
      |  FROM ranked r CROSS JOIN tot t
      |  WHERE r.ua < greatest(1, t.n // 10)
      |    AND greatest(1, t.n // 10) <= r.ua + r.m
      |)
      |SELECT d.n AS n_users, d.t AS n_events,
      |  CAST((10000 * (2 * s.sr - (d.n + 1) * d.t)) // (d.n * d.t) AS BIGINT)
      |    AS gini_bp,
      |  CAST((10000 * d.top_events) // d.t AS BIGINT) AS top_decile_bp
      |FROM sr s CROSS JOIN dec d""".stripMargin

  val all: Seq[Q] = Seq(
    Q("q_gini_concentration", qGiniConcentration, Some(qGiniConcentrationSql)),
    Q("q_skew_profile", qSkewProfile, Some(qSkewProfileSql)),
    Q("q_join_size_estimate", qJoinSizeEstimate, Some(qJoinSizeEstimateSql)),
    Q("q_salted_join", qSaltedJoin, Some(qSaltedJoinSql)),
    Q("q_bloom_semi_prune", qBloomSemiPrune, Some(qBloomSemiPruneSql)),
    Q("q_salted_agg", qSaltedAgg, Some(qSaltedAggSql))
  )
}
