package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Nonparametric two-sample tests — the drift/AB-testing screens that run
  * next to q_chi2 (categorical) and q_psi_drift (share drift): Mann–Whitney
  * U for "did the distribution shift" on an ordinal feature, and a binned
  * two-sample Kolmogorov–Smirnov distance for a continuous one.
  *
  * Both use the HISTOGRAM-FIRST shape: one hash-aggregate collapses the
  * fact table to a (value-bucket × group) contingency grid, and the test
  * statistic is computed from cumulative windows over that metadata-sized
  * grid — rank-based statistics WITHOUT a global sort of the data (the
  * textbook rank() formulation would funnel the whole table through one
  * partition; the count-grid formulation is exactly equivalent and scales).
  */
object StatTests {

  // ---------------------------------------------------------------------
  // q_mannwhitney — tie-corrected MANN–WHITNEY U (Wilcoxon rank-sum) for
  // every pair of return-flag groups on the quantity feature.
  //
  // Count-grid identity: U1 = Σ_v c1(v)·(C2(<v) + c2(v)/2), computed in
  // DOUBLED units (u1_x2) so half-ranks stay integer-exact. The z-score
  // uses the tie-corrected variance  n1n2/12·[(n+1) − Σ(t³−t)/(n(n−1))]
  // — evaluated as ONE double expression in identical operand order on
  // both engines and quantized to centi-units (sqrt is IEEE
  // correctly-rounded; the 1-ulp-can't-flip-a-centi argument of
  // text_bm25 applies).
  //
  // Scale shape: grid ≤ |values|×|groups| rows after one aggregate; the
  // pairwise self-join is groups² — metadata, never data.
  // ---------------------------------------------------------------------
  def qMannwhitney(s: SparkSession, d: String): DataFrame = {
    val grid = Tables.lineitem(s, d)
      .groupBy(col("l_quantity").cast("long").as("v"),
        col("l_returnflag").as("g"))
      .agg(count(lit(1)).as("c"))
    // densify values × groups so cumulative counts exist everywhere
    val dense = grid.select("v").distinct()
      .crossJoin(grid.select("g").distinct())
      .join(grid, Seq("v", "g"), "left")
      .select(col("v"), col("g"), coalesce(col("c"), lit(0L)).as("c"))
    val wc = Window.partitionBy("g").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = dense.withColumn("cum", sum("c").over(wc))
    val paired = cum.as("a").join(cum.as("b"),
        col("a.v") === col("b.v") && col("a.g") < col("b.g"))
      .select(col("a.g").as("g1"), col("b.g").as("g2"),
        col("a.c").as("c1"), col("b.c").as("c2"),
        (col("b.cum") - col("b.c")).as("c2less"))
    paired.groupBy("g1", "g2")
      .agg(sum("c1").as("n1"), sum("c2").as("n2"),
        sum(col("c1") * (col("c2less") * 2 + col("c2"))).as("u1_x2"),
        sum((col("c1") + col("c2")) * (col("c1") + col("c2"))
          * (col("c1") + col("c2")) - (col("c1") + col("c2"))).as("tie3"))
      .select(col("g1"), col("g2"), col("n1"), col("n2"), col("u1_x2"),
        expr("""CAST(round(100 * ((u1_x2 - n1 * n2) / 2.0) /
                sqrt((n1 * n2 / 12.0) * ((n1 + n2 + 1) -
                  tie3 / ((n1 + n2) * (n1 + n2 - 1.0))))) AS BIGINT)""")
          .as("z_centi"))
      .orderBy("g1", "g2")
  }

  private val qMannwhitneySql =
    """WITH grid AS (
      |  SELECT CAST(l_quantity AS BIGINT) AS v, l_returnflag AS g,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM lineitem GROUP BY 1, 2
      |), dense AS (
      |  SELECT t.v, u.g, CAST(coalesce(grid.c, 0) AS BIGINT) AS c
      |  FROM (SELECT DISTINCT v FROM grid) t
      |  CROSS JOIN (SELECT DISTINCT g FROM grid) u
      |  LEFT JOIN grid ON grid.v = t.v AND grid.g = u.g
      |), cum AS (
      |  SELECT v, g, c, CAST(sum(c) OVER (PARTITION BY g ORDER BY v
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      |  FROM dense
      |), paired AS (
      |  SELECT a.g AS g1, b.g AS g2, a.c AS c1, b.c AS c2,
      |    b.cum - b.c AS c2less
      |  FROM cum a JOIN cum b ON a.v = b.v AND a.g < b.g
      |), agg AS (
      |  SELECT g1, g2, CAST(sum(c1) AS BIGINT) AS n1,
      |    CAST(sum(c2) AS BIGINT) AS n2,
      |    CAST(sum(c1 * (c2less * 2 + c2)) AS BIGINT) AS u1_x2,
      |    CAST(sum((c1 + c2) * (c1 + c2) * (c1 + c2) - (c1 + c2)) AS BIGINT)
      |      AS tie3
      |  FROM paired GROUP BY g1, g2
      |)
      |SELECT g1, g2, n1, n2, u1_x2,
      |  CAST(round(100 * ((u1_x2 - n1 * n2) / 2.0) /
      |    sqrt((n1 * n2 / 12.0) * ((n1 + n2 + 1) -
      |      tie3 / ((n1 + n2) * (n1 + n2 - 1.0))))) AS BIGINT) AS z_centi
      |FROM agg
      |ORDER BY g1, g2""".stripMargin

  // ---------------------------------------------------------------------
  // q_ks_binned — two-sample KOLMOGOROV–SMIRNOV distance between the
  // extended-price distributions of returned (A) vs refused (R) lines,
  // computed on a 4096-bucket equi-width histogram. The continuous-feature
  // drift detector next to q_psi_drift's share drift.
  //
  // Exactness: buckets come from integer cents against broadcast global
  // min/max; the sup statistic is exact on the BINNED CDFs via
  // cross-multiplication — D = max|C1·n2 − C2·n1| / (n1·n2) reported in
  // basis points with a truncating div, no float CDF anywhere. Binning
  // bounds the error by one bucket of CDF mass and is the standard
  // streaming/distributed KS trade (histogram sketches); the bucket count
  // is the knob.
  //
  // Scale shape: one conditional-count aggregate to ≤4096×2 grid rows;
  // cumulative windows + the argmax run on the grid. No global data sort.
  // ---------------------------------------------------------------------
  def qKsBinned(s: SparkSession, d: String): DataFrame = {
    val pts = Tables.lineitem(s, d)
      .filter(col("l_returnflag").isin("A", "R"))
      .select(round(col("l_extendedprice") * 100).cast("long").as("cents"),
        col("l_returnflag").as("g"))
    val bounds = pts.agg(min("cents").as("lo"), max("cents").as("hi"))
    val grid = pts.crossJoin(broadcast(bounds))
      .groupBy(expr("((cents - lo) * 4096) div (hi - lo + 1)").as("bucket"),
        col("g"))
      .agg(count(lit(1)).as("c"))
    val dense = grid.select("bucket").distinct()
      .crossJoin(grid.select("g").distinct())
      .join(grid, Seq("bucket", "g"), "left")
      .select(col("bucket"), col("g"), coalesce(col("c"), lit(0L)).as("c"))
    val wc = Window.partitionBy("g").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = dense.withColumn("cum", sum("c").over(wc))
    val diffs = cum.filter(col("g") === "A").as("a")
      .join(cum.filter(col("g") === "R").as("b"),
        col("a.bucket") === col("b.bucket"))
      .select(col("a.bucket").as("bucket"), col("a.cum").as("c1"),
        col("b.cum").as("c2"))
    val tot = diffs.agg(max("c1").as("n1"), max("c2").as("n2"))
    val scored = diffs.crossJoin(broadcast(tot))
      .withColumn("dnum", abs(col("c1") * col("n2") - col("c2") * col("n1")))
      .cache()
    val maxd = scored.agg(max("dnum").as("maxd"))
    scored.crossJoin(broadcast(maxd))
      .agg(max("n1").as("n1"), max("n2").as("n2"),
        count(lit(1)).as("n_buckets"),
        expr("(10000 * max(maxd)) div (max(n1) * max(n2))").as("d_bp"),
        min(when(col("dnum") === col("maxd"), col("bucket"))).as("at_bucket"))
      .select(col("n1"), col("n2"), col("n_buckets"), col("d_bp"),
        col("at_bucket"))
  }

  private val qKsBinnedSql =
    """WITH pts AS (
      |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
      |    l_returnflag AS g
      |  FROM lineitem WHERE l_returnflag IN ('A', 'R')
      |), bounds AS (
      |  SELECT min(cents) AS lo, max(cents) AS hi FROM pts
      |), grid AS (
      |  SELECT ((p.cents - b.lo) * 4096) // (b.hi - b.lo + 1) AS bucket, p.g,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM pts p CROSS JOIN bounds b
      |  GROUP BY 1, 2
      |), dense AS (
      |  SELECT t.bucket, u.g, CAST(coalesce(grid.c, 0) AS BIGINT) AS c
      |  FROM (SELECT DISTINCT bucket FROM grid) t
      |  CROSS JOIN (SELECT DISTINCT g FROM grid) u
      |  LEFT JOIN grid ON grid.bucket = t.bucket AND grid.g = u.g
      |), cum AS (
      |  SELECT bucket, g, CAST(sum(c) OVER (PARTITION BY g ORDER BY bucket
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      |  FROM dense
      |), diffs AS (
      |  SELECT a.bucket, a.cum AS c1, b.cum AS c2
      |  FROM cum a JOIN cum b ON a.bucket = b.bucket
      |  WHERE a.g = 'A' AND b.g = 'R'
      |), scored AS (
      |  SELECT bucket, c1, c2,
      |    abs(c1 * (SELECT max(c2) FROM diffs)
      |      - c2 * (SELECT max(c1) FROM diffs)) AS dnum
      |  FROM diffs
      |)
      |SELECT CAST(max(c1) AS BIGINT) AS n1, CAST(max(c2) AS BIGINT) AS n2,
      |  CAST(count(*) AS BIGINT) AS n_buckets,
      |  CAST((10000 * max(dnum)) // (max(c1) * max(c2)) AS BIGINT) AS d_bp,
      |  CAST(min(bucket) FILTER (WHERE dnum = (SELECT max(dnum) FROM scored))
      |    AS BIGINT) AS at_bucket
      |FROM scored""".stripMargin

  // ---------------------------------------------------------------------
  // q_bootstrap_ci — POISSON-BOOTSTRAP confidence interval for the mean
  // discount: 32 deterministic resamples, each reweighting every row by an
  // integer weight drawn from its portable md5 hash (2 bits → {0,1,1,2},
  // mean 1 — the online/multinomial bootstrap weight scheme), then the
  // 2nd/31st order statistics of the resample means as a ~90% CI. THE
  // standard distributed bootstrap: resampling-by-weights needs no global
  // sample materialization, so the error bar costs one pass (Kleiner et
  // al.'s bag-of-little-bootstraps simplification).
  //
  // Exactness: weights are integers from the shared md5-nibble hash
  // (KMV/sampling precedent); each resample mean is one truncating
  // micro-div of exact integer sums; order statistics are exact ranks.
  //
  // Scale shape: the ×32 fanout happens map-side (explode before the
  // aggregate) and partial-aggregates to 32 rows per input partition —
  // the shuffle carries 32·partitions rows regardless of data size. The
  // rank window runs on 32 rows.
  // ---------------------------------------------------------------------
  def qBootstrapCi(s: SparkSession, d: String): DataFrame = {
    val nBoot = 32
    val base = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"),
        round(col("l_discount") * 1000).cast("long").as("v"))
    val point = base.agg(expr("(1000000 * sum(v)) div count(1)").as("point_micro"))
    val resamples = base
      .select(col("v"), col("l_orderkey"), col("l_linenumber"),
        explode(sequence(lit(1), lit(nBoot))).as("b"))
      .withColumn("m", pmod(conv(substring(md5(concat(
        lit("graft-boot-"), col("b").cast("string"), lit(":"),
        col("l_orderkey").cast("string"), lit("-"),
        col("l_linenumber").cast("string"))), 1, 1), 16, 10).cast("long"),
        lit(4L)))
      .withColumn("w", when(col("m") === 0, 0L)
        .when(col("m") === 3, 2L).otherwise(1L))
      .groupBy("b")
      .agg(expr("(1000000 * sum(w * v)) div sum(w)").as("mean_micro"))
    val ranked = resamples.withColumn("rn", row_number().over(
      Window.orderBy(col("mean_micro").asc, col("b").asc)))
    ranked.agg(
        min(when(col("rn") === 2, col("mean_micro"))).as("lo_micro"),
        min(when(col("rn") === nBoot - 1, col("mean_micro"))).as("hi_micro"),
        count(lit(1)).as("n_boot"))
      .crossJoin(broadcast(point))
      .select(col("point_micro"), col("lo_micro"), col("hi_micro"),
        col("n_boot"))
  }

  private val qBootstrapCiSql = {
    val bootHash = "md5('graft-boot-' || CAST(b.b AS VARCHAR) || ':' || " +
      "CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR))"
    s"""WITH base AS (
       |  SELECT l_orderkey, l_linenumber,
       |    CAST(round(l_discount * 1000) AS BIGINT) AS v
       |  FROM lineitem
       |), pt AS (
       |  SELECT CAST((1000000 * sum(v)) // count(*) AS BIGINT) AS point_micro
       |  FROM base
       |), fan AS (
       |  SELECT v, b.b,
       |    ${OracleSql.hexPrefix(bootHash, 1)} % 4 AS m
       |  FROM base CROSS JOIN (SELECT unnest(generate_series(1, 32)) AS b) b
       |), wts AS (
       |  SELECT v, b, CASE m WHEN 0 THEN 0 WHEN 3 THEN 2 ELSE 1 END AS w
       |  FROM fan
       |), rs AS (
       |  SELECT b, CAST((1000000 * sum(w * v)) // sum(w) AS BIGINT) AS mean_micro
       |  FROM wts GROUP BY b
       |), rk AS (
       |  SELECT mean_micro, row_number() OVER (ORDER BY mean_micro, b) AS rn
       |  FROM rs
       |)
       |SELECT (SELECT point_micro FROM pt) AS point_micro,
       |  CAST(min(CASE WHEN rn = 2 THEN mean_micro END) AS BIGINT) AS lo_micro,
       |  CAST(min(CASE WHEN rn = 31 THEN mean_micro END) AS BIGINT) AS hi_micro,
       |  CAST(count(*) AS BIGINT) AS n_boot
       |FROM rk""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q_cuped — CUPED variance reduction (Deng et al., WSDM'13): adjust the
  // experiment metric y by the pre-period covariate x, y' = y − θ(x − x̄),
  // with θ = cov(x,y)/var(x) estimated POOLED across arms. Everything is
  // exact integer arithmetic: per-user sums in whole value-units, θ in
  // milli-units via the moment identity θ = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²),
  // and per-arm adjusted means cleared of the rational x̄ by multiplying
  // through by n_total before the one truncating division (both engines
  // truncate toward zero, so negatives agree).
  //
  // Scale shape: one user-grain conditional aggregate (shuffle on
  // user_id), then a single metadata-sized moment row cross-joined back —
  // no second pass over events. BIGINT headroom holds through sf1; at
  // 100 TB θ would come from a hash-sample of users (the same sampling
  // stance as IVF's Lloyd step), leaving the per-arm pass unchanged.
  // ---------------------------------------------------------------------
  def qCuped(s: SparkSession, d: String): DataFrame = {
    val ms = graft.functions.TimeFunctions.nsToMs("ts")
    val ev = Tables.events(s, d)
      .select(col("user_id"),
        ((ms - pmod(ms, lit(86400000L))) / 86400000L).cast("long").as("day"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val mid = broadcast(ev.agg(
      expr("(min(day) + max(day) + 1) div 2").as("mid")))
    val perUser = ev.crossJoin(mid)
      .groupBy("user_id")
      .agg(
        expr("sum(CASE WHEN day < mid THEN cents ELSE 0 END) div 100").as("x"),
        expr("sum(CASE WHEN day >= mid THEN cents ELSE 0 END) div 100").as("y"))
      .withColumn("arm", pmod(col("user_id"), lit(2)).cast("long"))
    val mom = broadcast(perUser.agg(
      count(lit(1)).as("n_all"), sum("x").as("sx"), sum("y").as("sy"),
      sum(expr("x * y")).as("sxy"), sum(expr("x * x")).as("sxx")))
    perUser
      .groupBy("arm")
      .agg(count(lit(1)).as("n_users"),
        sum("x").as("x_units"), sum("y").as("y_units"))
      .crossJoin(mom)
      .withColumn("theta_milli",
        expr("((n_all * sxy - sx * sy) * 1000) div (n_all * sxx - sx * sx)"))
      .select(col("arm"), col("n_users"), col("x_units"), col("y_units"),
        col("theta_milli"),
        expr("(1000 * y_units) div n_users").as("mean_y_milli"),
        expr("(1000 * n_all * y_units - theta_milli * (n_all * x_units - n_users * sx))"
          + " div (n_all * n_users)").as("mean_yadj_milli"))
      .orderBy("arm")
  }

  private val qCupedSql =
    """WITH ev AS (
      |  SELECT user_id, epoch_ms(ts) // 86400000 AS day,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events
      |), mid AS (
      |  SELECT (min(day) + max(day) + 1) // 2 AS mid FROM ev
      |), pu AS (
      |  SELECT user_id,
      |    CAST(sum(CASE WHEN day < (SELECT mid FROM mid) THEN cents ELSE 0 END)
      |      // 100 AS BIGINT) AS x,
      |    CAST(sum(CASE WHEN day >= (SELECT mid FROM mid) THEN cents ELSE 0 END)
      |      // 100 AS BIGINT) AS y,
      |    user_id % 2 AS arm
      |  FROM ev GROUP BY user_id
      |), mom AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_all, CAST(sum(x) AS BIGINT) AS sx,
      |    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * y) AS BIGINT) AS sxy,
      |    CAST(sum(x * x) AS BIGINT) AS sxx
      |  FROM pu
      |), arms AS (
      |  SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
      |    CAST(sum(x) AS BIGINT) AS x_units, CAST(sum(y) AS BIGINT) AS y_units
      |  FROM pu GROUP BY arm
      |)
      |SELECT CAST(a.arm AS BIGINT) AS arm, a.n_users, a.x_units, a.y_units,
      |  CAST(((m.n_all * m.sxy - m.sx * m.sy) * 1000)
      |    // (m.n_all * m.sxx - m.sx * m.sx) AS BIGINT) AS theta_milli,
      |  CAST((1000 * a.y_units) // a.n_users AS BIGINT) AS mean_y_milli,
      |  CAST((1000 * m.n_all * a.y_units
      |      - (((m.n_all * m.sxy - m.sx * m.sy) * 1000)
      |         // (m.n_all * m.sxx - m.sx * m.sx))
      |        * (m.n_all * a.x_units - a.n_users * m.sx))
      |    // (m.n_all * a.n_users) AS BIGINT) AS mean_yadj_milli
      |FROM arms a CROSS JOIN mom m
      |ORDER BY arm""".stripMargin

  // ---------------------------------------------------------------------
  // q_srm_check — SAMPLE-RATIO-MISMATCH guardrail for the user_id%2
  // experiment split (the same assignment q_cuped analyzes): under a
  // 50/50 design the 1-df goodness-of-fit χ² collapses to the EXACT
  // integer identity (n₀−n₁)²/n — if this trips, every downstream test
  // (CUPED, Welch, Mann–Whitney) on that split is invalid, which is why
  // real experiment platforms run SRM before any metric. Flag at the 5%
  // critical value 3.841 via the multiply-form integer compare.
  //
  // Scale shape: one distinct-user aggregate (the assignment is
  // user-grain, so events-grain counting would double-weight heavy
  // users); everything after is one row of integer arithmetic.
  // ---------------------------------------------------------------------
  def qSrmCheck(s: SparkSession, d: String): DataFrame = {
    Tables.events(s, d)
      .select(col("user_id")).distinct()
      .select(pmod(col("user_id"), lit(2)).cast("long").as("arm"))
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_arm0"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_arm1"))
      .select(col("n_users"), col("n_arm0"), col("n_arm1"),
        expr("(1000 * (n_arm0 - n_arm1) * (n_arm0 - n_arm1)) div n_users")
          .as("chi2_milli"),
        expr("(1000 * (n_arm0 - n_arm1) * (n_arm0 - n_arm1)) div n_users"
          + " > 3841").as("srm_flag"))
  }

  private val qSrmCheckSql =
    """WITH u AS (
      |  SELECT DISTINCT user_id FROM events
      |), arms AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_users,
      |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_arm0,
      |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_arm1
      |  FROM u
      |)
      |SELECT n_users, n_arm0, n_arm1,
      |  CAST((1000 * (n_arm0 - n_arm1) * (n_arm0 - n_arm1)) // n_users
      |    AS BIGINT) AS chi2_milli,
      |  (1000 * (n_arm0 - n_arm1) * (n_arm0 - n_arm1)) // n_users > 3841
      |    AS srm_flag
      |FROM arms""".stripMargin

  // ---------------------------------------------------------------------
  // q_welch_ttest — WELCH'S UNEQUAL-VARIANCE t-TEST for every pair of
  // customer market segments on account balance: the parametric sibling of
  // q_mannwhitney (rank-based) and the per-pair drill-down under q_anova's
  // omnibus F. Welch (1947) does not pool variances, so unequal group
  // sizes/variances don't bias the statistic; df via Welch–Satterthwaite.
  //
  // Exactness: ONE hash-aggregate collapses customers to per-segment
  // integer moments (n, Σv, Σv²; v = exact whole currency units). The
  // pairwise join is segments² = 10 metadata rows; t and df are per-row
  // scalar double expressions evaluated in IDENTICAL operand order on both
  // engines and quantized (milli-t, centi-df) — no double AGGREGATION
  // anywhere, so no summation-order hazard (the q_mannwhitney z-centi
  // 1-ulp argument applies).
  //
  // Scale shape: data touched once (partial-agg to |segments| rows);
  // everything after is constant-size. Σv² of whole units holds BIGINT
  // through sf1000, but the centered numerator n·Σv² − (Σv)² would NOT
  // ((Σv)² overflows BIGINT near sf20) — so, like qOlsMulti, both engines
  // cast to DOUBLE before the n·Σ products; milli quantization absorbs
  // the ulp.
  // ---------------------------------------------------------------------
  def qWelchTtest(s: SparkSession, d: String): DataFrame = {
    val mom = Tables.customer(s, d)
      .select(col("c_mktsegment").as("g"),
        expr("CAST(round(c_acctbal) AS BIGINT)").as("v"))
      .groupBy("g")
      .agg(count(lit(1)).as("n"), sum("v").as("sv"),
        sum(expr("v * v")).as("qv"))
    mom.as("a").join(mom.as("b"), col("a.g") < col("b.g"))
      .select(col("a.g").as("g1"), col("b.g").as("g2"),
        col("a.n").as("n1"), col("a.sv").as("s1"), col("a.qv").as("q1"),
        col("b.n").as("n2"), col("b.sv").as("s2"), col("b.qv").as("q2"))
      .withColumn("va", expr(
        "((CAST(n1 AS DOUBLE) * q1 - CAST(s1 AS DOUBLE) * s1) / (n1 * (n1 - 1.0))) / n1"))
      .withColumn("vb", expr(
        "((CAST(n2 AS DOUBLE) * q2 - CAST(s2 AS DOUBLE) * s2) / (n2 * (n2 - 1.0))) / n2"))
      .select(col("g1"), col("g2"), col("n1"), col("n2"),
        expr("s1 div n1").as("mean1_units"),
        expr("s2 div n2").as("mean2_units"),
        expr("""CAST(round(1000 * ((s1 / CAST(n1 AS DOUBLE)
                - s2 / CAST(n2 AS DOUBLE)) / sqrt(va + vb))) AS BIGINT)""")
          .as("t_milli"),
        expr("""CAST(round(100 * ((va + vb) * (va + vb)
                / (va * va / (n1 - 1.0) + vb * vb / (n2 - 1.0))))
                AS BIGINT)""").as("df_centi"))
      .orderBy("g1", "g2")
  }

  private val qWelchTtestSql =
    """WITH mom AS (
      |  SELECT c_mktsegment AS g, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(round(c_acctbal) AS BIGINT)) AS BIGINT) AS sv,
      |    CAST(sum(CAST(round(c_acctbal) AS BIGINT)
      |           * CAST(round(c_acctbal) AS BIGINT)) AS BIGINT) AS qv
      |  FROM customer GROUP BY 1
      |), pairs AS (
      |  SELECT a.g AS g1, b.g AS g2, a.n AS n1, a.sv AS s1, a.qv AS q1,
      |    b.n AS n2, b.sv AS s2, b.qv AS q2,
      |    ((CAST(a.n AS DOUBLE) * a.qv - CAST(a.sv AS DOUBLE) * a.sv)
      |      / (a.n * (a.n - 1.0))) / a.n AS va,
      |    ((CAST(b.n AS DOUBLE) * b.qv - CAST(b.sv AS DOUBLE) * b.sv)
      |      / (b.n * (b.n - 1.0))) / b.n AS vb
      |  FROM mom a JOIN mom b ON a.g < b.g
      |)
      |SELECT g1, g2, n1, n2,
      |  CAST(s1 // n1 AS BIGINT) AS mean1_units,
      |  CAST(s2 // n2 AS BIGINT) AS mean2_units,
      |  CAST(round(1000 * ((s1 / CAST(n1 AS DOUBLE) - s2 / CAST(n2 AS DOUBLE))
      |    / sqrt(va + vb))) AS BIGINT) AS t_milli,
      |  CAST(round(100 * ((va + vb) * (va + vb)
      |    / (va * va / (n1 - 1.0) + vb * vb / (n2 - 1.0)))) AS BIGINT)
      |    AS df_centi
      |FROM pairs
      |ORDER BY g1, g2""".stripMargin

  // ---------------------------------------------------------------------
  // q_anova — ONE-WAY ANOVA omnibus F across ALL customer market segments
  // on account balance (q_welch_ttest answers "which pair differs";
  // this answers "does ANY segment differ" first, controlling the
  // pairwise-testing multiplicity).
  //
  // Exactness: the k-row moment grid yields SSB/SSW in CENTI-units; the
  // per-group 100·s_g²/n_g product runs in DOUBLE (100·s_g² would
  // overflow BIGINT already below sf1) rounded to a centi BIGINT by the
  // IDENTICAL round() on both engines, so the cross-group SUM stays an
  // order-independent integer. F and eta² come from the integer
  // centi-sums: eta2_bp fully integer, f_centi one per-row double
  // division. The ≤1-centi rounding per group is engine-identical, NOT a
  // float-summation hazard.
  //
  // Scale shape: one data pass to k moment rows; the rest is constant.
  // ---------------------------------------------------------------------
  def qAnova(s: SparkSession, d: String): DataFrame = {
    val base = Tables.customer(s, d)
      .select(col("c_mktsegment").as("g"),
        expr("CAST(round(c_acctbal) AS BIGINT)").as("v"))
    val grand = broadcast(base.agg(
      count(lit(1)).as("n_total"), sum("v").as("s_all"),
      sum(expr("v * v")).as("q_all")))
    base.groupBy("g")
      .agg(count(lit(1)).as("n_g"), sum("v").as("s_g"))
      .select(expr(
        "CAST(round((100 * (CAST(s_g AS DOUBLE) * s_g)) / n_g) AS BIGINT)")
        .as("bss_centi"))
      .agg(count(lit(1)).as("k_groups"), sum("bss_centi").as("bss_centi"))
      .crossJoin(grand)
      .withColumn("ssb_centi",
        expr("""bss_centi - CAST(round((100 * (CAST(s_all AS DOUBLE) * s_all))
                / n_total) AS BIGINT)"""))
      .withColumn("ssw_centi", expr("100 * q_all - bss_centi"))
      .select(col("k_groups"), col("n_total"),
        col("ssb_centi"), col("ssw_centi"),
        expr("""CAST(round(100 * ((ssb_centi / (k_groups - 1.0))
                / (ssw_centi / (n_total - CAST(k_groups AS DOUBLE)))))
                AS BIGINT)""").as("f_centi"),
        expr("(10000 * ssb_centi) div (ssb_centi + ssw_centi)").as("eta2_bp"))
  }

  private val qAnovaSql =
    """WITH base AS (
      |  SELECT c_mktsegment AS g, CAST(round(c_acctbal) AS BIGINT) AS v
      |  FROM customer
      |), grand AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_total,
      |    CAST(sum(v) AS BIGINT) AS s_all, CAST(sum(v * v) AS BIGINT) AS q_all
      |  FROM base
      |), grp AS (
      |  SELECT CAST(round((100 * (CAST(sum(v) AS DOUBLE) * sum(v)))
      |    / count(*)) AS BIGINT) AS bss_centi
      |  FROM base GROUP BY g
      |), agg AS (
      |  SELECT CAST(count(*) AS BIGINT) AS k_groups,
      |    CAST(sum(bss_centi) AS BIGINT) AS bss_centi
      |  FROM grp
      |), parts AS (
      |  SELECT a.k_groups, g.n_total,
      |    CAST(a.bss_centi - CAST(round((100 * (CAST(g.s_all AS DOUBLE)
      |      * g.s_all)) / g.n_total) AS BIGINT) AS BIGINT)
      |      AS ssb_centi,
      |    CAST(100 * g.q_all - a.bss_centi AS BIGINT) AS ssw_centi
      |  FROM agg a CROSS JOIN grand g
      |)
      |SELECT k_groups, n_total, ssb_centi, ssw_centi,
      |  CAST(round(100 * ((ssb_centi / (k_groups - 1.0))
      |    / (ssw_centi / (n_total - CAST(k_groups AS DOUBLE))))) AS BIGINT)
      |    AS f_centi,
      |  CAST((10000 * ssb_centi) // (ssb_centi + ssw_centi) AS BIGINT)
      |    AS eta2_bp
      |FROM parts""".stripMargin

  // ---------------------------------------------------------------------
  // q_ols_multi — MULTIPLE LINEAR REGRESSION (two regressors + intercept)
  // in closed form: extended price (whole units) on quantity and discount
  // (milli), solved by Cramer's rule on the centered 2×2 normal equations
  // — the multivariate sibling of q_trend_fit's single-feature OLS, and
  // the shape every "fit a small GLM at 100 TB" job reduces to: one pass
  // of exact integer moment sums, closed-form solve on a single row.
  //
  // Exactness: the 9 raw moments are exact BIGINT sums from ONE
  // hash-aggregate; centered cross-moments (n·Σxy − Σx·Σy) and the
  // determinant solve are per-row double expressions in identical operand
  // order on both engines (cast to DOUBLE before the n· products — exact
  // BIGINT centering would overflow past sf1), quantized: slopes micro,
  // intercept centi, R² basis points.
  //
  // Scale shape: one data pass to one moment row; everything after is
  // constant-time scalar math. No shuffle beyond the final 1-row agg.
  // ---------------------------------------------------------------------
  def qOlsMulti(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d)
      .select(col("l_quantity").cast("long").as("x1"),
        expr("CAST(round(l_discount * 1000) AS BIGINT)").as("x2"),
        expr("CAST(round(l_extendedprice) AS BIGINT)").as("y"))
      .agg(count(lit(1)).as("n"),
        sum("x1").as("s1"), sum("x2").as("s2"), sum("y").as("sy"),
        sum(expr("x1 * x1")).as("s11"), sum(expr("x2 * x2")).as("s22"),
        sum(expr("x1 * x2")).as("s12"),
        sum(expr("x1 * y")).as("s1y"), sum(expr("x2 * y")).as("s2y"),
        sum(expr("y * y")).as("syy"))
      .withColumn("c11", expr("CAST(n AS DOUBLE) * s11 - CAST(s1 AS DOUBLE) * s1"))
      .withColumn("c22", expr("CAST(n AS DOUBLE) * s22 - CAST(s2 AS DOUBLE) * s2"))
      .withColumn("c12", expr("CAST(n AS DOUBLE) * s12 - CAST(s1 AS DOUBLE) * s2"))
      .withColumn("c1y", expr("CAST(n AS DOUBLE) * s1y - CAST(s1 AS DOUBLE) * sy"))
      .withColumn("c2y", expr("CAST(n AS DOUBLE) * s2y - CAST(s2 AS DOUBLE) * sy"))
      .withColumn("cyy", expr("CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy"))
      .withColumn("det", expr("c11 * c22 - c12 * c12"))
      .withColumn("b1", expr("(c1y * c22 - c2y * c12) / det"))
      .withColumn("b2", expr("(c2y * c11 - c1y * c12) / det"))
      .select(col("n"),
        expr("CAST(round(1000000 * b1) AS BIGINT)").as("b1_micro"),
        expr("CAST(round(1000000 * b2) AS BIGINT)").as("b2_micro"),
        expr("CAST(round(100 * ((sy - b1 * s1 - b2 * s2) / n)) AS BIGINT)")
          .as("b0_centi"),
        expr("CAST(round(10000 * ((b1 * c1y + b2 * c2y) / cyy)) AS BIGINT)")
          .as("r2_bp"))
  }

  private val qOlsMultiSql =
    """WITH mom AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s1,
      |    CAST(sum(CAST(round(l_discount * 1000) AS BIGINT)) AS BIGINT) AS s2,
      |    CAST(sum(CAST(round(l_extendedprice) AS BIGINT)) AS BIGINT) AS sy,
      |    CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
      |      AS BIGINT) AS s11,
      |    CAST(sum(CAST(round(l_discount * 1000) AS BIGINT)
      |      * CAST(round(l_discount * 1000) AS BIGINT)) AS BIGINT) AS s22,
      |    CAST(sum(CAST(l_quantity AS BIGINT)
      |      * CAST(round(l_discount * 1000) AS BIGINT)) AS BIGINT) AS s12,
      |    CAST(sum(CAST(l_quantity AS BIGINT)
      |      * CAST(round(l_extendedprice) AS BIGINT)) AS BIGINT) AS s1y,
      |    CAST(sum(CAST(round(l_discount * 1000) AS BIGINT)
      |      * CAST(round(l_extendedprice) AS BIGINT)) AS BIGINT) AS s2y,
      |    CAST(sum(CAST(round(l_extendedprice) AS BIGINT)
      |      * CAST(round(l_extendedprice) AS BIGINT)) AS BIGINT) AS syy
      |  FROM lineitem
      |), cen AS (
      |  SELECT *,
      |    CAST(n AS DOUBLE) * s11 - CAST(s1 AS DOUBLE) * s1 AS c11,
      |    CAST(n AS DOUBLE) * s22 - CAST(s2 AS DOUBLE) * s2 AS c22,
      |    CAST(n AS DOUBLE) * s12 - CAST(s1 AS DOUBLE) * s2 AS c12,
      |    CAST(n AS DOUBLE) * s1y - CAST(s1 AS DOUBLE) * sy AS c1y,
      |    CAST(n AS DOUBLE) * s2y - CAST(s2 AS DOUBLE) * sy AS c2y,
      |    CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy AS cyy
      |  FROM mom
      |), sol AS (
      |  SELECT *,
      |    (c1y * c22 - c2y * c12) / (c11 * c22 - c12 * c12) AS b1,
      |    (c2y * c11 - c1y * c12) / (c11 * c22 - c12 * c12) AS b2
      |  FROM cen
      |)
      |SELECT n,
      |  CAST(round(1000000 * b1) AS BIGINT) AS b1_micro,
      |  CAST(round(1000000 * b2) AS BIGINT) AS b2_micro,
      |  CAST(round(100 * ((sy - b1 * s1 - b2 * s2) / n)) AS BIGINT) AS b0_centi,
      |  CAST(round(10000 * ((b1 * c1y + b2 * c2y) / cyy)) AS BIGINT) AS r2_bp
      |FROM sol""".stripMargin

  // ---------------------------------------------------------------------
  // q_corr_matrix — PAIRWISE PEARSON CORRELATION MATRIX of the four
  // numeric lineitem measures in ONE pass: the feature-screening step
  // before any modeling (q_ols_multi's regressors were picked by exactly
  // this kind of look), and the textbook one-scan-many-statistics shape —
  // a 100 TB table must never be re-scanned per pair.
  //
  // Exactness: all 14 moments (4 sums, 4 squares, 6 cross products) are
  // exact BIGINT sums from a single hash-aggregate; each pair's r is one
  // double expression from those integers (DOUBLE cast before the n·
  // products), quantized to milli. The 6 output rows EXPLODE from the one
  // moment row — the aggregate is never re-evaluated per pair.
  // ---------------------------------------------------------------------
  def qCorrMatrix(s: SparkSession, d: String): DataFrame = {
    val cols = Seq("qty" -> "CAST(l_quantity AS BIGINT)",
      "price" -> "CAST(round(l_extendedprice) AS BIGINT)",
      "disc" -> "CAST(round(l_discount * 1000) AS BIGINT)",
      "tax" -> "CAST(round(l_tax * 1000) AS BIGINT)")
    val base = Tables.lineitem(s, d).select(
      cols.map { case (n, e) => expr(e).as(n) }: _*)
    val moments =
      Seq(count(lit(1)).as("n")) ++
        cols.map { case (n, _) => sum(col(n)).as(s"s_$n") } ++
        (for ((a, _) <- cols; (b, _) <- cols if a <= b)
          yield sum(col(a) * col(b)).as(s"q_${a}_$b"))
    val mom = base.agg(moments.head, moments.tail: _*)
    val pairs = for ((a, _) <- cols; (b, _) <- cols if a < b) yield (a, b)
    val structs = pairs.map { case (a, b) =>
      struct(lit(a).as("col_a"), lit(b).as("col_b"),
        expr(s"""CAST(round(1000 *
            ((CAST(n AS DOUBLE) * q_${a}_$b - CAST(s_$a AS DOUBLE) * s_$b)
             / sqrt((CAST(n AS DOUBLE) * q_${a}_$a
                     - CAST(s_$a AS DOUBLE) * s_$a)
                  * (CAST(n AS DOUBLE) * q_${b}_$b
                     - CAST(s_$b AS DOUBLE) * s_$b)))) AS BIGINT)""")
          .as("r_milli"))
    }
    mom.select(explode(array(structs: _*)).as("p"))
      .select(col("p.col_a"), col("p.col_b"), col("p.r_milli"))
      .orderBy("col_a", "col_b")
  }

  private val qCorrMatrixSql = {
    val defs = Seq("qty" -> "CAST(l_quantity AS BIGINT)",
      "price" -> "CAST(round(l_extendedprice) AS BIGINT)",
      "disc" -> "CAST(round(l_discount * 1000) AS BIGINT)",
      "tax" -> "CAST(round(l_tax * 1000) AS BIGINT)")
    val sums = defs.map { case (n, e) =>
      s"CAST(sum($e) AS BIGINT) AS s_$n" }.mkString(",\n    ")
    val crosses = (for ((a, ea) <- defs; (b, eb) <- defs if a <= b)
      yield s"CAST(sum(($ea) * ($eb)) AS BIGINT) AS q_${a}_$b")
      .mkString(",\n    ")
    val pairSelects = (for ((a, _) <- defs; (b, _) <- defs if a < b) yield
      s"""SELECT '$a' AS col_a, '$b' AS col_b,
         |  CAST(round(1000 *
         |    ((CAST(n AS DOUBLE) * q_${a}_$b - CAST(s_$a AS DOUBLE) * s_$b)
         |     / sqrt((CAST(n AS DOUBLE) * q_${a}_$a - CAST(s_$a AS DOUBLE) * s_$a)
         |          * (CAST(n AS DOUBLE) * q_${b}_$b - CAST(s_$b AS DOUBLE) * s_$b))))
         |    AS BIGINT) AS r_milli
         |FROM mom""".stripMargin).mkString("\nUNION ALL\n")
    s"""WITH mom AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    $sums,
       |    $crosses
       |  FROM lineitem
       |)
       |$pairSelects
       |ORDER BY col_a, col_b""".stripMargin
  }

  val all: Seq[Q] = Seq(
    Q("q_cuped", qCuped, Some(qCupedSql)),
    Q("q_ols_multi", qOlsMulti, Some(qOlsMultiSql)),
    Q("q_corr_matrix", qCorrMatrix, Some(qCorrMatrixSql)),
    Q("q_srm_check", qSrmCheck, Some(qSrmCheckSql)),
    Q("q_mannwhitney", qMannwhitney, Some(qMannwhitneySql)),
    Q("q_ks_binned", qKsBinned, Some(qKsBinnedSql)),
    Q("q_welch_ttest", qWelchTtest, Some(qWelchTtestSql)),
    Q("q_anova", qAnova, Some(qAnovaSql)),
    Q("q_bootstrap_ci", qBootstrapCi, Some(qBootstrapCiSql)))
}
