package graft.operators

import graft.{Q, Rounds, Tables}
import graft.functions.VectorFunctions.{asDouble, vecDot, vecNorm}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (vec_id, float[64], label).
  *
  * - sim_topk_bruteforce: exact cosine top-k for a small query set. The query
  *   set is broadcast, so the corpus is scanned once with NO shuffle of the
  *   big side — the 100 TB plan is (broadcast queries) × (corpus scan) →
  *   per-partition top-k → final top-k merge.
  * - sim_ann_lsh: random-hyperplane LSH — 8-bit sign signature buckets the
  *   corpus (one shuffle on the bucket key), queries probe only their bucket.
  *   Recall vs brute force is spec-tested (SimilaritySpec).
  * - sim_centroid_by_label: the IVF coarse-quantizer building block —
  *   elementwise centroid per label via posexplode + two-level aggregation.
  *
  * All vector math runs through the native DotProduct Catalyst expression
  * (VectorFunctions) — whole-stage codegen'd tight loops; no UDF, no
  * interpreted higher-order functions, no driver-side collect.
  */
object Similarity {

  /** Exact cosine top-5 neighbors for query vectors (vec_id < 10), ranked on
    * the ROUNDED cosine with vec_id tie-break for cross-engine determinism.
    *
    * The rank-filter (`row_number <= 5` over the qid window) triggers
    * Catalyst's InferWindowGroupLimit: a PARTIAL WindowGroupLimit runs per
    * input partition BEFORE the qid exchange, so the shuffle carries at most
    * k rows per (partition, qid) — never the full corpus-sized scored
    * relation into ~10 reducer tasks. PlanSpec asserts the partial limit
    * sits below the exchange for all three ranking variants. */
  def simTopkBruteforce(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val normed = emb.withColumn("nrm", vecNorm(col("v")))
    val queries = normed.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qnrm"))
    val scored = normed.join(broadcast(queries), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cand_id"),
        round(vecDot(col("qv"), col("v")) / (col("qnrm") * col("nrm")), 4).as("cosine"))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("cand_id").asc)
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 5)
      .orderBy("qid", "rk")
  }

  private val simTopkBruteforceSql =
    """WITH v AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS e,
      |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |  FROM embeddings
      |), q AS (
      |  SELECT vec_id AS qid, e AS qv, nrm AS qnrm FROM v WHERE vec_id < 10
      |), scored AS (
      |  SELECT q.qid, v.vec_id AS cand_id,
      |    round(list_dot_product(q.qv, v.e) / (q.qnrm * v.nrm), 4) AS cosine
      |  FROM v JOIN q ON v.vec_id <> q.qid
      |), ranked AS (
      |  SELECT qid, cand_id, cosine,
      |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cand_id) AS BIGINT) AS rk
      |  FROM scored
      |)
      |SELECT qid, cand_id, cosine, rk FROM ranked WHERE rk <= 5
      |ORDER BY qid, rk""".stripMargin

  /** Deterministic pseudo-random hyperplanes (seeded) for the LSH signature. */
  private[graft] val planes: Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(8)(Seq.fill(64)(rnd.nextGaussian()))
  }

  /** Random-hyperplane LSH ANN: 8-bit sign signature → bucket join → exact
    * cosine top-3 within bucket. Fully oracled: the plane constants are
    * embedded in the oracle SQL (shortest-round-trip decimal form parses
    * back to the identical IEEE-754 double, and both engines reduce the
    * 64-dim dot product in index order, so the sign bits — and hence the
    * buckets — match bit-exactly). Recall vs brute force additionally
    * asserted in SimilaritySpec. */
  /** (vec_id, v, nrm, sig): every embedding with its 8-bit hyperplane sign
    * signature — the shared bucketing relation for LSH ANN and the kNN
    * graph. The signature folds 8 codegen'd dot products into one long. */
  /** The 8-bit hyperplane sign signature of vector column `v`. The lambda
    * must reference the column by its FINAL name: an alias applied after
    * this expression is built can leave the lambda's inner attribute
    * dangling once a Generate/projection collapse rewrites the plan
    * (observed as INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND in sim_range_search). */
  private def sigExpr(v: Column): Column =
    planes.zipWithIndex.map { case (pl, p) =>
      when(vecDot(typedlit(pl), v) >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  private def sigRelation(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", vecNorm(col("v")))
      .withColumn("sig", sigExpr(col("v")))

  def simAnnLsh(s: SparkSession, d: String): DataFrame = {
    val emb = sigRelation(s, d)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("sig").as("qsig"))
    val scored = emb.join(broadcast(queries),
        col("sig") === col("qsig") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cand_id"),
        round(vecDot(col("qv"), col("v")) / (col("qnrm") * col("nrm")), 4).as("cosine"))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("cand_id").asc)
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .orderBy("qid", "rk")
  }

  /** IVF (inverted-file) ANN: k-means coarse quantizer trained with
    * DISTRIBUTED Lloyd iterations (assignment + per-cluster means are Spark
    * aggregations; only the nlist×64 centroid table ever touches the
    * driver), then queries probe their `nprobe` nearest cells and rank
    * candidates by exact cosine. nlist/nprobe derive from the corpus count
    * (~√n cells, an eighth of them probed) — see the in-body comment.
    *
    * Lloyd trains on a deterministic HASH-SAMPLE (xxhash64(vec_id) mod
    * threshold, targeting ~64 vectors per centroid) rather than the full
    * corpus — quantizer quality needs a representative sample, not every
    * row, and at 100 TB three full-corpus training passes would triple the
    * job's scan cost for nothing. Only the final cell-assignment pass (the
    * inverted file itself) reads the full corpus. Tiny corpora sample at
    * 100%, so behavior at spec scale is unchanged. Deterministic: seeds are
    * the first 16 vectors, the sample is content-addressed, iteration count
    * fixed.
    *
    * FULLY ORACLED (was rows-only through round 4): the two
    * engine-internal pieces are made portable — (1) the centroid mean is an
    * EXACT INTEGER mean over micro-unit-quantized coordinates
    * (Σ round(x·10⁶) floor-div n, via the x − pmod(x, n) idiom since
    * Spark's div truncates while DuckDB's // floors), so no float
    * accumulation order can diverge; (2) the training sample hashes with
    * the portable md5-prefix instead of xxhash64. Affinity dots and the
    * final cosine rerank stay double — both engines reduce list dot
    * products in index order, the same bit-exactness contract the LSH and
    * brute-force oracles already rely on. The oracle SQL unrolls all three
    * Lloyd iterations as CTEs, including the empty-cell carry-forward.
    * SimilaritySpec additionally bounds recall vs brute force and asserts
    * the probe actually restricts the candidate set. */
  /** The built IVF index as relations + the probe knob — the BUILD/SEARCH
    * split mirrors production use (build once, search many); the staged
    * variant persists these relations and runs the search path alone. */
  /** |embeddings| for index sizing — a pure function of the static
    * dataset, counted once per JVM via the shared future-latched memo
    * (Staging.memoizedCount; the "emb_rows" key is shared with Dedup's
    * cell-count gate, so all sizing sites together cost ONE count job
    * per dataset). The first run counts through the caller's own lineage
    * (`emb`), so a cached relation still gets its warm-up materialization. */
  private def embRows(s: SparkSession, d: String,
      emb: org.apache.spark.sql.DataFrame): Long =
    graft.sources.Staging.memoizedCount("emb_rows", d, "embeddings.parquet")(
      emb.count())

  private[graft] final case class IvfIndex(
      emb: DataFrame, cdf: DataFrame, member: DataFrame, nProbe: Int)

  def simAnnIvf(s: SparkSession, d: String): DataFrame = {
    val ix = ivfBuild(s, d)
    val emb = ix.emb; val cdf = ix.cdf
    val member = ix.member; val nProbe = ix.nProbe
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qnrm"))
    // each query probes its nProbe nearest cells
    val wq = Window.partitionBy("qid").orderBy(col("aff").desc, col("cid").asc)
    val probes = queries.join(broadcast(cdf), lit(true))
      .select(col("qid"), col("qv"), col("qnrm"), col("cid"),
        (vecDot(col("qv"), col("cv")) - vecDot(col("cv"), col("cv")) / 2).as("aff"))
      .withColumn("rk", row_number().over(wq)).filter(col("rk") <= nProbe)
      .select("qid", "qv", "qnrm", "cid")
    val cand = probes.join(member, "cid")
      .join(emb, "vec_id")
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cand_id"),
        round(vecDot(col("qv"), col("v")) / (col("qnrm") * col("nrm")), 4).as("cosine"))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("cand_id").asc)
    cand.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select("qid", "cand_id", "cosine", "rk")
      .orderBy("qid", "rk")
  }

  /** BUILD path: sampled distributed Lloyd + the full cell-assignment
    * pass (the inverted file). */
  private[graft] def ivfBuild(s: SparkSession, d: String): IvfIndex = {
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", vecNorm(col("v")))
      .cache()
    // Index parameters DERIVE from the corpus size (one bounded count()
    // action, reused for the training-sample threshold below) instead of
    // being toy constants: nlist ~ √n is the standard IVF sizing (cells of
    // ~√n vectors balance quantizer cost against list length — FAISS
    // guideline), clamped to [16, 4096] so tiny fixtures keep ≥16 cells
    // and the centroid table stays broadcastable metadata at any n.
    // nprobe = nlist/8 (≥3) probes a fixed ~12.5% of cells — the recall
    // knob held at a constant fraction so recall stays stable as the
    // index grows instead of collapsing (fixed nprobe over growing nlist
    // would probe a shrinking fraction). sim_recall_eval MEASURES the
    // recall this setting buys per round. The oracle derives the same
    // numbers in SQL from count(*), so parameterization is hash-checked.
    // Memoized per JVM per dataset (shared "emb_rows" stamp key with every
    // other embeddings-sizing site): later runs skip the counting job.
    val n = embRows(s, d, emb)
    val nClusters = math.max(16L, math.min(4096L,
      math.ceil(math.sqrt(n.toDouble)).toLong)).toInt
    val nIters = 3
    val nProbe = math.max(3L, math.ceil(nClusters / 8.0).toLong).toInt
    val trainTarget = 64L * nClusters

    // centroid table as a small broadcast-join relation: (cid, cv)
    def assign(rel: DataFrame, centroids: Seq[(Int, Seq[Double])]): DataFrame = {
      val cdf = s.createDataFrame(centroids.map { case (i, c) => (i, c) })
        .toDF("cid", "cv")
      // nearest by euclidean == max (dot - |c|²/2); one codegen'd pass over
      // the exploded (vector × centroid) pairs
      val scored = rel.join(broadcast(cdf), lit(true))
        .select(col("vec_id"),
          col("cid"),
          (vecDot(col("v"), col("cv")) - vecDot(col("cv"), col("cv")) / 2).as("aff"))
      val w = Window.partitionBy("vec_id").orderBy(col("aff").desc, col("cid").asc)
      scored.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .select("vec_id", "cid")
    }

    // deterministic training sample: keep vec_ids whose PORTABLE hash (md5
    // prefix — replicable in the oracle, unlike xxhash64) falls under a
    // threshold sized from the same bounded count
    val keepPerMille = math.min(1000L, trainTarget * 1000L / math.max(n, 1L) + 1L)
    val train = emb.filter(
      pmod(conv(substring(md5(col("vec_id").cast("string")), 1, 15), 16, 10)
        .cast("long"), lit(1000L)) < keepPerMille)

    var centroids: Seq[(Int, Seq[Double])] = emb.filter(col("vec_id") < nClusters)
      .orderBy("vec_id").collect()
      .map(r => (r.getAs[Long]("vec_id").toInt,
        r.getAs[scala.collection.Seq[Double]]("v").toSeq)).toSeq
    for (_ <- 1 to nIters) {
      // EXACT integer mean per coordinate: micro-unit quantize, integer sum
      // (order-independent), floor-div (x − pmod(x, n) keeps Spark's
      // truncating div equal to DuckDB's flooring // on negative sums),
      // back to double (deterministic: same IEEE division both engines)
      val means = assign(train, centroids)
        .join(train, "vec_id")
        .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
        .withColumn("xi", round(col("x") * 1000000).cast("long"))
        .groupBy("cid", "pos")
        .agg(expr("(sum(xi) - pmod(sum(xi), count(1))) div count(1)").as("mi"))
        .withColumn("m", col("mi").cast("double") / 1000000.0)
        .groupBy("cid").agg(sort_array(collect_list(struct(col("pos"), col("m")))).as("mv"))
        .select(col("cid"), col("mv.m").as("cv"))
        .collect()
        .map(r => (r.getAs[Int]("cid"), r.getAs[scala.collection.Seq[Double]]("cv").toSeq))
        .toSeq.sortBy(_._1)
      // a cell can empty out under sampling: keep its previous centroid
      val prev = centroids.toMap
      centroids = (0 until nClusters)
        .map(i => i -> means.toMap.getOrElse(i, prev(i))).toSeq
    }

    val cdf = s.createDataFrame(centroids.map { case (i, c) => (i, c) }).toDF("cid", "cv")
    val member = assign(emb, centroids) // final FULL cell assignment (the inverted file)
    IvfIndex(emb, cdf, member, nProbe)
  }

  // ---------------------------------------------------------------------
  // Staged ANN index (Staging idiom — the graph/dedup staging applied to
  // the similarity index): sim_ann_ivf/sim_ann_ivfpq honestly rebuild
  // their index per run, but production searches a PERSISTED index (FAISS
  // `add` once, `search` many; the split-measured search exponent is the
  // flat −0.12). The staged variants persist the index relations as
  // managed tables — the inverted file bucketed by CELL, the production
  // read layout, so a probe touches only its cells' buckets — and run the
  // search path alone, under the SAME oracles (a staged index holds
  // exactly what the in-run build computes, so results are identical).
  // ---------------------------------------------------------------------

  /** IVF staged layout: centroid table + inverted file (cid, vec_id, v,
    * nrm) bucketed+sorted by cid. Returns (cdf table, invfile table,
    * nCells). */
  private def stagedIvf(s: SparkSession, d: String): (String, String, Long) = {
    lazy val built = ivfBuild(s, d) // evaluated only if a table is missing
    val (cdfT, nCells) = graft.sources.Staging.ensureTable(s, "sim_ivf_cdf",
      d, "embeddings.parquet", "cid", 4, Some("cid"))(built.cdf)
    val (invT, _) = graft.sources.Staging.ensureTable(s, "sim_ivf_invfile",
      d, "embeddings.parquet", "cid", 32, Some("cid"))(
      built.member.join(built.emb, "vec_id")
        .select(col("cid"), col("vec_id"), col("v"), col("nrm")))
    (cdfT, invT, nCells)
  }

  /** sim_ann_ivf against the staged index — same oracle; the search is
    * probe-cells → ONE join against the cell-bucketed inverted file. */
  def simAnnIvfStaged(s: SparkSession, d: String): DataFrame = {
    val (cdfT, invT, nCells) = stagedIvf(s, d)
    val cdf = s.table(cdfT)
    val inv = s.table(invT)
    val nProbe = math.max(3L, math.ceil(nCells / 8.0).toLong).toInt
    val queries = inv.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qnrm"))
    val wq = Window.partitionBy("qid").orderBy(col("aff").desc, col("cid").asc)
    val probes = queries.join(broadcast(cdf), lit(true))
      .select(col("qid"), col("qv"), col("qnrm"), col("cid"),
        (vecDot(col("qv"), col("cv")) - vecDot(col("cv"), col("cv")) / 2).as("aff"))
      .withColumn("rk", row_number().over(wq)).filter(col("rk") <= nProbe)
      .select("qid", "qv", "qnrm", "cid")
    val cand = probes.join(inv, "cid")
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cand_id"),
        round(vecDot(col("qv"), col("v")) / (col("qnrm") * col("nrm")), 4).as("cosine"))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("cand_id").asc)
    cand.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select("qid", "cand_id", "cosine", "rk")
      .orderBy("qid", "rk")
  }

  // The 8 hyperplanes inlined as DOUBLE[] literals: Scala's Double.toString
  // is the shortest decimal that round-trips, so DuckDB reparses the exact
  // bit pattern and computes the identical sign signature.
  private val simAnnLshSql = {
    // plane rows carry no leading '|', so the outer stripMargin leaves them
    val planeRows = planes.zipWithIndex
      .map { case (pl, i) => s"($i, [${pl.mkString(", ")}]::DOUBLE[])" }
      .mkString(",\n")
    s"""WITH v AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS e,
       |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
       |  FROM embeddings
       |), planes(p, pl) AS (
       |  VALUES $planeRows
       |), sig AS (
       |  SELECT v.vec_id,
       |    CAST(sum(CASE WHEN list_dot_product(v.e, planes.pl) >= 0
       |      THEN 1 << planes.p ELSE 0 END) AS BIGINT) AS sig
       |  FROM v CROSS JOIN planes GROUP BY v.vec_id
       |), q AS (
       |  SELECT v.vec_id AS qid, v.e AS qv, v.nrm AS qnrm, s.sig AS qsig
       |  FROM v JOIN sig s ON s.vec_id = v.vec_id WHERE v.vec_id < 10
       |), scored AS (
       |  SELECT q.qid, v.vec_id AS cand_id,
       |    round(list_dot_product(q.qv, v.e) / (q.qnrm * v.nrm), 4) AS cosine
       |  FROM v JOIN sig s ON s.vec_id = v.vec_id
       |  JOIN q ON s.sig = q.qsig AND v.vec_id <> q.qid
       |), ranked AS (
       |  SELECT qid, cand_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cand_id) AS BIGINT) AS rk
       |  FROM scored
       |)
       |SELECT qid, cand_id, cosine, rk FROM ranked WHERE rk <= 3
       |ORDER BY qid, rk""".stripMargin
  }

  /** k-nearest-neighbor GRAPH: top-3 cosine neighbors for EVERY vector, not
    * just a query set — the structure semantic-dedup clustering and
    * diversity sampling are built on. All-pairs is n² and unthinkable at
    * 100 TB; instead both sides bucket by the LSH sign signature and the
    * self-join runs per bucket (a shuffle hash join on `sig`, ~n/256 rows a
    * bucket, skew split by AQE). Recall at scale comes from running multiple
    * signature bands and unioning — same plan shape, b× the cost, still
    * never n². Fully oracled: the plane constants are embedded in the SQL
    * (see simAnnLsh), so bucket membership matches bit-exactly. */
  def simKnnGraph(s: SparkSession, d: String): DataFrame = {
    val emb = sigRelation(s, d)
    val pairs = emb.as("a").join(emb.as("b"),
        col("a.sig") === col("b.sig") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("nbr_id"),
        round(vecDot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")), 4).as("cosine"))
    val w = Window.partitionBy("vec_id").orderBy(col("cosine").desc, col("nbr_id").asc)
    pairs.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .orderBy("vec_id", "rk")
  }

  private val simKnnGraphSql = {
    val planeRows = planes.zipWithIndex
      .map { case (pl, i) => s"($i, [${pl.mkString(", ")}]::DOUBLE[])" }
      .mkString(",\n")
    s"""WITH v AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS e,
       |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
       |  FROM embeddings
       |), planes(p, pl) AS (
       |  VALUES $planeRows
       |), sig AS (
       |  SELECT v.vec_id,
       |    CAST(sum(CASE WHEN list_dot_product(v.e, planes.pl) >= 0
       |      THEN 1 << planes.p ELSE 0 END) AS BIGINT) AS sig
       |  FROM v CROSS JOIN planes GROUP BY v.vec_id
       |), scored AS (
       |  SELECT a.vec_id, b.vec_id AS nbr_id,
       |    round(list_dot_product(x.e, y.e) / (x.nrm * y.nrm), 4) AS cosine
       |  FROM sig a JOIN sig b ON a.sig = b.sig AND a.vec_id <> b.vec_id
       |  JOIN v x ON x.vec_id = a.vec_id
       |  JOIN v y ON y.vec_id = b.vec_id
       |), ranked AS (
       |  SELECT vec_id, nbr_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, nbr_id) AS BIGINT) AS rk
       |  FROM scored
       |)
       |SELECT vec_id, nbr_id, cosine, rk FROM ranked WHERE rk <= 3
       |ORDER BY vec_id, rk""".stripMargin
  }

  /** Per-label centroid norm — the IVF coarse-quantizer statistic. Two-level
    * aggregation: (label, dim) partial means, then per-label norm. */
  def simCentroidByLabel(s: SparkSession, d: String): DataFrame = {
    val v = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("e"))
    val x = v.select(col("label"), posexplode(col("e")).as(Seq("pos", "val")))
    val centroid = x.groupBy("label", "pos").agg(avg("val").as("m"))
      .groupBy("label").agg(round(sqrt(sum(col("m") * col("m"))), 4).as("centroid_norm"))
    val counts = v.groupBy("label").agg(count(lit(1)).as("n_vecs"))
    counts.join(centroid, "label")
      .select(col("label").cast("long").as("label"), col("n_vecs"), col("centroid_norm"))
      .orderBy("label")
  }

  private val simCentroidByLabelSql =
    """WITH v AS (
      |  SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings
      |), x AS (
      |  SELECT label, unnest(e) AS val,
      |    unnest(generate_series(1, array_length(e))) AS pos
      |  FROM v
      |), c AS (
      |  SELECT label, pos, avg(val) AS m FROM x GROUP BY label, pos
      |), cn AS (
      |  SELECT label, round(sqrt(sum(m * m)), 4) AS centroid_norm FROM c GROUP BY label
      |), n AS (
      |  SELECT label, count(*) AS n_vecs FROM v GROUP BY label
      |)
      |SELECT CAST(n.label AS BIGINT) AS label, n.n_vecs, cn.centroid_norm
      |FROM n JOIN cn ON n.label = cn.label
      |ORDER BY label""".stripMargin

  /** Cross-modal join: documents ⋈ their embedding rows (vec_id = doc_id),
    * per-language count / mean vector norm / mean length — the "join text
    * metadata to its embedding" shape every retrieval pipeline has. */
  def simDocEmbeddingJoin(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), vecNorm(asDouble(col("embedding"))).as("nrm"))
    Tables.documents(s, d)
      .join(emb, col("doc_id") === col("vec_id"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n"),
        round(avg("nrm"), 4).as("avg_norm"),
        round(avg(col("n_chars").cast("double")), 2).as("avg_chars"))
      .orderBy("lang")
  }

  private val simDocEmbeddingJoinSql =
    """WITH emb AS (
      |  SELECT vec_id,
      |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |  FROM embeddings
      |)
      |SELECT lang, count(*) AS n,
      |  round(avg(nrm), 4) AS avg_norm,
      |  round(avg(n_chars * 1.0), 2) AS avg_chars
      |FROM documents JOIN emb ON doc_id = vec_id
      |GROUP BY lang ORDER BY lang""".stripMargin

  /** Product-quantization ANN (Jégou et al.): compress each 64-dim vector to
    * 8 one-byte codes (8 subspaces × k-codeword codebooks, k = √n clamped
    * to [16, 256] — at the 256 cap, 32× smaller than float32), then answer
    * queries by ASYMMETRIC DISTANCE: the query stays full-precision and
    * scores against codewords, not vectors. This is the memory-side scale
    * path for 100 TB embedding stores (IVF prunes the search space; PQ
    * shrinks what's resident) — at scale the 8-byte codes live in memory
    * while raw vectors stay on disk for optional re-rank.
    *
    * Codebooks are anchor-based like the IVF quantizer (codeword c of
    * subspace s = subvector of corpus vector c, c < k — deterministic, no
    * trained k-means in the oracle path). Oracle-exactness: each per-subspace
    * dot is an 8-element sequential double dot (bit-identical cross-engine,
    * the sim_topk precedent), quantized to integer MICRO-units BEFORE the
    * per-pair sum, so the 8-term accumulation is order-independent — the
    * same quantize-then-sum rule every float aggregate here follows. */
  def simAnnPq(s: SparkSession, d: String): DataFrame = simAnnPqTopk(s, d, 5)

  /** PQ/ADC ranking with a configurable cutoff — the production shape is a
    * wide PQ shortlist (cheap, in-memory codes) followed by exact re-rank of
    * the shortlist only; SimilaritySpec asserts the shortlist at 50 always
    * contains the exact top-1 neighbor. */
  private[graft] def simAnnPqTopk(s: SparkSession, d: String, topk: Int): DataFrame = {
    val m = 8; val dsub = 8
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    // codebook size derives from the corpus (√n anchors per subspace,
    // clamped to [16, 256]): tiny fixtures keep ≥16 codewords, and the cap
    // IS the production PQ value — 256 codewords = one byte per code, the
    // point of product quantization; a bounded count() action, like IVF,
    // memoized per JVM per dataset (shared "emb_rows" stamp key)
    val k = math.min(256L, math.max(16L,
      math.ceil(math.sqrt(embRows(s, d, emb).toDouble)).toLong)).toInt
    val subs = emb.select(col("vec_id"),
      posexplode(array((0 until m).map(sub =>
        slice(col("v"), sub * dsub + 1, dsub)): _*)).as(Seq("s", "vs")))
    val codebook = subs.filter(col("vec_id") < k)
      .select(col("s").as("cs"), col("vec_id").cast("int").as("ccode"),
        col("vs").as("cw"))
    // encode: nearest codeword per (vector, subspace) — argmax of the same
    // dot−|c|²/2 affinity the IVF quantizer uses, ties to the smaller code
    val encoded = subs.join(broadcast(codebook), col("s") === col("cs"))
      .select(col("vec_id"), col("s"), col("ccode"),
        (vecDot(col("vs"), col("cw")) - vecDot(col("cw"), col("cw")) / 2).as("aff"))
      .groupBy("vec_id", "s")
      .agg(max_by(col("ccode"), struct(col("aff"), -col("ccode"))).as("code"))
    val scored = encoded
      .join(broadcast(codebook),
        col("s") === col("cs") && col("code") === col("ccode"))
      .join(broadcast(subs.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("s").as("qs"), col("vs").as("qv"))),
        col("s") === col("qs") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cand_id"),
        round(vecDot(col("qv"), col("cw")) * 1000000).cast("long").as("d_micro"))
      .groupBy("qid", "cand_id")
      .agg(sum("d_micro").as("approx_micro"))
    val w = Window.partitionBy("qid")
      .orderBy(col("approx_micro").desc, col("cand_id").asc)
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= topk)
      .select("qid", "cand_id", "approx_micro", "rk")
      .orderBy("qid", "rk")
  }

  private val simAnnPqSql =
    """WITH v AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
      |), subs AS (
      |  SELECT vec_id, s, list_slice(e, s * 8 + 1, s * 8 + 8) AS vs
      |  FROM v CROSS JOIN (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) sub(s)
      |), params AS (
      |  SELECT LEAST(256, GREATEST(16,
      |    CAST(ceil(sqrt(count(*))) AS BIGINT))) AS k FROM v
      |), codebook AS (
      |  SELECT s AS cs, CAST(vec_id AS INT) AS ccode, vs AS cw
      |  FROM subs, params WHERE vec_id < k
      |), aff AS (
      |  SELECT sub.vec_id, sub.s, cb.ccode,
      |    list_dot_product(sub.vs, cb.cw)
      |      - list_dot_product(cb.cw, cb.cw) / 2 AS aff
      |  FROM subs sub JOIN codebook cb ON sub.s = cb.cs
      |), encoded AS (
      |  SELECT vec_id, s, ccode AS code FROM (
      |    SELECT vec_id, s, ccode,
      |      row_number() OVER (PARTITION BY vec_id, s
      |        ORDER BY aff DESC, ccode) AS rk
      |    FROM aff
      |  ) WHERE rk = 1
      |), scored AS (
      |  SELECT q.vec_id AS qid, enc.vec_id AS cand_id,
      |    CAST(round(list_dot_product(q.vs, cb.cw) * 1000000) AS BIGINT) AS d_micro
      |  FROM encoded enc
      |  JOIN codebook cb ON enc.s = cb.cs AND enc.code = cb.ccode
      |  JOIN subs q ON q.s = enc.s AND q.vec_id < 10 AND q.vec_id <> enc.vec_id
      |), by_pair AS (
      |  SELECT qid, cand_id, CAST(sum(d_micro) AS BIGINT) AS approx_micro
      |  FROM scored GROUP BY qid, cand_id
      |), ranked AS (
      |  SELECT qid, cand_id, approx_micro,
      |    CAST(row_number() OVER (PARTITION BY qid
      |      ORDER BY approx_micro DESC, cand_id) AS BIGINT) AS rk
      |  FROM by_pair
      |)
      |SELECT qid, cand_id, approx_micro, rk FROM ranked WHERE rk <= 5
      |ORDER BY qid, rk""".stripMargin

  /** Late-interaction MULTI-VECTOR scoring (ColBERT's MaxSim, Khattab &
    * Zaharia 2020): a "document" is a SET of vectors (here: a label group),
    * and score(Q, D) = Σ_{q∈Q} max_{d∈D} cos(q, d) — each query vector finds
    * its best-matching document vector, unlike single-vector retrieval that
    * pools first and loses token-level alignment.
    *
    * Scale shape: the small query set (2 labels' vectors) BROADCASTS against
    * ONE scan of the corpus vectors — per (query-vector, doc-label) maxes
    * are a hash-aggregate on that scan (map-side partial maxes), and the
    * final Σ is a tiny re-aggregation. The corpus never self-joins and
    * nothing materializes |Q|×|D| beyond the streamed scan.
    *
    * Parity: each pair cosine quantizes to integer ten-thousandths BEFORE
    * max/sum (both engines produce bit-identical doubles for the index-order
    * dot product — the same contract every sim_* oracle relies on — and
    * max/Σ over integers are order-independent). */
  def simMaxsim(s: SparkSession, d: String): DataFrame = {
    val v = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", vecNorm(col("v")))
    val queries = v.filter(col("label") <= 1)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("v").as("qv"), col("nrm").as("qnrm"))
    val pairCos = v.crossJoin(broadcast(queries))
      .select(col("qlabel"), col("qid"), col("label").as("dlabel"),
        round(vecDot(col("qv"), col("v")) / (col("qnrm") * col("nrm")) * 10000)
          .cast("long").as("cos_e4"))
    pairCos
      .groupBy("qlabel", "qid", "dlabel")
      .agg(max("cos_e4").as("best_e4"))
      .groupBy("qlabel", "dlabel")
      .agg(count(lit(1)).as("n_qvecs"), sum("best_e4").as("maxsim_e4"))
      .orderBy("qlabel", "dlabel")
  }

  private val simMaxsimSql =
    """WITH v AS (
      |  SELECT vec_id, label, embedding::DOUBLE[] AS e,
      |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |  FROM embeddings
      |), q AS (
      |  SELECT vec_id AS qid, label AS qlabel, e AS qv, nrm AS qnrm
      |  FROM v WHERE label <= 1
      |), best AS (
      |  SELECT q.qlabel, q.qid, v.label AS dlabel,
      |    max(CAST(round(list_dot_product(q.qv, v.e) / (q.qnrm * v.nrm) * 10000)
      |        AS BIGINT)) AS best_e4
      |  FROM v CROSS JOIN q
      |  GROUP BY 1, 2, 3
      |)
      |SELECT qlabel, dlabel, CAST(count(*) AS BIGINT) AS n_qvecs,
      |  CAST(sum(best_e4) AS BIGINT) AS maxsim_e4
      |FROM best GROUP BY qlabel, dlabel
      |ORDER BY qlabel, dlabel""".stripMargin

  /** The unrolled-Lloyd IVF oracle: 3 training iterations as CTE chains
    * (assignment by list_dot_product affinity — index-order reduction, bit-
    * identical to vecDot — then exact integer micro-unit means with floor
    * division and empty-cell carry-forward), final full assignment, nprobe
    * cell probing, exact cosine rerank. Dim 64 and the md5-prefix sample
    * threshold are inlined; `// 2` halving is exact (power of two). */
  private val simAnnIvfSql: String = {
    val hv = OracleSql.hexPrefix("md5(CAST(vec_id AS VARCHAR))", 15)
    def iter(k: Int): String = {
      val prev = if (k == 1) "cent0" else s"cent${k - 1}"
      s"""a$k AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT t.vec_id, c.cid,
         |      row_number() OVER (PARTITION BY t.vec_id ORDER BY
         |        list_dot_product(t.e, c.cl) - list_dot_product(c.cl, c.cl) / 2 DESC,
         |        c.cid) AS rk
         |    FROM train t CROSS JOIN $prev c
         |  ) WHERE rk = 1
         |), m$k AS (
         |  SELECT a.cid, i.i AS pos,
         |    CAST(sum(CAST(round(t.e[i.i] * 1000000) AS BIGINT)) // count(*) AS BIGINT) AS mi
         |  FROM a$k a JOIN train t USING (vec_id)
         |  CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) i
         |  GROUP BY a.cid, i.i
         |), cent$k AS (
         |  SELECT c0.cid, coalesce(m.cl, c0.cl) AS cl
         |  FROM $prev c0 LEFT JOIN (
         |    SELECT cid, list(mi / 1000000.0 ORDER BY pos) AS cl FROM m$k GROUP BY cid
         |  ) m USING (cid)
         |)""".stripMargin
    }
    s"""WITH v AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS e,
       |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
       |  FROM embeddings
       |), params AS (
       |  SELECT GREATEST(16, LEAST(4096,
       |      CAST(ceil(sqrt(count(*))) AS BIGINT))) AS nl,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM v
       |), params2 AS (
       |  SELECT nl,
       |    GREATEST(3, CAST(ceil(nl / 8.0) AS BIGINT)) AS np,
       |    LEAST(1000, CAST((64 * nl * 1000) // GREATEST(n, 1) AS BIGINT) + 1) AS kpm
       |  FROM params
       |), train AS (
       |  SELECT v.* FROM v, params2 WHERE ($hv) % 1000 < kpm
       |), cent0 AS (
       |  SELECT CAST(vec_id AS INT) AS cid, e AS cl FROM v, params2 WHERE vec_id < nl
       |), ${iter(1)}, ${iter(2)}, ${iter(3)},
       |member AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT x.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY x.vec_id ORDER BY
       |        list_dot_product(x.e, c.cl) - list_dot_product(c.cl, c.cl) / 2 DESC,
       |        c.cid) AS rk
       |    FROM v x CROSS JOIN cent3 c
       |  ) WHERE rk = 1
       |), probes AS (
       |  SELECT qid, cid FROM (
       |    SELECT q.vec_id AS qid, c.cid,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        list_dot_product(q.e, c.cl) - list_dot_product(c.cl, c.cl) / 2 DESC,
       |        c.cid) AS rk
       |    FROM v q CROSS JOIN cent3 c WHERE q.vec_id < 10
       |  ), params2 WHERE rk <= np
       |), cand AS (
       |  SELECT p.qid, m.vec_id AS cand_id,
       |    round(list_dot_product(q.e, x.e) / (q.nrm * x.nrm), 4) AS cosine
       |  FROM probes p
       |  JOIN member m USING (cid)
       |  JOIN v q ON q.vec_id = p.qid
       |  JOIN v x ON x.vec_id = m.vec_id
       |  WHERE m.vec_id <> p.qid
       |)
       |SELECT qid, cand_id, cosine, rk FROM (
       |  SELECT qid, cand_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY qid
       |      ORDER BY cosine DESC, cand_id) AS BIGINT) AS rk
       |  FROM cand
       |) WHERE rk <= 3
       |ORDER BY qid, rk""".stripMargin
  }

  /** ANN quality EVALUATION as a first-class query: recall@3 of BOTH
    * indexes (LSH, IVF) against the exact brute-force ground truth, per
    * (method, query) in integer basis points — the measure-don't-guess
    * harness every ANN deployment wires into its pipeline (index drift,
    * bucket-width regressions, plane/centroid changes all show up here
    * before they hit production retrieval). Composes three already-oracled
    * queries; the oracle nests all three SQL chains, so the hash match
    * re-proves ground truth, both indexes, AND the recall arithmetic in
    * one statement. The result itself is informative: on this corpus
    * IVF(nprobe) recalls real neighbors while exact-8-bit-signature LSH
    * measures ≈ 0 — precisely the finding an eval harness exists to
    * surface (and why sim_ann_lsh banded variants exist). */
  def simRecallEval(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val brute = simTopkBruteforce(s, d).filter(col("rk") <= 3)
      .select(col("qid"), col("cand_id"))
    val ann = simAnnLsh(s, d)
      .select(lit("lsh").as("method"), col("qid").as("a_qid"), col("cand_id").as("a_cand"))
      .unionAll(simAnnIvf(s, d)
        .select(lit("ivf").as("method"), col("qid").as("a_qid"), col("cand_id").as("a_cand")))
    val hits = brute
      .join(ann, col("qid") === col("a_qid") && col("cand_id") === col("a_cand"))
      .groupBy("method", "qid").agg(count(lit(1)).as("n_hits"))
    brute.select("qid").distinct()
      .crossJoin(Seq("lsh", "ivf").toDF("method"))
      .join(hits, Seq("method", "qid"), "left")
      .select(col("method"), col("qid"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        expr("(coalesce(n_hits, 0) * 10000) div 3").as("recall_bp"))
      .orderBy("method", "qid")
  }

  private val simRecallEvalSql =
    s"""WITH brute AS (
       |${simTopkBruteforceSql}
       |), ann_lsh AS (
       |${simAnnLshSql}
       |), ann_ivf AS (
       |${simAnnIvfSql}
       |), ann AS (
       |  SELECT 'lsh' AS method, qid, cand_id FROM ann_lsh
       |  UNION ALL SELECT 'ivf', qid, cand_id FROM ann_ivf
       |), b3 AS (
       |  SELECT qid, cand_id FROM brute WHERE rk <= 3
       |), hits AS (
       |  SELECT ann.method, b3.qid, count(*) AS n_hits
       |  FROM b3 JOIN ann ON ann.qid = b3.qid AND ann.cand_id = b3.cand_id
       |  GROUP BY ann.method, b3.qid
       |), spine AS (
       |  SELECT m.method, q.qid
       |  FROM (SELECT DISTINCT qid FROM b3) q
       |  CROSS JOIN (VALUES ('lsh'), ('ivf')) m(method)
       |)
       |SELECT spine.method, spine.qid, coalesce(n_hits, 0) AS n_hits,
       |  CAST((coalesce(n_hits, 0) * 10000) // 3 AS BIGINT) AS recall_bp
       |FROM spine
       |LEFT JOIN hits ON spine.method = hits.method AND spine.qid = hits.qid
       |ORDER BY spine.method, spine.qid""".stripMargin

  /** RANGE search (all neighbors with cosine ≥ τ, not top-k) via MULTIPROBE
    * LSH: each query probes its exact signature bucket PLUS the 8 Hamming-1
    * neighbor buckets (flip one sign bit). Multiprobe is the standard
    * recall/cost dial for signature LSH — 9 probes ≈ 9/256 of the corpus
    * per query instead of a full scan, and because every corpus vector
    * lives in exactly ONE bucket the probe union is duplicate-free by
    * construction (no distinct needed). The probe fan-out explodes on the
    * tiny broadcast query side, never on the corpus. The oracle replicates
    * the probe semantics bit-exactly (planes inlined as round-trip decimal
    * literals, index-order dot reduction); recall vs the brute-force
    * threshold scan is asserted in SimilaritySpec. */
  def simRangeSearch(s: SparkSession, d: String): DataFrame = {
    val emb = sigRelation(s, d)
    def shl(v: Column, n: Column) = call_function("shiftleft", v, n)
    val probes = Tables.embeddings(s, d)
      .filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), asDouble(col("embedding")).as("qv"))
      .withColumn("qnrm", vecNorm(col("qv")))
      .withColumn("qsig", sigExpr(col("qv")))
      .withColumn("p", explode(sequence(lit(-1), lit(planes.size - 1))))
      .withColumn("probe_sig", when(col("p") === -1, col("qsig"))
        .otherwise(col("qsig").bitwiseXOR(shl(lit(1L), col("p")))))
    emb.alias("e").join(broadcast(probes.alias("pr")),
        col("e.sig") === col("pr.probe_sig") && col("e.vec_id") =!= col("pr.qid"))
      .select(col("pr.qid").as("qid"), col("e.vec_id").as("cand_id"),
        round(vecDot(col("pr.qv"), col("e.v")) / (col("pr.qnrm") * col("e.nrm")), 4)
          .as("cosine"))
      .filter(col("cosine") >= 0.2)
      .orderBy("qid", "cand_id")
  }

  private val simRangeSearchSql = {
    val planeRows = planes.zipWithIndex
      .map { case (pl, i) => s"($i, [${pl.mkString(", ")}]::DOUBLE[])" }
      .mkString(",\n")
    s"""WITH v AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS e,
       |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
       |  FROM embeddings
       |), planes(p, pl) AS (
       |  VALUES $planeRows
       |), sig AS (
       |  SELECT v.vec_id,
       |    CAST(sum(CASE WHEN list_dot_product(v.e, planes.pl) >= 0
       |      THEN 1 << planes.p ELSE 0 END) AS BIGINT) AS sig
       |  FROM v CROSS JOIN planes GROUP BY v.vec_id
       |), q AS (
       |  SELECT v.vec_id AS qid, v.e AS qv, v.nrm AS qnrm, s.sig AS qsig
       |  FROM v JOIN sig s ON s.vec_id = v.vec_id WHERE v.vec_id < 10
       |), probes AS (
       |  SELECT qid, qv, qnrm,
       |    CASE WHEN pr.p = -1 THEN qsig ELSE xor(qsig, CAST(1 << pr.p AS BIGINT)) END AS probe_sig
       |  FROM q CROSS JOIN (SELECT unnest(generate_series(-1, 7)) AS p) pr
       |)
       |SELECT pb.qid, v.vec_id AS cand_id,
       |  round(list_dot_product(pb.qv, v.e) / (pb.qnrm * v.nrm), 4) AS cosine
       |FROM v JOIN sig s ON s.vec_id = v.vec_id
       |JOIN probes pb ON s.sig = pb.probe_sig AND v.vec_id <> pb.qid
       |WHERE round(list_dot_product(pb.qv, v.e) / (pb.qnrm * v.nrm), 4) >= 0.2
       |ORDER BY qid, cand_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // sim_ann_ivfpq — the composed IVF + PQ index (FAISS IndexIVFPQ / the
  // Jégou et al. 2011 IVFADC pipeline), the memory-AND-compute-side 100 TB
  // ANN architecture: a coarse quantizer restricts each query to nProbe
  // inverted lists, vectors are stored only as m-byte PQ codes of their
  // RESIDUAL (v − centroid), queries score candidates via an ADC lookup
  // table (one small LUT per query, 8 integer lookups per candidate), and
  // only the ADC shortlist is exact-re-ranked against the full vectors.
  //
  // Scale shape: centroids, PQ codebook, query LUTs are all broadcast
  // (≤ a few KB); the corpus is scanned once for assignment+encoding; the
  // only corpus-sized shuffles are the two encode/score hash-aggregates on
  // (vec_id[, s]); the exact re-rank touches ≤ shortlist×queries rows.
  //
  // Oracle-exactness: every affinity is a composition of index-order
  // 8-element double dot products (bit-identical cross-engine — the
  // sim_topk contract), residual arrays are built by UNROLLED per-element
  // subtraction (plain codegen'd expressions, no higher-order-function
  // lambdas — see the sim_range_search Catalyst trap), and ADC terms are
  // quantized to integer micro-units BEFORE the per-candidate sum so the
  // accumulation is order-independent.
  // ---------------------------------------------------------------------

  /** The built IVFPQ index as relations + the knobs that sized it — the
    * BUILD/SEARCH split mirrors production use (build once, search many)
    * and lets ScaleSmoke measure the two paths' scaling separately. */
  private[graft] final case class IvfpqIndex(
      emb: DataFrame, cdf: DataFrame, codebook: DataFrame,
      member: DataFrame, encoded: DataFrame, nProbe: Int)

  def simAnnIvfpq(s: SparkSession, d: String): DataFrame =
    ivfpqSearch(ivfpqBuild(s, d), shortlist = 10, topk = 3)

  /** IVFPQ staged layout: centroids, PQ codebook, member (by cell) and PQ
    * codes persisted as managed tables; search reads the tables only. */
  private def stagedIvfpq(s: SparkSession, d: String): IvfpqIndex = {
    import graft.sources.Staging.ensureTable
    lazy val built = ivfpqBuild(s, d) // evaluated only if a table is missing
    val (cdfT, nCells) = ensureTable(s, "sim_ivfpq_cdf", d,
      "embeddings.parquet", "cid", 4, Some("cid"))(built.cdf)
    val (cbT, _) = ensureTable(s, "sim_ivfpq_codebook", d,
      "embeddings.parquet", "cs", 4, Some("cs"))(built.codebook)
    val (mbT, _) = ensureTable(s, "sim_ivfpq_member", d,
      "embeddings.parquet", "cid", 32, Some("cid"))(built.member)
    val (enT, _) = ensureTable(s, "sim_ivfpq_encoded", d,
      "embeddings.parquet", "vec_id", 32, Some("vec_id"))(built.encoded)
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", vecNorm(col("v")))
    val nProbe = math.max(2L, math.ceil(nCells / 8.0).toLong).toInt
    IvfpqIndex(emb, s.table(cdfT), s.table(cbT), s.table(mbT),
      s.table(enT), nProbe)
  }

  /** sim_ann_ivfpq against the staged index — same oracle, search-only
    * cost (probe + broadcast ADC LUT + shortlist re-rank). */
  def simAnnIvfpqStaged(s: SparkSession, d: String): DataFrame =
    ivfpqSearch(stagedIvfpq(s, d), shortlist = 10, topk = 3)

  /** BUILD path: coarse assignment (n·nCells affinities) + residual PQ
    * encoding (n·m·nCodes affinities) — the one-time index-construction
    * cost every IVF system pays (FAISS `add`); linear in n once the
    * codeword cap (256) and cell cap (4096) are reached. */
  private[graft] def ivfpqBuild(s: SparkSession, d: String): IvfpqIndex = {
    val m = 8; val dsub = 8
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", vecNorm(col("v")))
    // Same corpus-derived sizing as sim_ann_ivf / sim_ann_pq (one bounded
    // count): √n cells clamped [16, 4096], √n codewords clamped [16, 256]
    // (256 = the production one-byte-code value), probe an eighth of the
    // cells (≥2) so recall holds at a constant fraction as the index grows.
    // The oracle derives identical values from count(*) in SQL.
    val n = embRows(s, d, emb)
    val root = math.ceil(math.sqrt(n.toDouble)).toLong
    val nCells = math.max(16L, math.min(4096L, root)).toInt
    val nCodes = math.max(16L, math.min(256L, root)).toInt
    val nProbe = math.max(2L, math.ceil(nCells / 8.0).toLong).toInt

    // coarse quantizer: first nCells vectors as centroids (deterministic —
    // Lloyd training is demonstrated in sim_ann_ivf; here the new piece is
    // the IVF∘PQ composition)
    val cdf = emb.filter(col("vec_id") < nCells)
      .select(col("vec_id").cast("int").as("cid"), col("v").as("cv"))
    // every vector's cell: argmax of dot(v,c) − |c|²/2, ties to smaller cid
    val member = emb.join(broadcast(cdf), lit(true))
      .select(col("vec_id"), col("cid"),
        (vecDot(col("v"), col("cv")) - vecDot(col("cv"), col("cv")) / 2).as("aff"))
      .groupBy("vec_id")
      .agg(max_by(col("cid"), struct(col("aff"), -col("cid"))).as("cid"))

    // residual subvectors, one row per (vector, subspace): rs[j] =
    // v[s·8+j] − cv[s·8+j], unrolled getItem arithmetic (codegen-friendly)
    val resid = emb.join(member, "vec_id")
      .join(broadcast(cdf), "cid")
      .select(col("vec_id"), col("cid"),
        posexplode(array((0 until m).map(sub =>
          array((0 until dsub).map(j =>
            col("v").getItem(sub * dsub + j) - col("cv").getItem(sub * dsub + j)): _*)): _*))
          .as(Seq("s", "rs")))

    // PQ codebook per subspace: residuals of training vectors
    // [nCells, nCells + nCodes)
    val codebook = resid
      .filter(col("vec_id") >= nCells && col("vec_id") < nCells + nCodes)
      .select(col("s").as("cs"), (col("vec_id") - nCells).cast("int").as("ccode"),
        col("rs").as("cw"))
    // encode every vector: nearest codeword per (vector, subspace)
    val encoded = resid.join(broadcast(codebook), col("s") === col("cs"))
      .select(col("vec_id"), col("s"), col("ccode"),
        (vecDot(col("rs"), col("cw")) - vecDot(col("cw"), col("cw")) / 2).as("aff"))
      .groupBy("vec_id", "s")
      .agg(max_by(col("ccode"), struct(col("aff"), -col("ccode"))).as("code"))
    IvfpqIndex(emb, cdf, codebook, member, encoded, nProbe)
  }

  /** SEARCH path: nProbe cell probing + broadcast ADC lookup table +
    * shortlist re-rank — touches only probed-cell candidates, sublinear in
    * the corpus; the per-query work is bounded by cells probed × cell size
    * + shortlist. */
  private[graft] def ivfpqSearch(ix: IvfpqIndex, shortlist: Int, topk: Int): DataFrame = {
    val m = 8; val dsub = 8
    val emb = ix.emb; val cdf = ix.cdf; val codebook = ix.codebook
    val member = ix.member; val encoded = ix.encoded; val nProbe = ix.nProbe

    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qnrm"))
    // each query probes its nProbe best cells; the centroid term of the
    // inner-product expansion dot(q,v) ≈ dot(q,c) + Σ_s dot(q_s, cw_s)
    // rides along as integer micro-units
    val wq = Window.partitionBy("qid").orderBy(col("aff").desc, col("cid").asc)
    val probes = queries.join(broadcast(cdf), lit(true))
      .select(col("qid"), col("cid"),
        (vecDot(col("qv"), col("cv")) - vecDot(col("cv"), col("cv")) / 2).as("aff"),
        round(vecDot(col("qv"), col("cv")) * 1000000).cast("long").as("cterm_micro"))
      .withColumn("rk", row_number().over(wq)).filter(col("rk") <= nProbe)
      .select("qid", "cid", "cterm_micro")
    // ADC lookup table: (qid, s, code) → round(dot(q_s, cw)·1e6)
    val lut = queries
      .select(col("qid"), posexplode(array((0 until m).map(sub =>
        slice(col("qv"), sub * dsub + 1, dsub)): _*)).as(Seq("qs", "qsv")))
      .join(broadcast(codebook), col("qs") === col("cs"))
      .select(col("qid"), col("qs"), col("ccode"),
        round(vecDot(col("qsv"), col("cw")) * 1000000).cast("long").as("w_micro"))

    // score candidates in probed cells: 8 LUT lookups + the centroid term
    val scoredPairs = broadcast(probes.alias("p")).join(member.alias("mb"), "cid")
      .filter(col("mb.vec_id") =!= col("p.qid"))
      .join(encoded.alias("en"), "vec_id")
      .join(broadcast(lut.alias("lu")),
        col("lu.qid") === col("p.qid") && col("lu.qs") === col("en.s") &&
          col("lu.ccode") === col("en.code"))
      .groupBy(col("p.qid").as("qid"), col("vec_id").as("cand_id"))
      .agg((max(col("cterm_micro")) + sum(col("w_micro"))).as("approx_micro"))
    val ws = Window.partitionBy("qid").orderBy(col("approx_micro").desc, col("cand_id").asc)
    val short = scoredPairs.withColumn("srk", row_number().over(ws))
      .filter(col("srk") <= shortlist)
      .select("qid", "cand_id")
    // exact re-rank of the shortlist only
    val wr = Window.partitionBy("qid").orderBy(col("cosine").desc, col("cand_id").asc)
    short.join(emb, col("cand_id") === col("vec_id"))
      .join(broadcast(queries), "qid")
      .select(col("qid"), col("cand_id"),
        round(vecDot(col("qv"), col("v")) / (col("qnrm") * col("nrm")), 4).as("cosine"))
      .withColumn("rk", row_number().over(wr).cast("long"))
      .filter(col("rk") <= topk)
      .orderBy("qid", "rk")
  }

  private val simAnnIvfpqSql = {
    val residElems = (0 until 8).map(j => s"es[${j + 1}] - cs[${j + 1}]").mkString(", ")
    s"""WITH v AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS e,
       |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
       |  FROM embeddings
       |), params AS (
       |  SELECT GREATEST(16, LEAST(4096,
       |      CAST(ceil(sqrt(count(*))) AS BIGINT))) AS ncells,
       |    GREATEST(16, LEAST(256,
       |      CAST(ceil(sqrt(count(*))) AS BIGINT))) AS ncodes,
       |    GREATEST(2, CAST(ceil(GREATEST(16, LEAST(4096,
       |      CAST(ceil(sqrt(count(*))) AS BIGINT))) / 8.0) AS BIGINT)) AS np
       |  FROM v
       |), cdf AS (
       |  SELECT CAST(vec_id AS INT) AS cid, e AS cv FROM v, params
       |  WHERE vec_id < ncells
       |), member AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT v.vec_id, c.cid, row_number() OVER (PARTITION BY v.vec_id
       |      ORDER BY list_dot_product(v.e, c.cv)
       |               - list_dot_product(c.cv, c.cv) / 2 DESC, c.cid) AS rk
       |    FROM v CROSS JOIN cdf c
       |  ) WHERE rk = 1
       |), resid AS (
       |  SELECT vec_id, cid, s, [$residElems] AS rs FROM (
       |    SELECT v.vec_id, mb.cid, sub.s,
       |      list_slice(v.e, sub.s * 8 + 1, sub.s * 8 + 8) AS es,
       |      list_slice(c.cv, sub.s * 8 + 1, sub.s * 8 + 8) AS cs
       |    FROM v JOIN member mb ON v.vec_id = mb.vec_id
       |    JOIN cdf c ON mb.cid = c.cid
       |    CROSS JOIN (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) sub(s)
       |  )
       |), codebook AS (
       |  SELECT s AS cs, CAST(vec_id - ncells AS INT) AS ccode, rs AS cw
       |  FROM resid, params
       |  WHERE vec_id >= ncells AND vec_id < ncells + ncodes
       |), encoded AS (
       |  SELECT vec_id, s, ccode AS code FROM (
       |    SELECT r.vec_id, r.s, cb.ccode, row_number() OVER (
       |      PARTITION BY r.vec_id, r.s
       |      ORDER BY list_dot_product(r.rs, cb.cw)
       |               - list_dot_product(cb.cw, cb.cw) / 2 DESC, cb.ccode) AS rk
       |    FROM resid r JOIN codebook cb ON r.s = cb.cs
       |  ) WHERE rk = 1
       |), q AS (
       |  SELECT vec_id AS qid, e AS qv, nrm AS qnrm FROM v WHERE vec_id < 10
       |), probes AS (
       |  SELECT qid, cid, cterm_micro FROM (
       |    SELECT q.qid, c.cid,
       |      CAST(round(list_dot_product(q.qv, c.cv) * 1000000) AS BIGINT) AS cterm_micro,
       |      row_number() OVER (PARTITION BY q.qid
       |        ORDER BY list_dot_product(q.qv, c.cv)
       |                 - list_dot_product(c.cv, c.cv) / 2 DESC, c.cid) AS rk
       |    FROM q CROSS JOIN cdf c
       |  ), params WHERE rk <= np
       |), lut AS (
       |  SELECT q.qid, cb.cs AS qs, cb.ccode,
       |    CAST(round(list_dot_product(
       |      list_slice(q.qv, cb.cs * 8 + 1, cb.cs * 8 + 8), cb.cw) * 1000000)
       |      AS BIGINT) AS w_micro
       |  FROM q CROSS JOIN codebook cb
       |), scored AS (
       |  SELECT p.qid, mb.vec_id AS cand_id,
       |    CAST(max(p.cterm_micro) + sum(lu.w_micro) AS BIGINT) AS approx_micro
       |  FROM probes p
       |  JOIN member mb ON mb.cid = p.cid AND mb.vec_id <> p.qid
       |  JOIN encoded en ON en.vec_id = mb.vec_id
       |  JOIN lut lu ON lu.qid = p.qid AND lu.qs = en.s AND lu.ccode = en.code
       |  GROUP BY p.qid, mb.vec_id
       |), short AS (
       |  SELECT qid, cand_id FROM (
       |    SELECT qid, cand_id, row_number() OVER (PARTITION BY qid
       |      ORDER BY approx_micro DESC, cand_id) AS srk
       |    FROM scored
       |  ) WHERE srk <= 10
       |), reranked AS (
       |  SELECT sh.qid, sh.cand_id,
       |    round(list_dot_product(q.qv, v.e) / (q.qnrm * v.nrm), 4) AS cosine
       |  FROM short sh JOIN v ON sh.cand_id = v.vec_id
       |  JOIN q ON sh.qid = q.qid
       |)
       |SELECT qid, cand_id, cosine, rk FROM (
       |  SELECT qid, cand_id, cosine, CAST(row_number() OVER (PARTITION BY qid
       |    ORDER BY cosine DESC, cand_id) AS BIGINT) AS rk
       |  FROM reranked
       |) WHERE rk <= 3
       |ORDER BY qid, rk""".stripMargin
  }

  // ---------------------------------------------------------------------
  // sim_diversity_sample — greedy MAXIMAL MARGINAL RELEVANCE selection
  // (Carbonell & Goldstein 1998): pick k=5 vectors that are relevant to
  // the query but not redundant with each other — the diversity-sampling
  // step a curation pipeline runs so near-identical documents don't all
  // make the cut. Each round scores every remaining candidate as
  // λ·rel − (1−λ)·max-sim-to-selected (λ=0.7, kept as the integer form
  // 7·rel_micro − 3·maxsim_micro: NO division anywhere, so there is no
  // negative-truncation-vs-floor divergence to guard) and takes the
  // argmax, ties to the smaller id.
  //
  // Scale shape: the selected set is ≤ k vectors, so the per-round
  // max-sim pass is ONE corpus-scan × broadcast join — greedy MMR at
  // 100 TB is k scans, never candidate². All 5 rounds unroll in the
  // oracle as CTEs.
  // ---------------------------------------------------------------------

  def simDiversitySample(s: SparkSession, d: String): DataFrame = {
    val k = 5
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", vecNorm(col("v")))
    val q = emb.filter(col("vec_id") === 0)
      .select(col("v").as("qv"), col("nrm").as("qn"))
    val rel = emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("v"), col("nrm"),
        round(vecDot(col("v"), col("qv")) / (col("nrm") * col("qn")) * 1000000)
          .cast("long").as("rel"))
      .cache()

    val pick1 = rel.orderBy(col("rel").desc, col("vec_id").asc).limit(1)
      .select(lit(1L).as("rk"), col("vec_id"), col("v"), col("nrm"),
        col("rel"), (col("rel") * 7).as("score_u"))
    Rounds.fixed("mmr", k - 1, pick1) { (picks, r) =>
      val sel = picks.select(col("vec_id").as("sid"), col("v").as("sv"),
        col("nrm").as("snrm"))
      val next = rel
        .join(broadcast(picks.select(col("vec_id").as("sid"))), col("vec_id") === col("sid"), "left_anti")
        .join(broadcast(sel),
          col("vec_id") =!= col("sid"))
        .select(col("vec_id"), col("v"), col("nrm"), col("rel"),
          round(vecDot(col("v"), col("sv")) / (col("nrm") * col("snrm")) * 1000000)
            .cast("long").as("sim"))
        .groupBy("vec_id", "rel")
        .agg(first("v").as("v"), first("nrm").as("nrm"), max("sim").as("maxsim"))
        .select(col("vec_id"), col("v"), col("nrm"), col("rel"),
          (col("rel") * 7 - col("maxsim") * 3).as("score_u"))
        .orderBy(col("score_u").desc, col("vec_id").asc).limit(1)
        .select(lit(r + 1L).as("rk"), col("vec_id"), col("v"), col("nrm"),
          col("rel"), col("score_u"))
      picks.unionByName(next)
    }.last.select("rk", "vec_id", "rel", "score_u").orderBy("rk")
  }

  private val simDiversitySampleSql = {
    def round(r: Int): String =
      s"""ms$r AS (
         |  SELECT c.vec_id,
         |    max(CAST(round(list_dot_product(c.e, s.e) / (c.nrm * s.nrm)
         |      * 1000000) AS BIGINT)) AS maxsim
         |  FROM rel c JOIN s${r - 1} s ON c.vec_id <> s.vec_id
         |  WHERE c.vec_id NOT IN (SELECT vec_id FROM s${r - 1})
         |  GROUP BY c.vec_id
         |), p$r AS (
         |  SELECT CAST($r AS BIGINT) AS rk, c.vec_id, c.e, c.nrm, c.rel,
         |    c.rel * 7 - m.maxsim * 3 AS score_u
         |  FROM rel c JOIN ms$r m ON c.vec_id = m.vec_id
         |  ORDER BY score_u DESC, c.vec_id LIMIT 1
         |), s$r AS (
         |  SELECT vec_id, e, nrm FROM s${r - 1}
         |  UNION ALL SELECT vec_id, e, nrm FROM p$r
         |)""".stripMargin
    val rounds = (2 to 5).map(round).mkString(",\n")
    val unions = (2 to 5).map(r =>
      s"SELECT rk, vec_id, rel, score_u FROM p$r").mkString("\nUNION ALL ")
    s"""WITH v AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS e,
       |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
       |  FROM embeddings
       |), q AS (
       |  SELECT e AS qv, nrm AS qn FROM v WHERE vec_id = 0
       |), rel AS (
       |  SELECT v.vec_id, v.e, v.nrm,
       |    CAST(round(list_dot_product(v.e, q.qv) / (v.nrm * q.qn) * 1000000)
       |      AS BIGINT) AS rel
       |  FROM v CROSS JOIN q WHERE v.vec_id <> 0
       |), p1 AS (
       |  SELECT CAST(1 AS BIGINT) AS rk, vec_id, e, nrm, rel,
       |    rel * 7 AS score_u
       |  FROM rel ORDER BY rel DESC, vec_id LIMIT 1
       |), s1 AS (
       |  SELECT vec_id, e, nrm FROM p1
       |),
       |$rounds
       |SELECT rk, vec_id, rel, score_u FROM p1
       |UNION ALL $unions
       |ORDER BY rk""".stripMargin
  }

  // ---------------------------------------------------------------------
  // sim_rank_fusion — HYBRID RETRIEVAL via Reciprocal Rank Fusion
  // (Cormack et al. 2009), the standard way modern pipelines combine a
  // lexical and a semantic ranking without score calibration: each
  // ranking contributes 1/(60+rank), summed per document. The lexical
  // side is the BM25 top-50 (text_bm25); the semantic side is cosine to a
  // ROCCHIO pseudo-relevance-feedback query — the exact micro-unit
  // centroid of the lexical top-10's embeddings (no human query vector
  // needed; PRF bootstraps the dense query from the sparse result, the
  // classic trick). Contributions stay integers as 1000000 div (60+rank)
  // — all positive, truncation == floor on both engines.
  //
  // Scale shape: both rankings are global top-k rank-filters
  // (WindowGroupLimit-eligible); the centroid is a 10-row exact integer
  // mean; the fusion join touches ≤ 100 rows. One corpus scan per
  // ranking, nothing quadratic.
  // ---------------------------------------------------------------------

  def simRankFusion(s: SparkSession, d: String): DataFrame = {
    val lex = TextAnalysis.textBm25(s, d)
      .select(col("doc_id"), col("rk").as("lex_rank"))
    // Rocchio PRF centroid: exact integer micro-unit mean over the
    // lexical top-10's embeddings (the IVF Lloyd-mean parity recipe)
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", vecNorm(col("v")))
      .cache()
    val cent = emb
      .join(broadcast(lex.filter(col("lex_rank") <= 10)),
        col("vec_id") === col("doc_id"))
      .select(posexplode(col("v")).as(Seq("pos", "x")))
      .withColumn("xi", round(col("x") * 1000000).cast("long"))
      .groupBy("pos")
      .agg(expr("(sum(xi) - pmod(sum(xi), count(1))) div count(1)").as("mi"))
      .withColumn("m", col("mi").cast("double") / 1000000.0)
      .agg(sort_array(collect_list(struct(col("pos"), col("m")))).as("mv"))
      .select(col("mv.m").as("cv"))
      .withColumn("cnrm", vecNorm(col("cv")))
    val sem = emb.crossJoin(broadcast(cent))
      .select(col("vec_id"),
        round(vecDot(col("v"), col("cv")) / (col("nrm") * col("cnrm")) * 1000000)
          .cast("long").as("sim_micro"))
      .withColumn("sem_rank",
        row_number().over(Window.orderBy(col("sim_micro").desc, col("vec_id").asc))
          .cast("long"))
      .filter(col("sem_rank") <= 50)
      .select(col("vec_id"), col("sem_rank"))
    val fused = lex.join(sem, col("doc_id") === col("vec_id"), "full_outer")
      .select(coalesce(col("doc_id"), col("vec_id")).as("doc_id"),
        coalesce(col("lex_rank"), lit(-1L)).as("lex_rank"),
        coalesce(col("sem_rank"), lit(-1L)).as("sem_rank"))
      .withColumn("rrf_ppm",
        when(col("lex_rank") > 0, expr("1000000 div (60 + lex_rank)")).otherwise(0L) +
          when(col("sem_rank") > 0, expr("1000000 div (60 + sem_rank)")).otherwise(0L))
    fused
      .withColumn("rk",
        row_number().over(Window.orderBy(col("rrf_ppm").desc, col("doc_id").asc))
          .cast("long"))
      .filter(col("rk") <= 20)
      .select("rk", "doc_id", "lex_rank", "sem_rank", "rrf_ppm")
      .orderBy("rk")
  }

  private val simRankFusionSql =
    s"""WITH lex AS (
       |  SELECT doc_id, rk AS lex_rank FROM (${TextAnalysis.textBm25Sql})
       |), top10 AS (
       |  SELECT doc_id FROM lex WHERE lex_rank <= 10
       |), v AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS e,
       |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
       |  FROM embeddings
       |), cent AS (
       |  SELECT i, CAST(sum(xi) // count(*) AS BIGINT) AS mi
       |  FROM (SELECT i.i AS i,
       |          CAST(round(v.e[i.i] * 1000000) AS BIGINT) AS xi
       |        FROM v JOIN top10 t ON v.vec_id = t.doc_id
       |        CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) i)
       |  GROUP BY i
       |), cv AS (
       |  SELECT list(mi / 1000000.0 ORDER BY i) AS cv FROM cent
       |), cn AS (
       |  SELECT cv, sqrt(list_dot_product(cv, cv)) AS cnrm FROM cv
       |), sem AS (
       |  SELECT vec_id, sem_rank FROM (
       |    SELECT v.vec_id,
       |      CAST(row_number() OVER (ORDER BY
       |        CAST(round(list_dot_product(v.e, c.cv) / (v.nrm * c.cnrm)
       |          * 1000000) AS BIGINT) DESC, v.vec_id) AS BIGINT) AS sem_rank
       |    FROM v CROSS JOIN cn c
       |  ) WHERE sem_rank <= 50
       |), fused AS (
       |  SELECT coalesce(l.doc_id, s.vec_id) AS doc_id,
       |    coalesce(l.lex_rank, -1) AS lex_rank,
       |    coalesce(s.sem_rank, -1) AS sem_rank,
       |    (CASE WHEN l.lex_rank IS NOT NULL THEN 1000000 // (60 + l.lex_rank)
       |          ELSE 0 END +
       |     CASE WHEN s.sem_rank IS NOT NULL THEN 1000000 // (60 + s.sem_rank)
       |          ELSE 0 END) AS rrf_ppm
       |  FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.vec_id
       |)
       |SELECT CAST(row_number() OVER (ORDER BY rrf_ppm DESC, doc_id) AS BIGINT) AS rk,
       |  CAST(doc_id AS BIGINT) AS doc_id,
       |  CAST(lex_rank AS BIGINT) AS lex_rank,
       |  CAST(sem_rank AS BIGINT) AS sem_rank,
       |  CAST(rrf_ppm AS BIGINT) AS rrf_ppm
       |FROM fused
       |ORDER BY rk
       |LIMIT 20""".stripMargin

  /** BINARIZED (sign-bit) Hamming-distance top-k — the memory-side scale
    * path next to PQ: each 64-dim float vector compresses to TWO 32-bit
    * sign words (16 bytes → the whole 100 TB corpus's index fits in RAM at
    * 1/16 the float32 footprint), and candidate scoring is two XOR+popcount
    * integer ops, fully codegen'd — no float math in the scan. The query
    * side is a broadcast; the per-query top-5 is a partitioned rank window
    * (map-side WindowGroupLimit, same shape PlanSpec asserts for the other
    * sim queries). Integer distances make the oracle hash-exact. */
  def simHammingTopk(s: SparkSession, d: String): DataFrame = {
    def packWord(v: Column, lo: Int): Column =
      (lo until lo + 32).map { i =>
        when(element_at(v, i + 1) > 0d, lit(1L << (i - lo))).otherwise(lit(0L))
      }.reduce(_ + _)
    val packed = Tables.embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .select(col("vec_id"),
        packWord(col("v"), 0).as("w0"), packWord(col("v"), 32).as("w1"))
    val queries = packed.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("w0").as("q0"), col("w1").as("q1"))
    val scored = packed.join(broadcast(queries), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cand_id"),
        expr("bit_count(w0 ^ q0) + bit_count(w1 ^ q1)").cast("long").as("hamming"))
    val w = Window.partitionBy("qid").orderBy(col("hamming").asc, col("cand_id").asc)
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 5)
      .orderBy("qid", "rk")
  }

  private val simHammingTopkSql = {
    def pack(lo: Int) =
      (lo until lo + 32).map(i =>
        s"(CASE WHEN e[${i + 1}] > 0 THEN ${1L << (i - lo)} ELSE 0 END)")
        .mkString("(", " + ", ")::BIGINT")
    s"""WITH v AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
       |), packed AS (
       |  SELECT vec_id, ${pack(0)} AS w0, ${pack(32)} AS w1 FROM v
       |), q AS (
       |  SELECT vec_id AS qid, w0 AS q0, w1 AS q1 FROM packed WHERE vec_id < 10
       |), scored AS (
       |  SELECT q.qid, p.vec_id AS cand_id,
       |    CAST(bit_count(xor(p.w0, q.q0)) + bit_count(xor(p.w1, q.q1)) AS BIGINT)
       |      AS hamming
       |  FROM packed p JOIN q ON p.vec_id <> q.qid
       |), ranked AS (
       |  SELECT qid, cand_id, hamming,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY hamming, cand_id)
       |      AS BIGINT) AS rk
       |  FROM scored
       |)
       |SELECT qid, cand_id, hamming, rk FROM ranked WHERE rk <= 5
       |ORDER BY qid, rk""".stripMargin
  }

  /** Dominant principal direction of the SIGN-QUANTIZED embedding matrix by
    * three MATRIX-FREE power iterations — the embedding-drift / dominant-
    * direction diagnostic run before whitening or ANN index training.
    *
    * The Gram matrix G = QᵀQ (Q = ±1 sign matrix) is never materialized:
    * v_{k+1} = G·v_k is computed as Σ_r q_r·(q_r·v_k) — one row-grain dot
    * with the (broadcast, d-row) iterate, then one dim-grain aggregate.
    * Three passes over the exploded (row, dim, sign) relation; no d²
    * shuffle, no driver-side matrix. Each iterate is rescaled
    * (×1000, div n) so magnitudes stay ~64000× per round INDEPENDENT of
    * corpus size — BIGINT-safe to n ≈ 3×10⁷ rows; past that the
    * accumulator becomes DECIMAL(38,0), nothing else changes. All
    * arithmetic is integer (both engines truncate division toward zero),
    * so the oracle is hash-exact. */
  def simPowerIteration(s: SparkSession, d: String): DataFrame = {
    val ex = Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("p", "x")))
      .select(col("vec_id"), (col("p") + 1).as("i"), // 1-based like SQL arrays
        when(col("x") > 0f, 1L).otherwise(-1L).as("q"))
      .cache()
    val n = broadcast(ex.select(countDistinct("vec_id").as("n")))
    def step(v: DataFrame): DataFrame = {
      val t = ex.join(broadcast(v), Seq("i"))
        .groupBy("vec_id").agg(sum(expr("q * v")).as("t"))
      ex.join(t, Seq("vec_id"))
        .groupBy("i").agg(sum(expr("q * t")).as("raw"))
        .crossJoin(n)
        .select(col("i"), expr("(1000 * raw) div n").as("v"))
    }
    val v0 = ex.select(col("i")).distinct().select(col("i"), lit(1L).as("v"))
    val v3 = step(step(step(v0)))
    v3.withColumn("maxabs", max(abs(col("v"))).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("i").cast("long").as("dim"), col("v").as("v3"),
        expr("(10000 * v) div maxabs").as("load_bp"))
      .orderBy("dim")
  }

  private val simPowerIterationSql = {
    def step(k: Int) =
      s"""t$k AS (
         |  SELECT e.vec_id, sum(e.q * v.v) AS t
         |  FROM ex e JOIN v${k - 1} v ON e.i = v.i GROUP BY e.vec_id
         |), v$k AS (
         |  SELECT e.i,
         |    CAST((1000 * sum(e.q * t.t)) // (SELECT n FROM nn) AS BIGINT) AS v
         |  FROM ex e JOIN t$k t ON e.vec_id = t.vec_id GROUP BY e.i
         |)""".stripMargin
    s"""WITH ex AS (
       |  SELECT vec_id, i.i, CASE WHEN embedding[i.i] > 0 THEN 1 ELSE -1 END AS q
       |  FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) i
       |), nn AS (
       |  SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n FROM ex
       |), v0 AS (
       |  SELECT DISTINCT i, CAST(1 AS BIGINT) AS v FROM ex
       |), ${step(1)}, ${step(2)}, ${step(3)}
       |SELECT CAST(i AS BIGINT) AS dim, v AS v3,
       |  CAST((10000 * v) // max(abs(v)) OVER () AS BIGINT) AS load_bp
       |FROM v3 ORDER BY dim""".stripMargin
  }

  // ---------------------------------------------------------------------
  // sim_ann_sq — INT8 SCALAR QUANTIZATION retrieval (the faiss SQ8 idea):
  // every embedding is compressed 8× to 64 signed bytes via one global
  // max-abs scale (cosine is scale-invariant, so a single scalar preserves
  // the metric — no per-dim reweighting distortion), and retrieval ranks
  // by the cosine of the QUANTIZED vectors. This is the memory rung below
  // PQ: SQ keeps per-dim resolution (recall ≈ exact at 8 bits) where PQ's
  // 8-byte codes trade recall for another 8× — sim_recall_eval-style specs
  // pin both. At 100 TB the int8 corpus is what actually fits in executor
  // memory / SSD cache, which is why every production vector store ships
  // SQ8 as the default compression tier.
  //
  // Exactness/portability: the scale is ONE bounded aggregate (a scalar,
  // broadcast back — never a driver round-trip); codes are
  // round(x/s·127) — one exact IEEE division+multiply then HALF_UP round,
  // identical in both engines; code dots and norms-squared are
  // INTEGER-valued doubles (exact ≤ 2^53), so the only float steps are
  // the final sqrt/divide/round-to-4, the same boundary discipline as
  // sim_topk_bruteforce. The quantized top-5 is fully oracled; recall vs
  // the exact ranking is asserted in SimilaritySpec.
  // ---------------------------------------------------------------------
  def simAnnSq(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val scale = emb.select(posexplode(col("v")).as(Seq("j", "x")))
      .agg(max(abs(col("x"))).as("s"))
    val coded = emb.crossJoin(broadcast(scale))
      .withColumn("c", transform(col("v"), x => round(x / col("s") * 127)))
      .withColumn("cnrm", sqrt(vecDot(col("c"), col("c"))))
      .select("vec_id", "c", "cnrm")
    val q = coded.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("c").as("qc"), col("cnrm").as("qnrm"))
    val scored = coded.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cand_id"),
        round(vecDot(col("qc"), col("c")) / (col("qnrm") * col("cnrm")), 4)
          .as("qcosine"))
    val w = Window.partitionBy("qid").orderBy(col("qcosine").desc, col("cand_id").asc)
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 5)
      .orderBy("qid", "rk")
  }

  private val simAnnSqSql =
    """WITH v AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
      |), s AS (
      |  SELECT max(abs(x)) AS s FROM (SELECT unnest(e) AS x FROM v)
      |), codes AS (
      |  SELECT vec_id, list_transform(e, x -> round(x / s.s * 127)) AS c
      |  FROM v CROSS JOIN s
      |), nc AS (
      |  SELECT vec_id, c, sqrt(list_dot_product(c, c)) AS cnrm FROM codes
      |), q AS (
      |  SELECT vec_id AS qid, c AS qc, cnrm AS qnrm FROM nc WHERE vec_id < 10
      |), scored AS (
      |  SELECT q.qid, nc.vec_id AS cand_id,
      |    round(list_dot_product(q.qc, nc.c) / (q.qnrm * nc.cnrm), 4) AS qcosine
      |  FROM nc JOIN q ON nc.vec_id <> q.qid
      |)
      |SELECT qid, cand_id, qcosine, rk FROM (
      |  SELECT qid, cand_id, qcosine,
      |    CAST(row_number() OVER (PARTITION BY qid
      |      ORDER BY qcosine DESC, cand_id) AS BIGINT) AS rk
      |  FROM scored
      |) WHERE rk <= 5
      |ORDER BY qid, rk""".stripMargin

  // ---------------------------------------------------------------------
  // sim_matryoshka — TRUNCATED-DIMENSION retrieval eval (Matryoshka
  // Representation Learning, Kusupati et al. 2022): rank by cosine over
  // only the FIRST 16 of 64 dimensions — the 4× cheaper prefix embedding —
  // and measure recall@5 against the full-dimension exact top-5 per query.
  // The modern first-stage/re-rank dial: at 100 TB the prefix scan reads a
  // quarter of the vector bytes (and at 16 B/vector fits RAM tiers the
  // full vectors don't); this query IS the measurement of what that
  // truncation costs on this corpus (random embeddings are the worst case
  // — MRL-trained models front-load information; both facts belong in the
  // eval, which is the point of running it). Same broadcast-queries ×
  // one-corpus-scan shape as sim_topk_bruteforce for BOTH rankings;
  // recall arithmetic in exact integers — fully oracled.
  // ---------------------------------------------------------------------
  def simMatryoshka(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("v16", slice(col("v"), 1, 16))
      .withColumn("nrm", vecNorm(col("v")))
      .withColumn("nrm16", vecNorm(col("v16")))
    def top5(vc: String, nc: String): DataFrame = {
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col(vc).as("qv"), col(nc).as("qnrm"))
      val scored = emb.join(broadcast(queries), col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("cand_id"),
          round(vecDot(col("qv"), col(vc)) / (col("qnrm") * col(nc)), 4).as("cos"))
      val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("cand_id").asc)
      scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
        .select("qid", "cand_id")
    }
    val full = top5("v", "nrm")
    val trunc = top5("v16", "nrm16")
    val hits = full.as("f").join(trunc.as("t"),
        col("f.qid") === col("t.qid") && col("f.cand_id") === col("t.cand_id"))
      .groupBy(col("f.qid").as("qid")).agg(count(lit(1)).as("n_hits"))
    full.select("qid").distinct()
      .join(hits, Seq("qid"), "left")
      .select(col("qid"), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        expr("(coalesce(n_hits, 0) * 10000) div 5").as("recall_bp"))
      .orderBy("qid")
  }

  private val simMatryoshkaSql =
    """WITH v AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS e, (embedding::DOUBLE[])[1:16] AS e16,
      |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm,
      |    sqrt(list_dot_product((embedding::DOUBLE[])[1:16], (embedding::DOUBLE[])[1:16])) AS nrm16
      |  FROM embeddings
      |), qf AS (SELECT vec_id AS qid, e AS qv, nrm AS qnrm FROM v WHERE vec_id < 10),
      |qt AS (SELECT vec_id AS qid, e16 AS qv, nrm16 AS qnrm FROM v WHERE vec_id < 10),
      |full_r AS (
      |  SELECT qid, cand_id FROM (
      |    SELECT q.qid, v.vec_id AS cand_id,
      |      row_number() OVER (PARTITION BY q.qid
      |        ORDER BY round(list_dot_product(q.qv, v.e) / (q.qnrm * v.nrm), 4) DESC,
      |          v.vec_id) AS rk
      |    FROM v JOIN qf q ON v.vec_id <> q.qid
      |  ) WHERE rk <= 5
      |), trunc_r AS (
      |  SELECT qid, cand_id FROM (
      |    SELECT q.qid, v.vec_id AS cand_id,
      |      row_number() OVER (PARTITION BY q.qid
      |        ORDER BY round(list_dot_product(q.qv, v.e16) / (q.qnrm * v.nrm16), 4) DESC,
      |          v.vec_id) AS rk
      |    FROM v JOIN qt q ON v.vec_id <> q.qid
      |  ) WHERE rk <= 5
      |), hits AS (
      |  SELECT f.qid, CAST(count(*) AS BIGINT) AS n_hits
      |  FROM full_r f JOIN trunc_r t ON t.qid = f.qid AND t.cand_id = f.cand_id
      |  GROUP BY f.qid
      |)
      |SELECT s.qid, CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
      |  CAST((coalesce(n_hits, 0) * 10000) // 5 AS BIGINT) AS recall_bp
      |FROM (SELECT DISTINCT qid FROM full_r) s
      |LEFT JOIN hits ON hits.qid = s.qid
      |ORDER BY s.qid""".stripMargin

  // ---------------------------------------------------------------------
  // sim_bucket_purity — LSH BUCKET QUALITY EVAL against the labels:
  // majority-label PURITY and normalized mutual information of the 8-bit
  // hyperplane signature partition vs the label partition — "are my LSH
  // buckets actually capturing semantic structure, or just slicing noise"
  // — the clustering-eval sibling of sim_recall_eval (which grades
  // retrieval, not partition quality). Run it before trusting any
  // bucket-blocked dedup/ANN path: purity ≈ 1/|labels| means the planes
  // are useless for this embedding space.
  //
  // Exactness: everything derives from the (bucket × label) integer count
  // grid (≤ 256×|labels| rows after ONE hash-aggregate). Purity is pure
  // integers. NMI's ln terms are milli-nat-quantized per grid cell BEFORE
  // the integer sums (the text_ngram_entropy identity — order-independent
  // under any partitioning), and NMI = 2I/(H_b+H_l) closes as one integer
  // division of milli sums (the 1/n factors cancel).
  //
  // Scale shape: one embedding scan (8 codegen'd dot products per row) +
  // one grid aggregate; margins and the final scalar row are
  // metadata-sized joins on the grid.
  // ---------------------------------------------------------------------
  def simBucketPurity(s: SparkSession, d: String): DataFrame = {
    val cells = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        asDouble(col("embedding")).as("v"))
      .withColumn("sig", sigExpr(col("v")))
      .groupBy("sig", "label").agg(count(lit(1)).as("c"))
      .cache()
    val bm = cells.groupBy("sig").agg(sum("c").as("nb"), max("c").as("mx"))
    val lm = cells.groupBy("label").agg(sum("c").as("nl"))
    val tot = broadcast(cells.agg(sum("c").as("n")))
    val joined = cells.join(bm, "sig").join(lm, "label").crossJoin(tot)
    joined.agg(
        max("n").as("n_vecs"),
        countDistinct("sig").as("n_buckets"),
        countDistinct("label").as("n_labels"),
        sum(expr("""c * CAST(round(1000 * ln((CAST(c AS DOUBLE) * n)
                  / (CAST(nb AS DOUBLE) * nl))) AS BIGINT)""")).as("i_sum"),
        sum(expr("""c * CAST(round(1000 * ln(CAST(n AS DOUBLE) / nb))
                  AS BIGINT)""")).as("hb_sum"),
        sum(expr("""c * CAST(round(1000 * ln(CAST(n AS DOUBLE) / nl))
                  AS BIGINT)""")).as("hl_sum"))
      .crossJoin(broadcast(bm.agg(sum("mx").as("mx_sum"))))
      .select(col("n_vecs"), col("n_buckets"), col("n_labels"),
        expr("(10000 * mx_sum) div n_vecs").as("purity_bp"),
        // degenerate partition (one bucket AND one label) has zero
        // entropy on both axes: define NMI = 0 there, identically in the
        // oracle (Spark's div would return NULL, DuckDB's // would raise)
        expr("""CASE WHEN hb_sum + hl_sum = 0 THEN 0L
                ELSE (10000 * 2 * i_sum) div (hb_sum + hl_sum) END""")
          .as("nmi_bp"))
  }

  private val simBucketPuritySql = {
    val planeRows = planes.zipWithIndex
      .map { case (pl, i) => s"($i, [${pl.mkString(", ")}]::DOUBLE[])" }
      .mkString(",\n")
    s"""WITH v AS (
       |  SELECT vec_id, CAST(label AS BIGINT) AS label,
       |    embedding::DOUBLE[] AS e
       |  FROM embeddings
       |), planes(p, pl) AS (
       |  VALUES $planeRows
       |), sig AS (
       |  SELECT v.vec_id, v.label,
       |    CAST(sum(CASE WHEN list_dot_product(v.e, planes.pl) >= 0
       |      THEN 1 << planes.p ELSE 0 END) AS BIGINT) AS sig
       |  FROM v CROSS JOIN planes GROUP BY v.vec_id, v.label
       |), cells AS (
       |  SELECT sig, label, CAST(count(*) AS BIGINT) AS c
       |  FROM sig GROUP BY sig, label
       |), bm AS (
       |  SELECT sig, CAST(sum(c) AS BIGINT) AS nb, CAST(max(c) AS BIGINT)
       |    AS mx FROM cells GROUP BY sig
       |), lm AS (
       |  SELECT label, CAST(sum(c) AS BIGINT) AS nl FROM cells GROUP BY label
       |), tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells
       |), agg AS (
       |  SELECT max(t.n) AS n_vecs,
       |    CAST(count(DISTINCT cells.sig) AS BIGINT) AS n_buckets,
       |    CAST(count(DISTINCT cells.label) AS BIGINT) AS n_labels,
       |    CAST(sum(c * CAST(round(1000 * ln((CAST(c AS DOUBLE) * t.n)
       |      / (CAST(bm.nb AS DOUBLE) * lm.nl))) AS BIGINT)) AS BIGINT)
       |      AS i_sum,
       |    CAST(sum(c * CAST(round(1000 * ln(CAST(t.n AS DOUBLE) / bm.nb))
       |      AS BIGINT)) AS BIGINT) AS hb_sum,
       |    CAST(sum(c * CAST(round(1000 * ln(CAST(t.n AS DOUBLE) / lm.nl))
       |      AS BIGINT)) AS BIGINT) AS hl_sum
       |  FROM cells JOIN bm ON cells.sig = bm.sig
       |  JOIN lm ON cells.label = lm.label CROSS JOIN tot t
       |), mxs AS (SELECT CAST(sum(mx) AS BIGINT) AS mx_sum FROM bm)
       |SELECT a.n_vecs, a.n_buckets, a.n_labels,
       |  CAST((10000 * m.mx_sum) // a.n_vecs AS BIGINT) AS purity_bp,
       |  CAST(CASE WHEN a.hb_sum + a.hl_sum = 0 THEN 0
       |    ELSE (10000 * 2 * a.i_sum) // (a.hb_sum + a.hl_sum) END AS BIGINT)
       |    AS nmi_bp
       |FROM agg a CROSS JOIN mxs m""".stripMargin
  }

  // ---------------------------------------------------------------------
  // sim_label_spread — SEMI-SUPERVISED LABEL PROPAGATION over the
  // embedding kNN graph (Zhu & Ghahramani 2002, clamped form): 25% of
  // vectors keep their labels as seeds; two rounds of cosine-weighted
  // majority vote spread labels to unlabeled neighbors — the
  // auto-labeling step a curation pipeline runs when human labels cover
  // a sliver of the corpus (weak supervision over the semantic graph).
  // Distinct from Graph.q_label_propagation: that partitions a
  // co-occurrence graph into communities; this TRANSFERS ground-truth
  // labels along embedding similarity, and the output carries the
  // agreement audit against the held-back truth.
  //
  // Determinism + scale: the graph is the LSH-bucketed kNN (sim_knn_graph
  // machinery — bucket joins, never all-pairs); vote weights are
  // milli-quantized cosines (INTEGER sums — no float accumulation
  // order); argmax per node via a rank-1 window partitioned by node with
  // (weight desc, label asc) tie-breaks; clamping = labeled nodes never
  // re-vote. Two unrolled rounds keep the whole thing closed-form SQL.
  //
  // The `agree` column audits transfer quality against the held-back
  // truth. On THIS synthetic corpus it reads ~chance (measured 1-NN label
  // agreement is ~1/|labels| — the generator's labels are not
  // geometrically clustered), which is precisely what the audit is for:
  // it tells you whether spreading is trustworthy BEFORE you train on the
  // pseudo-labels.
  // ---------------------------------------------------------------------
  def simLabelSpread(s: SparkSession, d: String): DataFrame = {
    val emb = sigRelation(s, d)
    val wk = Window.partitionBy("vec_id")
      .orderBy(col("cosine").desc, col("nbr_id").asc)
    val knn = emb.as("a").join(emb.as("b"),
        col("a.sig") === col("b.sig") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("nbr_id"),
        (vecDot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")))
          .as("cosine"))
      .withColumn("rk", row_number().over(wk).cast("long"))
      .filter(col("rk") <= 3)
      .select(col("vec_id"), col("nbr_id"),
        expr("CAST(round(1000 * cosine) AS BIGINT)").as("w"))
      .cache()
    val labels = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label").cast("long").as("label_true"))
    val seeds = labels.filter(pmod(col("vec_id"), lit(4)) === 0)
      .select(col("vec_id"), col("label_true").as("lbl"))
    val wv = Window.partitionBy("vec_id")
      .orderBy(col("ws").desc, col("lbl").asc)
    def voteRound(labeled: DataFrame): DataFrame =
      knn.join(labeled.withColumnRenamed("vec_id", "nbr_id"), "nbr_id")
        .join(labeled.select("vec_id"), Seq("vec_id"), "left_anti")
        .groupBy("vec_id", "lbl").agg(sum("w").as("ws"))
        .withColumn("vrk", row_number().over(wv))
        .filter(col("vrk") === 1)
        .select("vec_id", "lbl")
    val l1 = seeds.unionByName(voteRound(seeds)).cache()
    val fin = l1.unionByName(voteRound(l1))
    labels
      .join(seeds.select(col("vec_id"), lit(true).as("is_seed")),
        Seq("vec_id"), "left")
      .join(fin, Seq("vec_id"), "left")
      .select(col("vec_id"),
        when(col("is_seed"), "seed")
          .when(col("lbl").isNotNull, "spread").otherwise("none").as("status"),
        col("lbl").as("label_hat"), col("label_true"),
        when(col("lbl").isNotNull, col("lbl") === col("label_true"))
          .as("agree"))
      .orderBy("vec_id")
  }

  private val simLabelSpreadSql = {
    val planeRows = planes.zipWithIndex
      .map { case (pl, i) => s"($i, [${pl.mkString(", ")}]::DOUBLE[])" }
      .mkString(",\n")
    s"""WITH v AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS e,
       |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
       |      AS nrm
       |  FROM embeddings
       |), planes(p, pl) AS (
       |  VALUES $planeRows
       |), sig AS (
       |  SELECT v.vec_id,
       |    CAST(sum(CASE WHEN list_dot_product(v.e, planes.pl) >= 0
       |      THEN 1 << planes.p ELSE 0 END) AS BIGINT) AS sig
       |  FROM v CROSS JOIN planes GROUP BY v.vec_id
       |), scored AS (
       |  SELECT a.vec_id, b.vec_id AS nbr_id,
       |    list_dot_product(x.e, y.e) / (x.nrm * y.nrm) AS cosine
       |  FROM sig a JOIN sig b ON a.sig = b.sig AND a.vec_id <> b.vec_id
       |  JOIN v x ON x.vec_id = a.vec_id
       |  JOIN v y ON y.vec_id = b.vec_id
       |), knn AS (
       |  SELECT vec_id, nbr_id, CAST(round(1000 * cosine) AS BIGINT) AS w
       |  FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cosine DESC, nbr_id) AS rk
       |    FROM scored
       |  ) WHERE rk <= 3
       |), seeds AS (
       |  SELECT vec_id, CAST(label AS BIGINT) AS lbl FROM embeddings
       |  WHERE vec_id % 4 = 0
       |), v1 AS (
       |  SELECT k.vec_id, s.lbl, CAST(sum(k.w) AS BIGINT) AS ws
       |  FROM knn k JOIN seeds s ON k.nbr_id = s.vec_id
       |  WHERE k.vec_id NOT IN (SELECT vec_id FROM seeds)
       |  GROUP BY k.vec_id, s.lbl
       |), r1 AS (
       |  SELECT vec_id, lbl FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY ws DESC, lbl) AS vrk FROM v1
       |  ) WHERE vrk = 1
       |), l1 AS (
       |  SELECT * FROM seeds UNION ALL SELECT * FROM r1
       |), v2 AS (
       |  SELECT k.vec_id, l.lbl, CAST(sum(k.w) AS BIGINT) AS ws
       |  FROM knn k JOIN l1 l ON k.nbr_id = l.vec_id
       |  WHERE k.vec_id NOT IN (SELECT vec_id FROM l1)
       |  GROUP BY k.vec_id, l.lbl
       |), r2 AS (
       |  SELECT vec_id, lbl FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY ws DESC, lbl) AS vrk FROM v2
       |  ) WHERE vrk = 1
       |), fin AS (
       |  SELECT * FROM l1 UNION ALL SELECT * FROM r2
       |)
       |SELECT e.vec_id,
       |  CASE WHEN s.vec_id IS NOT NULL THEN 'seed'
       |    WHEN f.lbl IS NOT NULL THEN 'spread' ELSE 'none' END AS status,
       |  f.lbl AS label_hat, CAST(e.label AS BIGINT) AS label_true,
       |  CASE WHEN f.lbl IS NOT NULL THEN f.lbl = CAST(e.label AS BIGINT)
       |    END AS agree
       |FROM embeddings e
       |LEFT JOIN seeds s ON e.vec_id = s.vec_id
       |LEFT JOIN fin f ON e.vec_id = f.vec_id
       |ORDER BY e.vec_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // sim_embedding_drift — EMBEDDING DISTRIBUTION DRIFT between two corpus
  // snapshots (here: even vs odd vec_ids standing in for yesterday/today):
  // per label, the squared L2 distance between the snapshot MEAN vectors
  // plus the population-share shift — the monitor that catches a silently
  // retrained/upgraded embedding model or a topic shift in arriving data
  // BEFORE stale IVF centroids and LSH buckets quietly lose recall (every
  // ANN index in this library assumes the vector distribution it was
  // built on).
  //
  // Exactness: per-dim means are EXACT integer micro-unit means (the IVF
  // Lloyd idiom — Σ round(x·1e6) with one truncating div), so the drift
  // statistic is pure BIGINT arithmetic — no float accumulation order
  // anywhere. Scale shape: one dim-explode (×64, map-side) into a
  // (side × label × dim) hash-aggregate — bounded metadata after one
  // scan; the side join runs on that grid.
  // ---------------------------------------------------------------------
  def simEmbeddingDrift(s: SparkSession, d: String): DataFrame = {
    val dims = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        posexplode(asDouble(col("embedding"))).as(Seq("pos", "val")))
      .select(col("label"), pmod(col("vec_id"), lit(2)).cast("long").as("side"),
        col("pos"), expr("CAST(round(val * 1000000) AS BIGINT)").as("vm"))
    val means = dims.groupBy("side", "label", "pos")
      .agg(count(lit(1)).as("n"), sum("vm").as("sv"))
      .withColumn("m", expr("sv div n"))
      .cache()
    val drift = means.filter(col("side") === 0).as("a")
      .join(means.filter(col("side") === 1).as("b"),
        col("a.label") === col("b.label") && col("a.pos") === col("b.pos"))
      .select(col("a.label").as("label"),
        ((col("a.m") - col("b.m")) * (col("a.m") - col("b.m"))).as("d2"))
      .groupBy("label").agg(sum("d2").as("drift_l2sq"))
    val counts = means.filter(col("pos") === 0)
      .groupBy("label")
      .agg(sum(when(col("side") === 0, col("n")).otherwise(0L)).as("n_ref"),
        sum(when(col("side") === 1, col("n")).otherwise(0L)).as("n_cur"))
    counts.join(drift, "label")
      .select(col("label"), col("n_ref"), col("n_cur"),
        expr("(10000 * abs(n_ref - n_cur)) div (n_ref + n_cur)")
          .as("share_shift_bp"),
        col("drift_l2sq"))
      .orderBy("label")
  }

  private val simEmbeddingDriftSql =
    """WITH v AS (
      |  SELECT vec_id, CAST(label AS BIGINT) AS label,
      |    embedding::DOUBLE[] AS e
      |  FROM embeddings
      |), x AS (
      |  SELECT label, vec_id % 2 AS side,
      |    unnest(generate_series(0, array_length(e) - 1)) AS pos,
      |    CAST(round(unnest(e) * 1000000) AS BIGINT) AS vm
      |  FROM v
      |), means AS (
      |  SELECT side, label, pos, CAST(count(*) AS BIGINT) AS n,
      |    CAST(CAST(sum(vm) AS BIGINT) // count(*) AS BIGINT) AS m
      |  FROM x GROUP BY side, label, pos
      |), drift AS (
      |  SELECT a.label, CAST(sum((a.m - b.m) * (a.m - b.m)) AS BIGINT)
      |    AS drift_l2sq
      |  FROM means a JOIN means b
      |    ON a.label = b.label AND a.pos = b.pos
      |    AND a.side = 0 AND b.side = 1
      |  GROUP BY a.label
      |), counts AS (
      |  SELECT label,
      |    CAST(sum(CASE WHEN side = 0 THEN n ELSE 0 END) AS BIGINT) AS n_ref,
      |    CAST(sum(CASE WHEN side = 1 THEN n ELSE 0 END) AS BIGINT) AS n_cur
      |  FROM means WHERE pos = 0 GROUP BY label
      |)
      |SELECT c.label, c.n_ref, c.n_cur,
      |  CAST((10000 * abs(c.n_ref - c.n_cur)) // (c.n_ref + c.n_cur)
      |    AS BIGINT) AS share_shift_bp,
      |  d.drift_l2sq
      |FROM counts c JOIN drift d ON c.label = d.label
      |ORDER BY c.label""".stripMargin

  /** Stage every managed layout this family owns (Bench's direct
    * pre-stage registry, graft.Layouts). */
  private[graft] def prestageLayouts(s: SparkSession, d: String): Unit = {
    stagedIvf(s, d); stagedIvfpq(s, d)
    ()
  }

  val all: Seq[Q] = Seq(
    Q("sim_embedding_drift", simEmbeddingDrift, Some(simEmbeddingDriftSql)),
    Q("sim_label_spread", simLabelSpread, Some(simLabelSpreadSql)),
    Q("sim_bucket_purity", simBucketPurity, Some(simBucketPuritySql)),
    Q("sim_matryoshka", simMatryoshka, Some(simMatryoshkaSql)),
    Q("sim_ann_sq", simAnnSq, Some(simAnnSqSql)),
    Q("sim_power_iteration", simPowerIteration, Some(simPowerIterationSql)),
    Q("sim_hamming_topk", simHammingTopk, Some(simHammingTopkSql)),
    Q("sim_range_search", simRangeSearch, Some(simRangeSearchSql)),
    Q("sim_rank_fusion", simRankFusion, Some(simRankFusionSql)),
    Q("sim_diversity_sample", simDiversitySample, Some(simDiversitySampleSql)),
    Q("sim_ann_ivfpq", simAnnIvfpq, Some(simAnnIvfpqSql)),
    Q("sim_ann_ivfpq_staged", simAnnIvfpqStaged, Some(simAnnIvfpqSql)),
    Q("sim_ann_ivf_staged", simAnnIvfStaged, Some(simAnnIvfSql)),
    Q("sim_recall_eval", simRecallEval, Some(simRecallEvalSql)),
    Q("sim_maxsim", simMaxsim, Some(simMaxsimSql)),
    Q("sim_ann_pq", simAnnPq, Some(simAnnPqSql)),
    Q("sim_doc_embedding_join", simDocEmbeddingJoin, Some(simDocEmbeddingJoinSql)),
    Q("sim_topk_bruteforce", simTopkBruteforce, Some(simTopkBruteforceSql)),
    Q("sim_ann_lsh", simAnnLsh, Some(simAnnLshSql)),
    Q("sim_knn_graph", simKnnGraph, Some(simKnnGraphSql)),
    Q("sim_ann_ivf", simAnnIvf, Some(simAnnIvfSql)),
    Q("sim_centroid_by_label", simCentroidByLabel, Some(simCentroidByLabelSql))
  )
}
