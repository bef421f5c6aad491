package graft.operators

import graft.{Q, Rounds, Tables}
import graft.functions.TextFunctions._
import graft.streaming.Replay
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

/** Deduplication family for LLM-training-data pipelines: exact, MinHash/LSH,
  * SimHash, and embedding-cosine near-dup. Generalizes the reference's
  * drop_duplicates idioms (build_corpus.py:96, build_master_corpus.py:137) to
  * the near-dup detection a 100 TB corpus needs.
  *
  * Scale design: every variant is (1) a map-side signature computation
  * (codegen'd expressions, no UDFs), (2) ONE shuffle on a uniformly
  * distributed signature/band key, (3) candidate pairs only within buckets
  * (|pairs| ≪ n²), (4) exact verification only on candidates. Nothing ever
  * materializes the full n² pair space.
  */
object Dedup {

  /** Exact dedup: content-hash groupBy, keep the smallest doc_id, map every
    * doc to its keeper (is_dup marks losers). One shuffle on md5 — uniform,
    * skew-free. */
  def dedupExact(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(md5(col("text")))
    Tables.documents(s, d)
      .withColumn("keeper", min("doc_id").over(w))
      .select(col("doc_id"), col("keeper"),
        (col("doc_id") =!= col("keeper")).as("is_dup"))
      .orderBy("doc_id")
  }

  private val dedupExactSql =
    """SELECT doc_id,
      |  min(doc_id) OVER (PARTITION BY md5(text)) AS keeper,
      |  doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) AS is_dup
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Distinct (doc_id, 3-word-shingle) relation, shared by the MinHash
    * variants and cached (signature aggregation + both sides of Jaccard
    * verification reuse it; at 100 TB this would be persisted to disk or a
    * bucketed table instead).
    *
    * Shingles come from posexplode + window-lead, NOT from an array
    * higher-order function: HOFs are interpreted (no codegen) and cost tens
    * of µs per element — 30× slower at 260k shingles. The window's doc_id
    * shuffle is one exchange and every downstream per-doc aggregation reuses
    * that partitioning. */
  private[operators] def shingleRelation(s: SparkSession, d: String): DataFrame =
    shinglesOf(Tables.documents(s, d))

  /** Shingle core over any (doc_id, text) relation — lets specs drive the
    * dedup operators with synthetic corpora.
    *
    * Guarded doc_id spread before tokenization (r16, guide §2.5): a small
    * corpus scans as ONE split, so normalize+split+posexplode ran on a
    * single task and the window exchange then carried TOKEN-grain rows
    * (~4x the text bytes). Hash-repartitioning the docs first (only when
    * splits < cores — a no-op at production scale) parallelizes the
    * tokenize and the lead-window reuses the doc_id partitioning, so the
    * one exchange moves from token grain to text grain. */
  private[graft] def shinglesOf(docs: DataFrame): DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val spread =
      if (docs.queryExecution.toRdd.getNumPartitions < par)
        docs.repartition(par, col("doc_id"))
      else docs
    val toks = spread
      .select(col("doc_id"),
        posexplode(wsTokens(normalizeText(col("text")))).as(Seq("pos", "tok")))
    kgrams(toks, 3, "shingle").distinct().cache()
  }

  /** 1-band MinHash LSH, fully SQL-expressible: bucket documents by the
    * minimum md5 of their 3-word shingles, generate candidate pairs within
    * buckets, verify with exact Jaccard, keep pairs ≥ 0.5.
    *
    * This is the oracle-checkable core of the LSH idea (P[min-hash collision]
    * = Jaccard); `dedup_minhash_lsh` below is the production k×b variant. */
  def dedupMinhash1Band(s: SparkSession, d: String): DataFrame = {
    val sh = shingleRelation(s, d)
    val minhash = sh.groupBy("doc_id").agg(min(md5(col("shingle"))).as("mh"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val pairs = minhash.as("a").join(minhash.as("b"),
        col("a.mh") === col("b.mh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val inter = pairs
      .join(sh.as("sa"), col("sa.doc_id") === col("doc_a"))
      .join(sh.as("sb"),
        col("sb.doc_id") === col("doc_b") && col("sb.shingle") === col("sa.shingle"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_common"))
    inter
      .join(sizes.as("za"), col("za.doc_id") === col("doc_a"))
      .join(sizes.as("zb"), col("zb.doc_id") === col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(col("n_common").cast("double") /
          (col("za.n_sh") + col("zb.n_sh") - col("n_common")).cast("double"), 4)
          .as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .orderBy("doc_a", "doc_b")
  }

  // Oracle twin of wsTokens(normalizeText(text)) as a (doc_id, t) CTE — the
  // token arrays of the shingle relation and the SimHash oracle.
  private def toksCteOver(rel: String, sfx: String): String =
    s"toks$sfx AS (SELECT doc_id, ${wsTokensSql(normalizeTextSql("text"))} AS t FROM $rel)"
  private[operators] val toksCte = toksCteOver("documents", "")

  // Oracle twin of shinglesOf over any (doc_id, text) relation; the CTE-name
  // suffix lets composed oracles (llm_pretrain_e2e) shingle two different
  // doc sets in one statement.
  private[operators] def shingleCteOver(rel: String, sfx: String = ""): String =
    s"""${toksCteOver(rel, sfx)}, sh$sfx AS (
      |  SELECT DISTINCT * FROM (${kgramsSql(s"toks$sfx", 3, "shingle")})
      |)""".stripMargin
  private[operators] val shingleCte = shingleCteOver("documents")

  private val dedupMinhash1BandSql =
    s"""WITH $shingleCte,
       |mh AS (SELECT doc_id, min(md5(shingle)) AS mh FROM sh GROUP BY doc_id),
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM mh a JOIN mh b ON a.mh = b.mh AND a.doc_id < b.doc_id
       |),
       |inter AS (
       |  SELECT p.doc_a, p.doc_b, count(*) AS n_common
       |  FROM pairs p
       |  JOIN sh sa ON sa.doc_id = p.doc_a
       |  JOIN sh sb ON sb.doc_id = p.doc_b AND sb.shingle = sa.shingle
       |  GROUP BY p.doc_a, p.doc_b
       |)
       |SELECT doc_a, doc_b,
       |  round(n_common * 1.0 / (za.n_sh + zb.n_sh - n_common), 4) AS jaccard
       |FROM inter
       |JOIN sizes za ON za.doc_id = doc_a
       |JOIN sizes zb ON zb.doc_id = doc_b
       |WHERE round(n_common * 1.0 / (za.n_sh + zb.n_sh - n_common), 4) >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin

  /** n-gram Jaccard via PREFIX FILTERING (the canonical exact set-similarity
    * join — Chaudhuri et al. 2006, Bayardo et al. 2007; cf. reference
    * normalize_corpus.py's pandas drop_duplicates idiom generalized to
    * near-dups): order every document's shingles by a single global total
    * order (document frequency ascending, shingle as tie-break — rarest
    * first), block only on each doc's first ⌊n/2⌋+2 shingles, then exact
    * Jaccard over full shingle sets on candidates. Two docs with Jaccard
    * ≥ 0.5 MUST share a prefix shingle (pigeonhole on the shared order), so
    * recall is 100% by construction — which is why the oracle below is the
    * UNBLOCKED all-pairs truth, the same strongest-form oracle as
    * `dedup_minhash_lsh`. (+2 rather than the textbook +1 absorbs the
    * round(·,4) ≥ 0.5 boundary, which admits true Jaccard down to 0.49995.)
    *
    * Scale: candidates cost Σ_shingle df_prefix², and df-ascending prefixes
    * are dominated by rare shingles, so frequent shingles — the quadratic
    * head — almost never block. Unlike an absolute df cap (recall decays as
    * the corpus grows: at sf0.1 `df ≤ 4` keeps only 1.7% of posting mass)
    * or a df quantile (keeps recall but re-admits the df² head — benched
    * 4.7× slower), the prefix bound is per-document, exact at any corpus
    * size, and needs no global threshold statistic. */
  def dedupNgramJaccard(s: SparkSession, d: String): DataFrame =
    ngramJaccardPairs(shingleRelation(s, d)).orderBy("doc_a", "doc_b")

  /** Core of `dedup_ngram_jaccard` over any shingle relation, UNSORTED:
    * the clustering callers ignore pair order, and a sort here would put a
    * range exchange plus its sampling job into their cached edge plan.
    * `fixedDfThreshold` pins the legacy absolute `df ≤ t` cap (spec use only
    * — DedupSpec shows the absolute rule losing pairs prefix filtering is
    * guaranteed to keep). */
  private[graft] def ngramJaccardPairs(
      sh: DataFrame, fixedDfThreshold: Option[Long] = None): DataFrame = {
    val dfs = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    // one window exchange on doc_id: rank shingles rarest-first within the
    // doc and carry n_sh so the Jaccard denominator needs no join back
    val wDoc = Window.partitionBy("doc_id")
    val ranked = sh.join(dfs, "shingle")
      .select(col("doc_id"), col("shingle"), col("df"),
        row_number().over(wDoc.orderBy("df", "shingle")).as("rk"),
        count(lit(1)).over(wDoc).as("n_sh"))
    val blocked = fixedDfThreshold match {
      case Some(t) => ranked.filter(col("df") <= t)
      case None    => ranked.filter(col("rk") <= floor(col("n_sh") / 2) + 2)
    }
    // Candidates = shared blocking shingle, pruned by PPJoin's two exact
    // filters (neither can drop a true J ≥ 0.5 pair):
    //  - length filter in the join condition: J ≥ 0.5 forces min/max set
    //    size ≥ ~0.5, so wildly different sizes can't pair;
    //  - positional filter: ONE aggregation both dedups the pair and finds
    //    the ranks of its globally-first shared blocking shingle; both docs
    //    rank by the SAME total order (df, shingle), so no shared element
    //    precedes that match in either doc, and overlap ≤ 1 + min(na−rka,
    //    nb−rkb) — prune when the bound can't reach the required overlap
    //    (na+nb)/3 (with a −1 slack for the round(·,4) boundary). On the
    //    saturated-vocabulary testdata this cuts candidates 3× (430k → 146k
    //    at sf0.1).
    //    The ranks are two plain integer min()s, exact: a doc's rank is
    //    monotone in the shared total order, so the shared shingle that
    //    comes first in that order has BOTH the minimum rka and the minimum
    //    rkb. (A min over a struct carries a non-mutable aggregation buffer
    //    and plans as a SortAggregate with a full sort.)
    val cand = blocked.as("a").join(blocked.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id") &&
          col("a.n_sh") <= col("b.n_sh") * 2 + 1 && col("b.n_sh") <= col("a.n_sh") * 2 + 1)
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n_sh").as("na"), col("b.n_sh").as("nb"))
      .agg(min(col("a.rk")).as("rka"), min(col("b.rk")).as("rkb"))
      .filter(least(col("na") - col("rka"), col("nb") - col("rkb")) + 1 >=
        floor((col("na") + col("nb")) / 3) - 1)
      .select("doc_a", "doc_b", "na", "nb")
    // Exact verification on candidates via per-doc shingle-set ARRAYS and
    // the codegen'd array_intersect (a collection expression, not an
    // interpreted lambda HOF): joins two narrow doc→array relations
    // (auto-broadcast at test SFs, shuffle-hash on doc_id at scale) instead
    // of shuffling the candidate×posting expansion — the exploded
    // formulation pushed ~8M rows through a (doc_id, shingle) exchange.
    val docSets = sh.groupBy("doc_id").agg(collect_list("shingle").as("shs"))
    cand
      .join(docSets.select(col("doc_id").as("doc_a"), col("shs").as("sa")), "doc_a")
      .join(docSets.select(col("doc_id").as("doc_b"), col("shs").as("sb")), "doc_b")
      .withColumn("n_common", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .select(col("doc_a"), col("doc_b"),
        round(col("n_common").cast("double") /
          (col("na") + col("nb") - col("n_common")).cast("double"), 4)
          .as("jaccard"))
      .filter(col("jaccard") >= 0.5)
  }

  /** Cross-document boilerplate detection — C4's "remove lines occurring
    * repeatedly across the corpus" adapted to word-span granularity: for
    * each document, how many of its distinct 3-word shingles occur in ≥ 5
    * documents, as an exact integer basis-point share. High common_bp =
    * template/boilerplate text that near-dup pair finding (which needs
    * j ≥ 0.5 overall) never flags.
    *
    * Plan: the shared cached shingle relation → ONE df aggregation (shuffle
    * on shingle, uniform) → join back → per-doc aggregation on the doc_id
    * partitioning the shingle relation already has. Linear everywhere; the
    * df relation is never collected or broadcast by hand (at 100 TB it is
    * corpus-vocabulary-sized — the shuffle join is the right plan). */
  def dedupCommonSpans(s: SparkSession, d: String): DataFrame = {
    val sh = shingleRelation(s, d)
    val dfs = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    sh.join(dfs, "shingle")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= 5, 1L).otherwise(0L)).as("n_common"))
      .withColumn("common_bp", expr("(10000 * n_common) div n_shingles"))
      .orderBy("doc_id")
  }

  private val dedupCommonSpansSql =
    s"""WITH $shingleCte,
       |dfs AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle)
       |SELECT sh.doc_id,
       |  CAST(count(*) AS BIGINT) AS n_shingles,
       |  CAST(sum(CASE WHEN dfs.df >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
       |  CAST((10000 * sum(CASE WHEN dfs.df >= 5 THEN 1 ELSE 0 END)) // count(*) AS BIGINT) AS common_bp
       |FROM sh JOIN dfs ON sh.shingle = dfs.shingle
       |GROUP BY sh.doc_id
       |ORDER BY sh.doc_id""".stripMargin

  /** Production MinHash+LSH: k=32 hash permutations (xxhash64 seeded by
    * index), 8 bands × 4 rows, candidate pairs from band-bucket collisions,
    * verified with exact Jaccard over shingle sets.
    *
    * Oracle: the TRUE all-pairs exact-Jaccard ≥ 0.5 set (no candidate
    * blocking in the SQL — DuckDB pays the quadratic co-shingle join the LSH
    * exists to avoid). The hash compare therefore asserts 100% LSH recall:
    * honest at these SFs because every true pair sits at j ≥ 0.8, where
    * 8-band×4-row detection probability is ≥ 98.5% per pair (and empirically
    * complete at sf0.001/0.01/0.1). DedupSpec additionally asserts LSH ⊇
    * 1-band pairs and that emitted Jaccard values are exact. */
  private val numHashes = 32
  private val bands = 8

  /** The 32-slot MinHash signature aggregate over a (doc_id, shingle)
    * relation: signature_i = min over shingles of xxhash64(i, shingle) —
    * ONE codegen'd hash-aggregate with 32 min() columns (map-side partial,
    * one shuffle), n_sh riding along for the Jaccard denominator. */
  private[graft] def minhashSignatures(sh: DataFrame): DataFrame = {
    val sigCols = (0 until numHashes).map(i =>
      min(xxhash64(lit(i), col("shingle"))).as(s"h$i"))
    sh.groupBy("doc_id")
      .agg(sigCols.head, (sigCols.tail :+ count(lit(1)).as("n_sh")): _*)
  }

  def dedupMinhashLsh(s: SparkSession, d: String): DataFrame = {
    val sh = shingleRelation(s, d)
    // the signature relation is CACHED: the banded self-join consumes it on
    // both sides, and without the cache the 32-min aggregate — the most
    // expensive node in the query — recomputes once per consumer. The cached
    // form is narrow (doc_id + 32 longs + n_sh), nothing like caching the
    // shingle blowup.
    minhashLshOn(sh, minhashSignatures(sh).cache())
  }

  /** Banded-LSH core over any (shingle relation, signature relation) pair —
    * shared by the per-query derivation and the staged-layout variant. */
  private def minhashLshOn(sh: DataFrame, sig: DataFrame): DataFrame =
    lshVerifiedPairs(sh, sig).orderBy("doc_a", "doc_b")

  /** The unordered verified-pair relation (doc_a < doc_b, exact jaccard ≥
    * 0.5) behind minhashLshOn — exposed so the composed curation pipeline
    * (llm_pretrain_e2e) applies EXACTLY the production banding + exact-
    * verify semantics to its survivor set rather than a re-derivation. */
  private[operators] def lshVerifiedPairs(sh: DataFrame, sig: DataFrame): DataFrame = {
    // n_sh rides along so the final Jaccard denominator needs no join back
    // to sig
    val banded = sig.select(col("doc_id"), col("n_sh"),
      posexplode(bandArray).as(Seq("band_idx", "band_hash")))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n_sh").as("na"), col("b.n_sh").as("nb"))
      .distinct() // na/nb are functions of the doc ids, so dedup is unchanged
    // exact Jaccard on candidates only, via the shared shingle relation
    val inter = cand
      .join(sh.as("sa"), col("sa.doc_id") === col("doc_a"))
      .join(sh.as("sb"),
        col("sb.doc_id") === col("doc_b") && col("sb.shingle") === col("sa.shingle"))
      .groupBy("doc_a", "doc_b", "na", "nb").agg(count(lit(1)).as("n_common"))
    inter
      .select(col("doc_a"), col("doc_b"),
        round(col("n_common").cast("double") /
          (col("na") + col("nb") - col("n_common")).cast("double"), 4)
          .as("jaccard"))
      .filter(col("jaccard") >= 0.5)
  }

  /** Unblocked exact-Jaccard pair SQL — the ground-truth ≥0.5 pair set. Used
    * as the oracle for BOTH `dedup_minhash_lsh` (probabilistic recall check)
    * and `dedup_ngram_jaccard` (prefix filtering is exact, so the hash match
    * is a recall PROOF); do NOT use it as a Spark plan shape: the sa⋈sb
    * co-shingle join is the quadratic blowup that banding/blocking candidate
    * generation exists to avoid. */
  private val trueJaccardSql =
    s"""WITH $shingleCte,
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b, count(*) AS n_common
       |  FROM sh sa JOIN sh sb ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT doc_a, doc_b,
       |  round(n_common * 1.0 / (za.n_sh + zb.n_sh - n_common), 4) AS jaccard
       |FROM inter
       |JOIN sizes za ON za.doc_id = doc_a
       |JOIN sizes zb ON zb.doc_id = doc_b
       |WHERE round(n_common * 1.0 / (za.n_sh + zb.n_sh - n_common), 4) >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin

  /** SimHash near-dup: 64-bit signature from token-hash bit votes, candidate
    * pairs blocked on equal 16-bit chunks, verified with exact hamming
    * distance. The token hash is the first 16 hex nibbles of md5(token) —
    * engine-portable, so the operator is FULLY oracled, and the chunk
    * blocking is a recall PROOF, not a probabilistic check: hamming ≤ 3
    * over 4 chunks forces at least one chunk equal (pigeonhole), so the
    * blocked pair set provably equals the all-pairs oracle's. */
  def dedupSimhash(s: SparkSession, d: String): DataFrame = {
    // variable-distance shift needs the SQL builtin (Scala shiftright only
    // takes Int literals)
    def shr(v: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column) =
      call_function("shiftright", v, n)
    // exploded (doc_id, 16 md5 nibbles): hash each distinct token ONCE; conv
    // is codegen'd, and the md5 common-subexpression is shared via the
    // intermediate projection
    val toks = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(array_distinct(wsTokens(normalizeText(col("text"))))).as("tok"))
      .select(col("doc_id"), md5(col("tok")).as("h"))
      .select(col("doc_id") +:
        (0 until 16).map(j =>
          conv(substring(col("h"), j + 1, 1), 16, 10).cast("long").as(s"n$j")): _*)
    // bit b vote = sum over tokens of ±1 by hash bit b (bit b lives in
    // nibble b/4 at position b%4): ONE codegen'd hash-aggregate with 64
    // sum() columns (map-side partial, one shuffle)
    val voteCols = (0 until 64).map(b =>
      sum(when(shiftright(col(s"n${b / 4}"), b % 4).bitwiseAND(1) === 1, 1L)
        .otherwise(-1L)).as(s"v$b"))
    val votes = toks.groupBy("doc_id").agg(voteCols.head, voteCols.tail: _*)
    // fold the 64 sign bits into one long (scalar expression, codegen'd);
    // cache: the chunk self-join would otherwise recompute it per side
    val sig = votes.select(
      col("doc_id"),
      (0 until 64).map(b =>
        when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
        .reduce(_.bitwiseOR(_)).as("simhash"))
      .cache()
    val chunked = sig.select(col("doc_id"), col("simhash"),
      posexplode(transform(sequence(lit(0), lit(3)),
        c => shr(col("simhash"), c * 16).bitwiseAND(0xFFFFL)))
        .as(Seq("chunk_idx", "chunk")))
    val cand = chunked.as("a").join(chunked.as("b"),
        col("a.chunk_idx") === col("b.chunk_idx") &&
          col("a.chunk") === col("b.chunk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.simhash").as("sh_a"), col("b.simhash").as("sh_b"))
      .dropDuplicates("doc_a", "doc_b")
    cand
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long"))
      .filter(col("hamming") <= 3)
      .select("doc_a", "doc_b", "hamming")
      .orderBy("doc_a", "doc_b")
  }

  /** All-pairs SimHash oracle: same md5-nibble bit votes, hamming over the
    * full 64-bit signature (as 4×16-bit chunks — BIGINT-safe, no sign-bit
    * headaches), NO blocking. Hash-matching the blocked Spark plan against
    * this proves the pigeonhole blocking loses nothing. */
  private val dedupSimhashSql: String = {
    val nibbles = (0 until 16)
      .map(j => s"${OracleSql.hexPrefix(s"substr(h, ${j + 1}, 1)", 1)} AS n$j")
      .mkString(", ")
    val votes = (0 until 64)
      .map(b => s"sum(CASE WHEN (n${b / 4} // ${1 << (b % 4)}) % 2 = 1 THEN 1 ELSE -1 END) AS v$b")
      .mkString(", ")
    val chunks = (0 until 4).map { c =>
      (0 until 16)
        .map(b => s"CASE WHEN v${16 * c + b} > 0 THEN ${1L << b} ELSE 0 END")
        .mkString(" + ") + s" AS c$c"
    }.mkString(", ")
    val ham = (0 until 4).map(c => s"bit_count(xor(a.c$c, b.c$c))").mkString(" + ")
    s"""WITH $toksCte, tok AS (
       |  SELECT DISTINCT doc_id, tok
       |  FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
       |), hx AS (
       |  SELECT doc_id, md5(tok) AS h FROM tok
       |), nib AS (
       |  SELECT doc_id, $nibbles FROM hx
       |), votes AS (
       |  SELECT doc_id, $votes FROM nib GROUP BY doc_id
       |), sig AS (
       |  SELECT doc_id, $chunks FROM votes
       |)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST($ham AS BIGINT) AS hamming
       |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |WHERE $ham <= 3
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** IVF coarse-cell count for `dedupEmbedding`: ~2√n cells derived from
    * the corpus count (cells of ~√n/2 vectors keep the within-cell pair
    * fanout subquadratic), clamped to [32, 8192] so the anchor table stays
    * broadcastable metadata. The oracle derives the identical value from
    * count(*) in SQL. */
  private[graft] def embCellsFor(n: Long): Int =
    math.max(32L, math.min(8192L,
      2L * math.ceil(math.sqrt(n.toDouble)).toLong)).toInt

  /** IVF cell assignment for the embeddings table: anchors are the first
    * `embCellsFor(n)` vectors (cell id = anchor vec_id), every vector goes
    * to its nearest anchor by euclidean distance (argmax of dot(v,a) −
    * |a|²/2 — same math as sim_ann_ivf's quantizer), ties to the smaller
    * cell id.
    *
    * The argmax is ONE hash-aggregate (`max_by` on a (aff, −cid) struct) over
    * narrow (vec_id, cid, aff) rows — map-side partial, no window sort, and
    * the wide vector column never rides through the shuffle. */
  // |embeddings| is a pure function of the static dataset: counted once
  // per JVM via the shared future-latched memo (Staging.memoizedCount) —
  // the "emb_rows" key is shared with Similarity's index-sizing sites, so
  // the whole JVM pays ONE count job per dataset, and no caller ever
  // blocks on a map bin lock for the duration of the job
  private def embeddingCount(s: SparkSession, d: String): Long =
    graft.sources.Staging.memoizedCount("emb_rows", d, "embeddings.parquet")(
      Tables.embeddings(s, d).count())

  private[graft] def embeddingCells(s: SparkSession, d: String): DataFrame = {
    import graft.functions.VectorFunctions.{asDouble, vecDot}
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val anchors = emb.filter(col("vec_id") < embCellsFor(embeddingCount(s, d)))
      .select(col("vec_id").cast("int").as("cid"), col("v").as("a"))
    emb.join(broadcast(anchors), lit(true))
      .select(col("vec_id"), col("cid"),
        (vecDot(col("v"), col("a")) - vecDot(col("a"), col("a")) / 2).as("aff"))
      .groupBy("vec_id")
      .agg(max_by(col("cid"), struct(col("aff"), -col("cid"))).as("cid"))
  }

  /** Embedding-cosine near-dup with IVF-cell blocking: vectors are bucketed
    * by their nearest-anchor cell (a real coarse quantizer — cell count grows
    * with the corpus, unlike a fixed label vocabulary), candidate pairs form
    * only within a cell, exact cosine verifies candidates. Candidates are
    * O(Σ_cell |cell|²) ≪ O(n²/|labels|) — the all-pairs-in-disguise shape the
    * label blocking had is gone, and the knob that keeps it subquadratic at
    * 100 TB is just `embCells` (→ √n cells, anchors trained on a sample,
    * hot cells salted). Vector math is the codegen'd DotProduct expression;
    * cell ranking compares RAW affinities (bit-identical across engines for
    * identical input doubles — rounding first would ADD half-boundary
    * divergence risk), with cell-id tie-break for determinism. */
  /** The IVF-cell-assigned vector relation (vec_id, cid, v, nrm) —
    * dedup_embedding's blocking input, and the relation the staged
    * semantic-dedup layout persists bucketed by cell. */
  private def embAssigned(s: SparkSession, d: String): DataFrame = {
    import graft.functions.VectorFunctions.{asDouble, vecNorm}
    val normed = Tables.embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", vecNorm(col("v")))
    embeddingCells(s, d).join(normed, "vec_id")
  }

  /** Within-cell pair generation + exact-cosine verify over any assigned
    * (vec_id, cid, v, nrm) relation, UNSORTED (the clustering callers
    * ignore pair order; `dedupEmbedding` sorts at the query boundary). */
  private def embeddingPairsOn(assigned: DataFrame): DataFrame = {
    import graft.functions.VectorFunctions.vecDot
    val pairs = assigned.as("a").join(assigned.as("b"),
        col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round(vecDot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")), 4).as("cosine"))
    pairs.filter(col("cosine") >= 0.35)
  }

  def dedupEmbedding(s: SparkSession, d: String): DataFrame =
    embeddingPairsOn(embAssigned(s, d)).orderBy("vec_a", "vec_b")

  // Embedding near-dup pairs as a reusable CTE chain: consumed standalone
  // (dedup_embedding) and under the recursive closure (dedup_semantic_clusters)
  private val embeddingPairCte =
    s"""v AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS e,
      |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |  FROM embeddings
      |), eparams AS (
      |  SELECT GREATEST(32, LEAST(8192,
      |    2 * CAST(ceil(sqrt(count(*))) AS BIGINT))) AS ecells FROM v
      |), anchors AS (
      |  SELECT vec_id AS cid, e AS a FROM v, eparams WHERE vec_id < ecells
      |), aff AS (
      |  SELECT v.vec_id, anchors.cid,
      |    list_dot_product(v.e, anchors.a)
      |      - list_dot_product(anchors.a, anchors.a) / 2 AS aff
      |  FROM v CROSS JOIN anchors
      |), assign AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT vec_id, cid,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY aff DESC, cid) AS rk
      |    FROM aff
      |  ) WHERE rk = 1
      |), epairs AS (
      |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |    round(list_dot_product(x.e, y.e) / (x.nrm * y.nrm), 4) AS cosine
      |  FROM assign a JOIN assign b ON a.cid = b.cid AND a.vec_id < b.vec_id
      |  JOIN v x ON x.vec_id = a.vec_id
      |  JOIN v y ON y.vec_id = b.vec_id
      |  WHERE round(list_dot_product(x.e, y.e) / (x.nrm * y.nrm), 4) >= 0.35
      |)""".stripMargin

  private val dedupEmbeddingSql =
    s"""WITH $embeddingPairCte
      |SELECT vec_a, vec_b, cosine FROM epairs
      |ORDER BY vec_a, vec_b""".stripMargin

  /** Duplicate-cluster formation: connected components over the near-dup
    * pair graph — the step AFTER pair finding in a real dedup pipeline
    * (keep min-id per cluster, drop the rest). The components come from
    * `clusterPairs` (driver union-find under the edge gate, a Spark
    * pointer-jumping loop past it), fed by the UNSORTED pair core: CC
    * ignores pair order. Oracle: DuckDB recursive CTE transitive closure. */
  def dedupClusters(s: SparkSession, d: String): DataFrame =
    clusterPairs(ngramJaccardPairs(shingleRelation(s, d)).select("doc_a", "doc_b"))

  /** Connected components over an arbitrary (doc_a, doc_b) pair relation:
    * one (doc_id, cluster, is_keeper) row per endpoint, `cluster` = the
    * component's minimum doc_id, ordered by doc_id.
    *
    * The pair relation is cached and counted ONCE, and the count picks the
    * algorithm (the count is not a redundant scan: it materializes the
    * cache both paths read, and the gate needs the REAL edge count, which
    * derives from the pair finder's filter — no staged metadata can
    * predict it):
    *  - ≤ `broadcastEdgeLimit` edges (two per pair): the cached pairs are
    *    collected once and solved on the driver (`componentLabels`).
    *    Driver memory is primitive arrays only, each ~4–8 bytes per edge
    *    (the pair longs, a sorted endpoint copy, an int parent array, the
    *    (doc, cluster) output): ~24–32 bytes per edge at the peak — less
    *    than broadcasting the same edge list, which builds rows and a
    *    hashed relation on the driver.
    *  - past the gate: `pointerJumpLabels`, a Spark loop of shuffle joins
    *    that never brings the graph to the driver. */
  private[graft] def clusterPairs(
      pairs: DataFrame,
      broadcastEdgeLimit: Long = 5000000L): DataFrame = {
    val cached = pairs
      .select(col("doc_a").cast("long").as("doc_a"), col("doc_b").cast("long").as("doc_b"))
      .cache()
    val nEdges = 2 * cached.count()
    // Size the LABEL STATE's partitions (the loop's rounds, the driver
    // path's output) by its own volume, not the session default (guide
    // §2.2: size partitions to bytes). The label relation holds one
    // (doc, lbl) row per distinct endpoint — ≤ 2·|pairs| rows of two
    // longs — while spark.sql.shuffle.partitions is sized for data-grain
    // shuffles. Inheriting it made every loop round pay
    // partitions× per-task/stage overhead on kilobytes of state AND scale
    // the per-round cost with the core count (the r16 13.1 s @32-core vs
    // 6.2 s @8-core anti-scaling row). AQE can't fix it: cached-plan
    // shuffles keep their static width
    // (spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=false).
    // ~1M label rows (~dozens of MB) per partition, capped at the session
    // parallelism — grows with real edge volume, so a 100 TB pair graph
    // still fans out.
    val stateParts = math.max(1L, math.min(
      pairs.sparkSession.sparkContext.defaultParallelism.toLong,
      nEdges / 1000000L)).toInt
    val labels =
      if (nEdges <= broadcastEdgeLimit) driverLabels(cached, stateParts)
      else pointerJumpLabels(cached, stateParts)
    labels.select(col("doc").as("doc_id"), col("lbl").as("cluster"))
      .withColumn("is_keeper", col("doc_id") === col("cluster"))
      .orderBy("doc_id")
  }

  /** Connected components on the driver: ONE job collects the cached
    * (long) pairs as a primitive array per partition, `componentLabels`
    * solves them, and the labels come back as `parts` contiguous (doc, lbl)
    * slices, each shipped with its own task. Returns (doc, lbl). */
  private def driverLabels(pairs: DataFrame, parts: Int): DataFrame = {
    val s = pairs.sparkSession
    val ends = pairs.queryExecution.toRdd.mapPartitions { rows =>
      val b = new scala.collection.mutable.ArrayBuilder.ofLong
      rows.foreach { r =>
        if (r.isNullAt(0) || r.isNullAt(1))
          throw new IllegalArgumentException("clusterPairs: null pair endpoint")
        b += r.getLong(0); b += r.getLong(1)
      }
      Iterator.single(b.result())
    }.collect().flatten
    pairs.unpersist()
    val (ids, lbl) = componentLabels(ends)
    val bounds = (0 to parts).map(p => (ids.length.toLong * p / parts).toInt)
    val slices = (0 until parts).map(p =>
      (ids.slice(bounds(p), bounds(p + 1)), lbl.slice(bounds(p), bounds(p + 1))))
    s.createDataFrame(
      s.sparkContext.parallelize(slices, parts).flatMap { case (d, l) =>
        d.indices.iterator.map(i => org.apache.spark.sql.Row(d(i), l(i)))
      },
      new org.apache.spark.sql.types.StructType()
        .add("doc", "long", nullable = false).add("lbl", "long", nullable = false))
  }

  /** Union-find over interleaved endpoint pairs (a0, b0, a1, b1, …):
    * returns the sorted distinct endpoints and, per endpoint, its
    * component's minimum id. Endpoints map to dense indexes by binary
    * search in the sorted array, so index order IS id order and "union by
    * minimum id" is union by minimum index: every parent index is ≤ its
    * child's, each root is its component's minimum, and path halving
    * keeps that invariant. */
  private def componentLabels(ends: Array[Long]): (Array[Long], Array[Long]) = {
    val sorted = ends.clone()
    java.util.Arrays.sort(sorted)
    var n = 0
    var k = 0
    while (k < sorted.length) {
      if (n == 0 || sorted(k) != sorted(n - 1)) { sorted(n) = sorted(k); n += 1 }
      k += 1
    }
    val ids = java.util.Arrays.copyOf(sorted, n)
    val parent = new Array[Int](n)
    var i = 0
    while (i < n) { parent(i) = i; i += 1 }
    def find(x: Int): Int = {
      var j = x
      while (parent(j) != j) { parent(j) = parent(parent(j)); j = parent(j) }
      j
    }
    k = 0
    while (k < ends.length) {
      val ra = find(java.util.Arrays.binarySearch(ids, ends(k)))
      val rb = find(java.util.Arrays.binarySearch(ids, ends(k + 1)))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      k += 2
    }
    // parent(i) ≤ i, so an ascending pass resolves each parent's root
    // before its children: one step per index compresses every path
    val lbl = new Array[Long](n)
    i = 0
    while (i < n) { parent(i) = parent(parent(i)); lbl(i) = ids(parent(i)); i += 1 }
    (ids, lbl)
  }

  /** Pointer-jumping connected components as a Spark loop — the path past
    * the driver gate, where the graph must never be collected. Min-label
    * propagation with a POINTER-JUMPING step each round (lbl ← lbl(lbl)),
    * so chains collapse doubling-fast: O(log diameter) rounds, genuinely —
    * one-hop propagation alone would need O(diameter). One driver action
    * per round (a one-row sum that doubles as the convergence signal:
    * labels only ever decrease, so an unchanged sum is a fixpoint). The
    * cap of 20 rounds covers component diameters up to about 2^20; past
    * it the query fails rather than emitting partial clusters. Returns
    * (doc, lbl). */
  private def pointerJumpLabels(pairs: DataFrame, loopParts: Int): DataFrame = {
    // both edge directions in ONE pass over the cached pairs
    val edges = pairs
      .select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select("e.src", "e.dst")
      .cache()
    val init = edges.select(col("src").as("doc"))
      .repartition(loopParts, col("doc")).distinct()
      .withColumn("lbl", col("doc"))
    // a round's `prop` stays cached until the next round starts, when the
    // state built from it has been cut
    val props = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val labels = Rounds.untilStable("cc", 20, init) { (labels, _) =>
      props.foreach(_.unpersist()); props.clear()
      // hop: pull each neighbor's label across the edges, keep the min.
      // The explicit repartition pins the aggregate's one exchange at the
      // state-sized width (groupBy reuses the hash(doc) partitioning).
      // Cached: the jump reads it on both sides, and uncached that
      // self-join over the checkpointed labels fails in the optimizer
      // (Union.rewriteConstraints: "key not found: doc#…").
      val prop = labels
        .join(edges, col("doc") === col("src"))
        .select(col("dst").as("doc"), col("lbl"))
        .unionAll(labels)
        .repartition(loopParts, col("doc"))
        .groupBy("doc").agg(min("lbl").as("lbl"))
        .cache()
      props += prop
      // jump: lbl ← lbl(lbl). Every lbl value is itself a doc in the table
      // and lbl(y) <= y (min-label invariant), so the left join + least is
      // monotone; docs are unique in `prop`, so no re-aggregation needed.
      prop.as("p")
        .join(prop.as("q"), col("p.lbl") === col("q.doc"), "left")
        .select(col("p.doc").as("doc"),
          coalesce(least(col("p.lbl"), col("q.lbl")), col("p.lbl")).as("lbl"))
    }(_.agg(coalesce(sum("lbl"), lit(0L))).head().getLong(0))
    // the labels are checkpointed: no cache is read again
    props.foreach(_.unpersist()); edges.unpersist(); pairs.unpersist()
    labels
  }

  private val dedupClustersSql =
    s"""WITH RECURSIVE np AS (
       |$trueJaccardSql
       |), edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM np
       |  UNION ALL SELECT doc_b, doc_a FROM np
       |), reach(doc, lbl) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON r.doc = e.src
       |)
       |SELECT doc AS doc_id, min(lbl) AS cluster,
       |  doc = min(lbl) AS is_keeper
       |FROM reach GROUP BY doc ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // dedup_cluster_canonical — KEEP-BEST canonical selection: real pipelines
  // keep the highest-QUALITY member of each duplicate cluster, not the
  // lowest id (the reference's priority-aware dedup, build_master_corpus
  // .py:130-137 — sort by source priority, keep first — generalized to the
  // quality score). Composes dedup_clusters' connected components with the
  // shared integer quality score: per cluster, canonical = argmax bp with
  // min-doc_id tie-break via a rank-1 window (partitioned by cluster —
  // WindowGroupLimit-eligible, clusters are near-dup-sized, never
  // corpus-sized partitions).
  // ---------------------------------------------------------------------
  def dedupClusterCanonical(s: SparkSession, d: String): DataFrame =
    canonicalOn(s, d, dedupClusters(s, d).select("doc_id", "cluster"))

  /** Keep-best selection over any (doc_id, cluster) membership relation. */
  private def canonicalOn(s: SparkSession, d: String,
      clusters: DataFrame): DataFrame = {
    val q = TextAnalysis.qualityBp(s, d).select("doc_id", "bp")
    val w = Window.partitionBy("cluster")
      .orderBy(col("bp").desc, col("doc_id").asc)
    clusters.join(q, "doc_id")
      .withColumn("rk", row_number().over(w))
      .withColumn("n_members", count(lit(1)).over(Window.partitionBy("cluster")))
      .filter(col("rk") === 1)
      .select(col("cluster"), col("doc_id").as("canonical_doc"),
        col("n_members"), col("bp").as("best_bp"))
      .orderBy("cluster")
  }

  private val dedupClusterCanonicalSql =
    s"""WITH RECURSIVE np AS (
       |$trueJaccardSql
       |), edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM np
       |  UNION ALL SELECT doc_b, doc_a FROM np
       |), reach(doc, lbl) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON r.doc = e.src
       |), clusters AS (
       |  SELECT doc AS doc_id, min(lbl) AS cluster FROM reach GROUP BY doc
       |), qb AS (
       |  SELECT doc_id,
       |    ${wordCountSql("text")} AS n_tokens,
       |    length(text) AS len_chars,
       |    length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS n_alpha,
       |    length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct
       |  FROM documents
       |), scored AS (
       |  SELECT doc_id,
       |    CASE WHEN len_chars > 0 THEN
       |      CAST((20000 * (least(n_tokens, 100) * len_chars + 60 * n_alpha
       |                + 40 * (len_chars - n_punct)) + 200 * len_chars)
       |      // (2 * 200 * len_chars) AS BIGINT)
       |    ELSE least(n_tokens, 100) * 50 + 2000 END AS bp
       |  FROM qb
       |), ranked AS (
       |  SELECT c.cluster, c.doc_id, s.bp,
       |    row_number() OVER (PARTITION BY c.cluster
       |      ORDER BY s.bp DESC, c.doc_id) AS rk,
       |    CAST(count(*) OVER (PARTITION BY c.cluster) AS BIGINT) AS n_members
       |  FROM clusters c JOIN scored s ON s.doc_id = c.doc_id
       |)
       |SELECT cluster, doc_id AS canonical_doc, n_members, bp AS best_bp
       |FROM ranked WHERE rk = 1
       |ORDER BY cluster""".stripMargin

  /** SemDeDup-style semantic duplicate clusters: connected components over
    * the embedding-cosine near-dup pair graph (pairs from IVF-cell blocking,
    * CC from the same pointer-jumping core as dedup_clusters — keep the
    * min-id vector per semantic cluster, drop the rest). Pure composition of
    * two already-scale-proven operators; the oracle composes the embedding
    * pair CTEs under DuckDB's recursive closure. */
  def dedupSemanticClusters(s: SparkSession, d: String): DataFrame =
    clusterPairs(embeddingPairsOn(embAssigned(s, d))
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
      .withColumnRenamed("doc_id", "vec_id")

  // ---------------------------------------------------------------------
  // Staged near-dup layout (BucketedLayout pattern — the graph edge
  // staging applied to dedup): a production pipeline derives the
  // (doc_id, shingle) relation and the MinHash signature ONCE and
  // persists them bucketed+sorted by doc_id; semantic dedup likewise
  // persists the IVF-cell-assigned vectors bucketed by cell, so the
  // within-cell pair self-join runs on co-bucketed files. Re-deriving
  // the normalize→shingle blowup per pass is the single biggest
  // avoidable cost in the family (dedup_cluster_canonical is the #2
  // bench row and the slowest sf1 row). The `_staged` variants run the
  // SAME algorithms under the SAME oracles against this layout — the
  // layout is semantically invisible, only the plan changes.
  // ---------------------------------------------------------------------
  private[operators] def stagedShingles(s: SparkSession, d: String): String =
    graft.sources.Staging.ensureTable(s, "dedup_shingles", d,
      "documents.parquet", "doc_id", 32, Some("doc_id"))(
      shingleRelation(s, d))._1

  /** Signatures derive FROM the staged shingle table (never re-shingle).
    * private[operators]: the composed curation pipeline (llm_pretrain_e2e)
    * probes the SAME persisted signature relation for its survivor set. */
  private[operators] def stagedSignatures(s: SparkSession, d: String): String = {
    val shTable = stagedShingles(s, d)
    graft.sources.Staging.ensureTable(s, "dedup_sig", d,
      "documents.parquet", "doc_id", 32, Some("doc_id"))(
      minhashSignatures(s.table(shTable)))._1
  }

  private def stagedEmbCells(s: SparkSession, d: String): String =
    graft.sources.Staging.ensureTable(s, "dedup_embcells", d,
      "embeddings.parquet", "cid", 32, Some("cid"))(embAssigned(s, d))._1

  /** The staged shingle table CACHED for the query's lifetime: the pair
    * finders consume the relation 3x (df stats, prefix ranking, doc
    * sets), and re-decompressing a corpus-scale parquet read per consumer
    * costs more than the one in-memory materialization — the staged read
    * keeps the derivation saving AND the unstaged variants' cache
    * locality (cached plans preserve the bucketed partitioning).
    *
    * LIFECYCLE CONTRACT: the cache is released by the HARNESS, not here —
    * Bench and Verify call `spark.catalog.clearCache()` between queries
    * (that call is load-bearing for this path), and Spark's LRU eviction
    * bounds it in any long-lived session. Unpersisting inside the query
    * is impossible: the returned DataFrame is lazy, so the consumer
    * executes after this function returns. */
  private[operators] def stagedShingleRead(s: SparkSession, d: String): DataFrame =
    s.table(stagedShingles(s, d)).cache()

  /** dedup_minhash_lsh against the staged shingle + signature layout —
    * same oracle (the unblocked all-pairs truth). */
  def dedupMinhashLshStaged(s: SparkSession, d: String): DataFrame =
    minhashLshOn(stagedShingleRead(s, d),
      s.table(stagedSignatures(s, d)))

  /** dedup_clusters against the staged shingle layout — same oracle. */
  def dedupClustersStaged(s: SparkSession, d: String): DataFrame =
    clusterPairs(ngramJaccardPairs(stagedShingleRead(s, d))
      .select("doc_a", "doc_b"))

  /** dedup_cluster_canonical against the staged shingle layout — same
    * oracle. */
  def dedupClusterCanonicalStaged(s: SparkSession, d: String): DataFrame =
    canonicalOn(s, d,
      dedupClustersStaged(s, d).select("doc_id", "cluster"))

  /** dedup_semantic_clusters against the staged cell-assigned vector
    * layout — same oracle. */
  def dedupSemanticClustersStaged(s: SparkSession, d: String): DataFrame =
    clusterPairs(embeddingPairsOn(s.table(stagedEmbCells(s, d)))
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
      .withColumnRenamed("doc_id", "vec_id")

  /** The 8-band hash array over the h0..h31 signature columns (band hash =
    * xxhash64 over the band's 4 slots) — shared by the LSH variants and
    * the corpus band index. */
  private def bandArray: org.apache.spark.sql.Column = {
    val rowsPerBand = numHashes / bands
    array((0 until bands).map(b =>
      xxhash64((b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(i => col(s"h$i")): _*)): _*)
  }

  private def sidesOf(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("source").isin("src0", "src1").as("is_new"))

  /** The CORPUS side's banded MinHash index staged as a managed table
    * bucketed by the probe key — the persisted structure the every-day
    * ingest probes at 100 TB: (corpus_doc, nc, band_idx, band_hash).
    * Derives from the staged signature table, never re-shingling. */
  private def stagedCorpusBandIndex(s: SparkSession, d: String): String = {
    val sigT = stagedSignatures(s, d)
    graft.sources.Staging.ensureTable(s, "dedup_corpusband", d,
      "documents.parquet", "band_hash", 32, Some("band_hash")) {
      s.table(sigT).join(sidesOf(s, d), "doc_id").filter(!col("is_new"))
        .select(col("doc_id").as("corpus_doc"), col("n_sh").as("nc"),
          posexplode(bandArray).as(Seq("band_idx", "band_hash")))
    }._1
  }

  /** dedup_incremental against the PERSISTED corpus band index — the
    * production shape of the every-day operation: the corpus's index and
    * shingle relation are staged tables (built once, amortized over every
    * ingest); only the arriving batch computes signatures, and its banded
    * relation broadcasts to probe the index. Same unblocked cross-side
    * oracle.
    *
    * CACHE CONTRACT (also `indexAppendApply`, `LlmPretrain.llmPretrainE2e`):
    * the returned DataFrame pins BATCH-sized cached intermediates (never
    * corpus-grain) that two downstream consumers share; they stay cached
    * after materialization so the lazy result stays re-runnable. The
    * Verify/Bench harnesses call `spark.catalog.clearCache()` between
    * queries; a library caller invoking these repeatedly should do the
    * same (or `unpersist` via `spark.sharedState.cacheManager`) once the
    * result is consumed, or the batch-sized entries accumulate until
    * ContextCleaner GC. */
  def dedupIncrementalStaged(s: SparkSession, d: String): DataFrame = {
    val shT = stagedShingles(s, d)
    val corpusB = s.table(stagedCorpusBandIndex(s, d))
    val newDocs = sidesOf(s, d).filter(col("is_new")).select("doc_id")
    // batch shingles: bucketed-table scan broadcast-pruned to the arriving
    // batch, CACHED (signatures + verification probe side both consume
    // it) — batch-sized, never the full corpus relation. Caching the whole
    // corpus shingle read here was the r12 sf10 finding: the verification
    // join shuffled 260M corpus shingle rows to verify batch-sized
    // candidates (second-decade exponent 1.35; with the prune it falls
    // back in line).
    val shNew = s.table(shT).join(broadcast(newDocs), "doc_id").cache()
    val newB = minhashSignatures(shNew)
      .select(col("doc_id").as("new_doc"), col("n_sh").as("nn"),
        posexplode(bandArray).as(Seq("band_idx", "band_hash")))
    // cand is CACHED: it feeds both the candDocs broadcast and the
    // verification join — uncached, the corpus-index probe join (the one
    // linear-in-corpus scan) would execute twice
    val cand = corpusB.join(broadcast(newB), Seq("band_idx", "band_hash"))
      .select("new_doc", "corpus_doc", "nn", "nc")
      .distinct()
      .cache()
    // corpus-side verification shingles pruned to CANDIDATE docs BEFORE
    // any exchange: candidates are batch-sized, so the linear-in-corpus
    // cost is one sequential bucketed scan with a broadcast semi — the
    // corpus never shuffles at corpus grain on the daily path
    val candDocs = cand.select(col("corpus_doc").as("doc_id")).distinct()
    val shCand = s.table(shT).join(broadcast(candDocs), "doc_id")
    val inter = cand
      .join(shNew.as("sa"), col("sa.doc_id") === col("new_doc"))
      .join(shCand.as("sb"),
        col("sb.doc_id") === col("corpus_doc") &&
          col("sb.shingle") === col("sa.shingle"))
      .groupBy("new_doc", "corpus_doc", "nn", "nc")
      .agg(count(lit(1)).as("n_common"))
    inter
      .select(col("new_doc"), col("corpus_doc"),
        round(col("n_common").cast("double") /
          (col("nn") + col("nc") - col("n_common")).cast("double"), 4)
          .as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .orderBy("new_doc", "corpus_doc")
  }

  // ---------------------------------------------------------------------
  // streaming_neardup — the band-index probe AS A STREAM (r14 verdict
  // item 4; the 13th streaming rung): real crawl ingest arrives
  // continuously, not as a daily batch, so the every-day near-dup path
  // needs a micro-batch sibling of dedup_incremental_staged. Arriving
  // docs compute their MinHash signatures PER ROW (shingle set → 32
  // mins → 8 band hashes, all closed-form expressions over an array
  // column — no aggregation, so the whole probe stays inside one
  // streaming query), and band rows stream-static join the PERSISTED
  // carried-set stream index (stagedStreamBandIndex): candidate
  // generation AND exact-Jaccard verification happen in that ONE join,
  // the verify a per-row array_intersect against the c_sh column the
  // index carries — no second corpus-grain join per micro-batch. The
  // ONLY stateful op is the final pair-grain aggregate (a pair can
  // surface via several matching bands), Complete mode, state bounded
  // by the number of verified matches; a deployment keyed on real
  // arrival time would bound even that with dropDuplicatesWithinWatermark
  // (the streaming_dedup rung's mechanism). Stateless probe + static
  // index is exactly why this scales: the stream side never buffers,
  // the corpus index refreshes by swapping the table (dedup_index_append
  // is the maintenance arm).
  //
  // Parity: the per-row signature pipeline reproduces the batch
  // derivation exactly — same normalizeText tokenizer, distinct 3-gram
  // shingles, xxhash64(i, shingle) mins, band hash over the same slot
  // grouping — so the stream is oracled by the SAME unblocked cross-side
  // Jaccard SQL as dedup_incremental, and StreamingSpec asserts
  // stream == batch row-for-row.
  // ---------------------------------------------------------------------

  /** Corpus-side shingle SETS (corpus_doc, c_sh sorted array), staged
    * bucketed on doc id — the building block of the stream index below
    * (and reusable by any per-doc verification consumer). */
  private def stagedCorpusShingleSets(s: SparkSession, d: String): String = {
    val shT = stagedShingles(s, d)
    graft.sources.Staging.ensureTable(s, "dedup_corpusshset", d,
      "documents.parquet", "corpus_doc", 32, Some("corpus_doc")) {
      s.table(shT).join(sidesOf(s, d), "doc_id").filter(!col("is_new"))
        .groupBy("doc_id")
        .agg(sort_array(collect_set(col("shingle"))).as("c_sh"))
        .select(col("doc_id").as("corpus_doc"), col("c_sh"))
    }._1
  }

  /** The STREAM-SIDE probe index: band rows WITH the owning doc's shingle
    * set carried inline (corpus_doc, nc, band_idx, band_hash, c_sh),
    * bucketed+sorted on the probe key. Carrying the set costs ~8x the
    * shingle-set bytes at staging (one copy per band row) and buys the
    * continuous-ingest path its scalability: probe + exact-Jaccard verify
    * become ONE stream-static join whose static side is a bucketed scan
    * on the join key — no second corpus-grain scan and NO corpus-grain
    * exchange or sort per micro-batch. Measured before/after at the
    * decade triple: the two-join form (probe index + separate shingle-set
    * join) re-exchanged the corpus shingle sets EVERY micro-batch at the
    * replay harness's state-sized 8 shuffle partitions — 370 s at sf10;
    * the carried-set form reads the index sequentially per batch. A
    * deliberate storage-for-latency trade, the same motion as carrying
    * n_sh in the band index. */
  private def stagedStreamBandIndex(s: SparkSession, d: String): String = {
    val bandT = stagedCorpusBandIndex(s, d)
    val setsT = stagedCorpusShingleSets(s, d)
    graft.sources.Staging.ensureTable(s, "dedup_streamband", d,
      "documents.parquet", "band_hash", 32, Some("band_hash")) {
      s.table(bandT).join(s.table(setsT), Seq("corpus_doc"))
        .select(col("corpus_doc"), col("nc"), col("band_idx"),
          col("band_hash"), col("c_sh"))
    }._1
  }

  /** The per-row probe pipeline over a (doc_id, text) micro-batch:
    * shingle array → signature → band rows → ONE probe join against the
    * carried-set stream index (candidate generation AND exact-Jaccard
    * verification in the same join, per-row array_intersect) → pair-grain
    * aggregate. Pure function of its two inputs so StreamingSpec can also
    * run it as a batch plan. */
  private[graft] def neardupProbe(docs: DataFrame,
      corpusIx: DataFrame): DataFrame =
    // the one stateful op: collapse multi-band hits to one row per pair
    // (jaccard is a function of the pair, so min == the value)
    neardupVerified(docs, corpusIx, Nil)
      .groupBy("new_doc", "corpus_doc").agg(min("jaccard").as("jaccard"))

  /** The stateless probe pipeline shared by the Complete-mode aggregate
    * form (neardupProbe) and the watermarked Append form below: per-row
    * signatures → band rows → ONE stream-static join doing candidate
    * generation AND exact-Jaccard verification. Emits one row per
    * (pair, matching band); `carry` names doc columns (e.g. the arrival
    * timestamp) threaded through to the output. */
  private def neardupVerified(docs: DataFrame, corpusIx: DataFrame,
      carry: Seq[String]): DataFrame = {
    val toks = wsTokens(normalizeText(col("text")))
    // distinct 3-word shingles as an ARRAY column — the row-local form of
    // shinglesOf (docs with < 3 tokens have no shingles there and are
    // filtered here for the same reason). The shingle TRANSFORM stays a
    // HOF (one interpreted pass); the 32 signature minima use the native
    // MinHashSig expression — as 32 array_min(transform(...)) HOFs they
    // were the dominant arrival-side cost at sf10 (r15 ScaleSmoke,
    // ~350 s), each an interpreted traversal; MinHashSig computes all 32
    // in ONE codegen'd pass with bit-exact xxhash64 parity, so the staged
    // corpus index still matches.
    val withSh = docs
      .filter(size(toks) >= 3)
      .withColumn("sh_arr", wordShingles(normalizeText(col("text")), 3))
      .withColumn("n_sh", size(col("sh_arr")).cast("long"))
      .withColumn("sig_arr",
        graft.functions.MinHashSig.minhashSig(col("sh_arr"), numHashes))
    val carryCols = carry.map(col)
    val sig = withSh.select(
      (col("doc_id") +: col("n_sh") +: col("sh_arr") +:
        (0 until numHashes).map(i =>
          element_at(col("sig_arr"), i + 1).as(s"h$i"))) ++ carryCols: _*)
    val banded = sig.select(
      col("doc_id").as("new_doc") +: col("n_sh").as("nn") +: col("sh_arr") +:
        posexplode(bandArray).as(Seq("band_idx", "band_hash")) +: carryCols: _*)
    banded.join(corpusIx, Seq("band_idx", "band_hash"))
      .withColumn("n_common",
        size(array_intersect(col("sh_arr"), col("c_sh"))).cast("long"))
      .select(col("new_doc") +: col("corpus_doc") +:
        round(col("n_common").cast("double") /
          (col("nn") + col("nc") - col("n_common")).cast("double"), 4)
          .as("jaccard") +: carryCols: _*)
      .filter(col("jaccard") >= 0.5)
  }

  /** The arriving side (src0/src1 docs) every streaming dedup replay
    * streams — shared by the replay queries and their phase fixtures. */
  private def replayDocs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(col("source").isin("src0", "src1"))
      .select("doc_id", "text")

  /** The streaming_neardup phases: the doc_id-parity halves of the
    * arriving side. Each phase is ~defaultParallelism files (r16): the
    * arrival-side per-row work (shingle HOF + MinHashSig) runs in the
    * micro-batch's SCAN stage, so a single-file half pinned the whole
    * signature pass to one task (~1.6 s/batch at sf0.1); one partition per
    * file is the parallelism a production ingest directory has naturally.
    * The doc_id hash keeps file contents deterministic (no round-robin). */
  private def neardupPhases(s: SparkSession, d: String): Seq[Replay.Phase] =
    Replay.fixture("sneardup", d)(Seq(0, 1).map(parity =>
      replayDocs(s, d).filter(col("doc_id") % 2 === parity)
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))))

  /** Driver-contract entry: the arriving side replayed as TWO micro-
    * batches (doc_id parity split) through a real streaming query against
    * the persisted index tables; Complete-mode overwrite sink, read back
    * lazily (the `Replay` driver). A doc phase staged as several files
    * may split across polls; the pair-grain aggregate makes the result
    * independent of that split. */
  def streamingNeardup(s: SparkSession, d: String): DataFrame = {
    val corpusIx = s.table(stagedStreamBandIndex(s, d))
    Replay.run(s, "stream_neardup_out", d,
        StructType.fromDDL("doc_id BIGINT, text STRING"),
        OutputMode.Complete, Replay.BatchSink,
        neardupPhases(s, d))(neardupProbe(_, corpusIx))
      .orderBy("new_doc", "corpus_doc")
  }

  /** Same unblocked cross-side truth as dedup_incremental. (A def — the
    * referenced val is declared further down the object body, and a val
    * here would capture null during object init.) */
  def streamingNeardupSql: String = dedupIncrementalSql

  // ---------------------------------------------------------------------
  // streaming_neardup_watermarked — the BOUNDED-STATE deployment form of
  // streaming_neardup (r15 verdict item 3a): the Complete-mode pair
  // aggregate above grows with verified matches forever; here the only
  // stateful op is dropDuplicatesWithinWatermark on the pair key with a
  // 1-hour watermark on ARRIVAL time, so pair state is GC'd once the
  // watermark passes (the streaming_dedup rung's mechanism applied to
  // the probe's multi-band duplicates) and output is Append-mode
  // immediate emission — the shape that actually runs unbounded on a
  // 100 TB ingest stream.
  //
  // The state GC is PROVEN IN THE OUTPUT by a late-drop-style three-phase
  // replay: phase 1 streams every probe doc at arrival time T0 (each
  // verified pair emits ONCE — multi-band duplicates within the
  // watermark collapse); phase 2 streams a vocabulary-disjoint sentinel
  // doc at T0+3h, advancing the watermark to T0+2h and expiring all
  // phase-1 pair state (first-seen T0 + 1h delay < watermark); phase 3
  // replays the SAME docs at T0+3h — every pair emits AGAIN because its
  // state is gone. The read-back groups the sink by pair: n_emits must be
  // EXACTLY 2 for every pair — 1 would mean state survived GC (phase-3
  // drop), >2 would mean within-watermark dedup leaked band duplicates —
  // and the DuckDB oracle states exactly that against the same unblocked
  // cross-side Jaccard truth as streaming_neardup.
  // ---------------------------------------------------------------------

  /** Append-form probe: arrival-time watermark → stateless verified pairs
    * (ats carried through) → pair-key dropDuplicatesWithinWatermark. */
  private def neardupProbeWatermarked(docs: DataFrame,
      corpusIx: DataFrame): DataFrame =
    neardupVerified(
      docs.withColumn("ats", timestamp_millis(col("ats_ms")))
        .withWatermark("ats", "1 hour")
        .select("doc_id", "text", "ats"),
      corpusIx, Seq("ats"))
      .dropDuplicatesWithinWatermark("new_doc", "corpus_doc")
      .select("new_doc", "corpus_doc", "jaccard")

  private val wmT0 = 1700000000000L // fixed epoch; only differences matter
  private val wmT3h = wmT0 + 3L * 3600000L

  /** The three watermarked-replay phases: every probe doc at T0, the
    * sentinel at T0+3h, the same docs at T0+3h. Doc phases are
    * ~defaultParallelism files (the streaming_neardup rationale). The
    * sentinel is one row of tokens that cannot occur in any document's
    * text, so it advances the watermark but can never band-match (and
    * even a hash coincidence dies at the exact-Jaccard verify). */
  private def wmPhases(s: SparkSession, d: String): Seq[Replay.Phase] =
    Replay.fixture("sndwm", d) {
      def docsAt(ms: Long) = replayDocs(s, d).withColumn("ats_ms", lit(ms))
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      Seq(docsAt(wmT0),
        s.range(1).select(lit(-1L).as("doc_id"),
          lit((0 to 6).map(i => s"qqgraftwm$i").mkString(" ")).as("text"),
          lit(wmT3h).as("ats_ms")).coalesce(1),
        docsAt(wmT3h))
    }

  /** Driver-contract entry: three explicitly ordered phases (probe docs at
    * T0 → watermark-advancing sentinel at T0+3h → the same docs replayed
    * at T0+3h) through the Append-mode watermarked probe; the sink is read
    * back at pair grain with its emission count. A doc phase split across
    * polls only splits a batch: the pair-key dedup state keeps emissions
    * per phase single. */
  def streamingNeardupWatermarked(s: SparkSession, d: String): DataFrame = {
    val corpusIx = s.table(stagedStreamBandIndex(s, d))
    Replay.run(s, "stream_neardup_wm", d,
        StructType.fromDDL("doc_id BIGINT, text STRING, ats_ms BIGINT"),
        OutputMode.Append, Replay.FileSink,
        wmPhases(s, d))(neardupProbeWatermarked(_, corpusIx))
      .groupBy("new_doc", "corpus_doc")
      .agg(count(lit(1)).as("n_emits"), min("jaccard").as("jaccard"))
      .orderBy("new_doc", "corpus_doc")
  }

  /** The same unblocked truth with the replay's emission count stated:
    * exactly 2 per pair (once per doc phase; the GC proof). */
  def streamingNeardupWatermarkedSql: String =
    s"""SELECT new_doc, corpus_doc, CAST(2 AS BIGINT) AS n_emits, jaccard
       |FROM ($dedupIncrementalSql)
       |ORDER BY new_doc, corpus_doc""".stripMargin

  // ---------------------------------------------------------------------
  // dedup_index_append — band-index MAINTENANCE, the other half of the
  // daily loop (reference analog: build_master_corpus.py:130-137 folding
  // the new source into the master): after the batch probes the persisted
  // corpus band index, the SURVIVING batch docs (no J ≥ 0.5 corpus match)
  // are APPENDED to the index — never a rebuild. The query PROVES the
  // maintenance invariant: index-after-append == index-rebuilt-from-
  // scratch, band row by band row (the mergeable-partial idiom of
  // q_incr_agg applied to the index structure). Output is per-doc grain —
  // (doc_id, n_sh, n_bands, n_mismatch) over the appended index, where
  // n_mismatch counts band rows whose hash differs between the appended
  // and rebuilt structures (full-outer on (doc_id, band_idx), so a row
  // missing from either side counts too). The DuckDB oracle states the
  // invariant's truth: the surviving doc set from the UNBLOCKED
  // cross-side Jaccard (a recall assertion on the staged probe, like
  // dedup_incremental's) with exactly `bands` band rows and ZERO
  // mismatches per doc.
  // ---------------------------------------------------------------------
  /** The PRODUCTION half of the maintenance loop alone — probe, drop
    * matched batch docs, union the survivors' band rows onto the
    * persisted index. ScaleSmoke split-measures this (the ivfpq
    * build/search pattern): the oracled query below adds a full rebuild
    * arm purely to PROVE the invariant, roughly doubling its cost.
    * Cache contract: see `dedupIncrementalStaged` — the batch-sized
    * cached intermediates here follow the same clearCache-between-calls
    * convention. */
  private[graft] def indexAppendApply(s: SparkSession, d: String): DataFrame = {
    val shT = stagedShingles(s, d)
    val corpusB = s.table(stagedCorpusBandIndex(s, d))
    val newDocs = sidesOf(s, d).filter(col("is_new")).select("doc_id")
    // same candidate-pruned probe shape as dedupIncrementalStaged: the
    // batch and candidate relations are batch-sized, the corpus never
    // shuffles at corpus grain on the daily path
    val shNew = s.table(shT).join(broadcast(newDocs), "doc_id").cache()
    val newB = minhashSignatures(shNew)
      .select(col("doc_id").as("new_doc"), col("n_sh").as("nn"),
        posexplode(bandArray).as(Seq("band_idx", "band_hash")))
      .cache() // consumed by the probe AND the append arm
    // the probe (same staged path dedup_incremental_staged benches):
    // batch docs with a verified J >= 0.5 corpus match do NOT enter.
    // Cached for the same two-consumer reason as the incremental probe.
    val cand = corpusB.join(broadcast(newB), Seq("band_idx", "band_hash"))
      .select("new_doc", "corpus_doc", "nn", "nc").distinct()
      .cache()
    val candDocs = cand.select(col("corpus_doc").as("doc_id")).distinct()
    val shCand = s.table(shT).join(broadcast(candDocs), "doc_id")
    val matched = cand
      .join(shNew.as("sa"), col("sa.doc_id") === col("new_doc"))
      .join(shCand.as("sb"),
        col("sb.doc_id") === col("corpus_doc") &&
          col("sb.shingle") === col("sa.shingle"))
      .groupBy("new_doc", "corpus_doc", "nn", "nc")
      .agg(count(lit(1)).as("n_common"))
      .filter(round(col("n_common").cast("double") /
        (col("nn") + col("nc") - col("n_common")).cast("double"), 4) >= 0.5)
      .select("new_doc").distinct()
    val survivorB = newB.join(matched, Seq("new_doc"), "left_anti")
    // append path: persisted corpus rows ∪ the survivors' band rows
    corpusB
      .select(col("corpus_doc").as("doc_id"), col("nc").as("n_sh"),
        col("band_idx"), col("band_hash"))
      .unionAll(survivorB.select(col("new_doc").as("doc_id"),
        col("nn").as("n_sh"), col("band_idx"), col("band_hash")))
  }

  def dedupIndexAppend(s: SparkSession, d: String): DataFrame = {
    val sh = stagedShingleRead(s, d)
    val appended = indexAppendApply(s, d)
    // rebuild path: signatures recomputed from the shingle relation for
    // the exact same doc set, banded fresh
    val keepDocs = appended.select("doc_id").distinct()
    val rebuilt = minhashSignatures(sh.join(keepDocs, "doc_id"))
      .select(col("doc_id"), col("n_sh"),
        posexplode(bandArray).as(Seq("band_idx", "band_hash")))
    appended.as("a")
      .join(rebuilt.as("r"), Seq("doc_id", "band_idx"), "full_outer")
      .groupBy("doc_id")
      .agg(
        max(coalesce(col("a.n_sh"), col("r.n_sh"))).as("n_sh"),
        count(lit(1)).as("n_bands"),
        sum(when(col("a.band_hash").isNull || col("r.band_hash").isNull ||
          col("a.band_hash") =!= col("r.band_hash") ||
          // the stored shingle count is part of the proved invariant too:
          // without this, an n_sh disagreement would be absorbed by the
          // max(coalesce(...)) above and never counted
          !(col("a.n_sh") <=> col("r.n_sh")), 1L).otherwise(0L))
          .as("n_mismatch"))
      .orderBy("doc_id")
  }

  /** The invariant's truth: surviving docs from the unblocked cross-side
    * Jaccard, `bands` band rows each, zero append-vs-rebuild mismatches. */
  private val dedupIndexAppendSql =
    s"""WITH $shingleCte,
       |sides AS (
       |  SELECT doc_id, source IN ('src0', 'src1') AS is_new FROM documents
       |), sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT sa.doc_id AS new_doc, sb.doc_id AS corpus_doc,
       |    count(*) AS n_common
       |  FROM sh sa JOIN sides na ON na.doc_id = sa.doc_id AND na.is_new
       |  JOIN sh sb ON sb.shingle = sa.shingle
       |  JOIN sides nb ON nb.doc_id = sb.doc_id AND NOT nb.is_new
       |  GROUP BY 1, 2
       |), matched AS (
       |  SELECT DISTINCT new_doc FROM inter
       |  JOIN sizes zn ON zn.doc_id = new_doc
       |  JOIN sizes zc ON zc.doc_id = corpus_doc
       |  WHERE round(n_common * 1.0 / (zn.n_sh + zc.n_sh - n_common), 4)
       |    >= 0.5
       |), keep AS (
       |  SELECT s.doc_id FROM sides s JOIN sizes z ON z.doc_id = s.doc_id
       |  WHERE NOT s.is_new
       |  UNION ALL
       |  SELECT s.doc_id FROM sides s JOIN sizes z ON z.doc_id = s.doc_id
       |  WHERE s.is_new AND s.doc_id NOT IN (SELECT new_doc FROM matched)
       |)
       |SELECT k.doc_id, z.n_sh, CAST($bands AS BIGINT) AS n_bands,
       |  CAST(0 AS BIGINT) AS n_mismatch
       |FROM keep k JOIN sizes z ON z.doc_id = k.doc_id
       |ORDER BY k.doc_id""".stripMargin

  private val dedupSemanticClustersSql =
    s"""WITH RECURSIVE $embeddingPairCte,
       |edges AS (
       |  SELECT vec_a AS src, vec_b AS dst FROM epairs
       |  UNION ALL SELECT vec_b, vec_a FROM epairs
       |), reach(doc, lbl) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON r.doc = e.src
       |)
       |SELECT doc AS vec_id, min(lbl) AS cluster,
       |  doc = min(lbl) AS is_keeper
       |FROM reach GROUP BY doc ORDER BY vec_id""".stripMargin

  /** CONTAINMENT near-dup join (|A∩B| / |A| ≥ 0.8) — the asymmetric sibling
    * of the Jaccard join: it catches a document swallowed whole inside a
    * larger one (quote farms, concatenated dumps, page-plus-boilerplate),
    * which symmetric Jaccard misses because the union is dominated by the
    * big side. This is the pair-level form of Lee et al.'s "Deduplicating
    * Training Data" substring concern, at shingle granularity.
    *
    * Blocking is the asymmetric prefix filter: order shingles by the global
    * (df, shingle) total order; if B holds ≥ τ·|A| of A's shingles, B misses
    * < (1−τ)|A| of them, so B must share one of A's ⌊n/5⌋+2 rarest (the +2
    * absorbs the round(·,4) ≥ 0.8 boundary). A's PREFIX joins B's FULL
    * posting list (containment constrains only A's side — that asymmetry is
    * the operator), so recall is 100% by construction and the oracle below
    * is the UNBLOCKED all-pairs truth, same strongest form as the LSH and
    * Jaccard oracles. Verification reuses the array_intersect doc-set join.
    */
  def dedupContainment(s: SparkSession, d: String): DataFrame =
    containmentPairs(shingleRelation(s, d))

  private[graft] def containmentPairs(sh: DataFrame): DataFrame = {
    val dfs = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    val wDoc = Window.partitionBy("doc_id")
    val ranked = sh.join(dfs, "shingle")
      .select(col("doc_id"), col("shingle"), col("df"),
        row_number().over(wDoc.orderBy("df", "shingle")).as("rk"),
        count(lit(1)).over(wDoc).as("n_sh"))
    val prefixA = ranked.filter(col("rk") <= floor(col("n_sh") / 5) + 2)
    val cand = prefixA.as("a").join(ranked.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n_sh").as("na"))
      .distinct()
    val docSets = sh.groupBy("doc_id").agg(collect_list("shingle").as("shs"))
    cand
      .join(docSets.select(col("doc_id").as("doc_a"), col("shs").as("sa")), "doc_a")
      .join(docSets.select(col("doc_id").as("doc_b"), col("shs").as("sb")), "doc_b")
      .withColumn("n_common", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .select(col("doc_a"), col("doc_b"),
        round(col("n_common").cast("double") / col("na").cast("double"), 4)
          .as("containment"))
      .filter(col("containment") >= 0.8)
      .orderBy("doc_a", "doc_b")
  }

  /** Unblocked all-pairs containment truth — the hash match proves the
    * prefix filter's 100% recall. */
  private val dedupContainmentSql =
    s"""WITH $shingleCte,
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |common AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT doc_a, doc_b,
       |  round(n_common * 1.0 / za.n_sh, 4) AS containment
       |FROM common JOIN sizes za ON za.doc_id = doc_a
       |WHERE round(n_common * 1.0 / za.n_sh, 4) >= 0.8
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------------
  // dedup_overlap_sketch — cross-corpus overlap ESTIMATION from KMV/theta
  // sketches (Beyer et al. 2007; the Theta-sketch set algebra): before
  // running a full cross-corpus dedup at 100 TB, estimate how much two
  // corpora share by intersecting their k-minimum-value shingle sketches —
  // each corpus is reduced to its k smallest portable shingle hashes, and
  // Jaccard ≈ |A_sketch ∩ B_sketch ∩ U_k| / k where U_k is the k smallest
  // of the sketch union. Cost: one distinct-shuffle per corpus + O(k)
  // driver-safe rows; the corpora are never joined against each other.
  //
  // Sides here: even- vs odd-numbered sources (robust to the source count
  // growing with SF). The per-side k-smallest runs as a rank-filter over
  // the (side, h) distinct relation — WindowGroupLimit keeps it partial
  // map-side, so the exchange carries ≤ k rows per input partition; every
  // relation after that is ≤ 2k rows.
  //
  // Oracle-exactness: the hash is the 15-hex-digit md5 prefix as an
  // integer (the portable idiom the IVF sample shares), estimates are
  // integer basis points via truncating div — all-positive, so Spark div
  // == DuckDB //.
  // ---------------------------------------------------------------------

  def dedupOverlapSketch(s: SparkSession, d: String): DataFrame = {
    val k = 256
    val sides = Tables.documents(s, d)
      .select(col("doc_id"),
        when(substring(col("source"), 4, 10).cast("int") % 2 === 0, lit("A"))
          .otherwise(lit("B")).as("side"))
    val hs = shingleRelation(s, d).join(sides, "doc_id")
      .select(col("side"),
        conv(substring(md5(col("shingle")), 1, 15), 16, 10).cast("long").as("h"))
      .distinct()
    val wSide = Window.partitionBy("side").orderBy("h")
    val sketch = hs.withColumn("rk", row_number().over(wSide))
      .filter(col("rk") <= k)
      .select("side", "h")
    // union sketch: k smallest over both sides (input already ≤ 2k rows,
    // so the single-partition window is bounded, not corpus-sized)
    val u = sketch.select("h").distinct()
      .withColumn("urk", row_number().over(Window.orderBy("h")))
      .filter(col("urk") <= k)
    val nsides = sketch.groupBy("h").agg(countDistinct("side").as("nsides"))
    u.join(nsides, "h")
      .agg(max(col("urk")).cast("long").as("k_used"),
        max(col("h")).as("theta"),
        sum(when(col("nsides") === 2, 1L).otherwise(0L)).as("matched"))
      .withColumn("jaccard_est_bp", expr("matched * 10000 div k_used"))
  }

  private val dedupOverlapSketchSql = {
    val hv = OracleSql.hexPrefix("md5(shingle)", 15)
    s"""WITH $shingleCte,
       |sides AS (
       |  SELECT doc_id, CASE WHEN CAST(substring(source, 4) AS INT) % 2 = 0
       |    THEN 'A' ELSE 'B' END AS side
       |  FROM documents
       |), hs AS (
       |  SELECT DISTINCT side, CAST($hv AS BIGINT) AS h
       |  FROM sh JOIN sides USING (doc_id)
       |), sketch AS (
       |  SELECT side, h FROM (
       |    SELECT side, h, row_number() OVER (PARTITION BY side ORDER BY h) AS rk
       |    FROM hs
       |  ) WHERE rk <= 256
       |), u AS (
       |  SELECT h, urk FROM (
       |    SELECT h, row_number() OVER (ORDER BY h) AS urk
       |    FROM (SELECT DISTINCT h FROM sketch)
       |  ) WHERE urk <= 256
       |), ns AS (
       |  SELECT h, count(DISTINCT side) AS nsides FROM sketch GROUP BY h
       |)
       |SELECT CAST(max(urk) AS BIGINT) AS k_used,
       |  CAST(max(u.h) AS BIGINT) AS theta,
       |  CAST(sum(CASE WHEN nsides = 2 THEN 1 ELSE 0 END) AS BIGINT) AS matched,
       |  CAST(CAST(sum(CASE WHEN nsides = 2 THEN 1 ELSE 0 END) AS BIGINT) * 10000
       |    // CAST(max(urk) AS BIGINT) AS BIGINT) AS jaccard_est_bp
       |FROM u JOIN ns USING (h)""".stripMargin
  }

  // ---------------------------------------------------------------------
  // dedup_incremental — NEW-BATCH-vs-CORPUS near-dup detection, the
  // incremental-ingest shape of dedup_minhash_lsh (reference
  // build_master_corpus.py:137's priority-aware dedup of a new source
  // against the existing master, generalized to near-dups): a small
  // arriving batch (sources src0/src1 here) is checked against the
  // standing corpus (everything else) WITHOUT ever re-comparing
  // corpus-vs-corpus pairs. At 100 TB this is the every-day operation —
  // the corpus's band index is precomputed and persisted; only the new
  // batch computes signatures, and its banded signature relation (tiny
  // relative to the corpus) BROADCASTS to probe the index, so the corpus
  // side is one scan with no shuffle. Same k=32/8-band/4-row MinHash as
  // dedup_minhash_lsh; candidates verified with exact Jaccard.
  //
  // Oracle: the UNBLOCKED cross-corpus truth — every (new, corpus) pair
  // with exact Jaccard ≥ 0.5 (DuckDB pays the quadratic co-shingle join).
  // The hash match is therefore a cross-side LSH recall assertion, honest
  // for the same reason as dedup_minhash_lsh's: true pairs in this corpus
  // sit at j ≥ 0.8 where 8×4 banding detects ≥ 98.5% per pair (and
  // empirically all, at every test SF).
  // ---------------------------------------------------------------------
  def dedupIncremental(s: SparkSession, d: String): DataFrame = {
    val sh = shingleRelation(s, d)
    val banded = minhashSignatures(sh).join(sidesOf(s, d), "doc_id")
      .select(col("doc_id"), col("n_sh"), col("is_new"),
        posexplode(bandArray).as(Seq("band_idx", "band_hash")))
    val corpusB = banded.filter(!col("is_new"))
      .select(col("doc_id").as("corpus_doc"), col("n_sh").as("nc"),
        col("band_idx"), col("band_hash"))
    val newB = banded.filter(col("is_new"))
      .select(col("doc_id").as("new_doc"), col("n_sh").as("nn"),
        col("band_idx"), col("band_hash"))
    // the NEW side broadcasts: at scale it is the day's arrivals probing a
    // corpus-sized index — the corpus relation never shuffles
    val cand = corpusB.join(broadcast(newB), Seq("band_idx", "band_hash"))
      .select("new_doc", "corpus_doc", "nn", "nc")
      .distinct()
    val inter = cand
      .join(sh.as("sa"), col("sa.doc_id") === col("new_doc"))
      .join(sh.as("sb"),
        col("sb.doc_id") === col("corpus_doc") && col("sb.shingle") === col("sa.shingle"))
      .groupBy("new_doc", "corpus_doc", "nn", "nc").agg(count(lit(1)).as("n_common"))
    inter
      .select(col("new_doc"), col("corpus_doc"),
        round(col("n_common").cast("double") /
          (col("nn") + col("nc") - col("n_common")).cast("double"), 4)
          .as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .orderBy("new_doc", "corpus_doc")
  }

  /** Unblocked cross-side truth: all (new, corpus) pairs at J ≥ 0.5. */
  private val dedupIncrementalSql =
    s"""WITH $shingleCte,
       |sides AS (
       |  SELECT doc_id, source IN ('src0', 'src1') AS is_new FROM documents
       |), sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT sa.doc_id AS new_doc, sb.doc_id AS corpus_doc,
       |    count(*) AS n_common
       |  FROM sh sa JOIN sides na ON na.doc_id = sa.doc_id AND na.is_new
       |  JOIN sh sb ON sb.shingle = sa.shingle
       |  JOIN sides nb ON nb.doc_id = sb.doc_id AND NOT nb.is_new
       |  GROUP BY 1, 2
       |)
       |SELECT new_doc, corpus_doc,
       |  round(n_common * 1.0 / (zn.n_sh + zc.n_sh - n_common), 4) AS jaccard
       |FROM inter
       |JOIN sizes zn ON zn.doc_id = new_doc
       |JOIN sizes zc ON zc.doc_id = corpus_doc
       |WHERE round(n_common * 1.0 / (zn.n_sh + zc.n_sh - n_common), 4) >= 0.5
       |ORDER BY new_doc, corpus_doc""".stripMargin

  // ---------------------------------------------------------------------
  // dedup_retention_funnel — the PIPELINE RETENTION REPORT: how many
  // documents survive each dedup stage (raw → exact content-hash → near-dup
  // LSH), with basis-point retention vs raw — the dashboard number a
  // training-data pipeline publishes per ingest batch (the reference's
  // build_corpus.py:117 summary aggregations, composed over the real dedup
  // operators instead of a single drop_duplicates). Near-dup survival
  // policy: keep any doc that is never the LARGER id of a verified
  // J ≥ 0.5 pair — the deterministic keep-first greedy of
  // build_master_corpus.py:137's sort + keep-first.
  //
  // Scale shape: the stages reuse dedupExact's one md5 shuffle and
  // dedupMinhashLsh's banded candidate machinery (both already
  // subquadratic); the funnel itself is three bounded count aggregates +
  // one broadcast of the raw count. The oracle recomputes the LSH stage
  // from the UNBLOCKED all-pairs truth, so the funnel's hash match
  // re-asserts full LSH recall end-to-end through the composition.
  // ---------------------------------------------------------------------
  def dedupRetentionFunnel(s: SparkSession, d: String): DataFrame =
    retentionFunnelOn(s, d, dedupMinhashLsh(s, d))

  /** dedup_retention_funnel against the staged shingle + signature layout
    * — same oracle; the daily dashboard shape (the funnel re-publishes per
    * ingest batch, the near-dup relations are persisted, only the exact
    * md5 pass scans raw documents). */
  def dedupRetentionFunnelStaged(s: SparkSession, d: String): DataFrame =
    retentionFunnelOn(s, d, dedupMinhashLshStaged(s, d))

  private def retentionFunnelOn(
      s: SparkSession, d: String, lsh: DataFrame): DataFrame = {
    val nRaw = Tables.documents(s, d).agg(count(lit(1)).as("n"))
    val exact = dedupExact(s, d).filter(!col("is_dup")).select("doc_id")
    val losers = lsh.select(col("doc_b").as("doc_id")).distinct()
    val near = exact.join(losers, Seq("doc_id"), "left_anti")
    val stages = nRaw.select(lit(1L).as("stage_id"), lit("raw").as("stage"), col("n"))
      .unionAll(exact.agg(count(lit(1)).as("n"))
        .select(lit(2L), lit("exact_dedup"), col("n")))
      .unionAll(near.agg(count(lit(1)).as("n"))
        .select(lit(3L), lit("near_dedup"), col("n")))
    stages.crossJoin(broadcast(nRaw.select(col("n").as("n0"))))
      .select(col("stage_id"), col("stage"), col("n").as("n_docs"),
        expr("(10000 * n) div n0").as("retained_bp"))
      .orderBy("stage_id")
  }

  private val dedupRetentionFunnelSql =
    s"""WITH $shingleCte,
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b, count(*) AS n_common
       |  FROM sh sa JOIN sh sb ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
       |  GROUP BY 1, 2
       |), pairs AS (
       |  SELECT doc_a, doc_b FROM inter
       |  JOIN sizes za ON za.doc_id = doc_a
       |  JOIN sizes zb ON zb.doc_id = doc_b
       |  WHERE round(n_common * 1.0 / (za.n_sh + zb.n_sh - n_common), 4) >= 0.5
       |), exact AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS k
       |    FROM documents
       |  ) WHERE doc_id = k
       |), near AS (
       |  SELECT doc_id FROM exact WHERE doc_id NOT IN (SELECT doc_b FROM pairs)
       |), n0 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
       |stages AS (
       |  SELECT 1 AS stage_id, 'raw' AS stage, n AS n_docs FROM n0
       |  UNION ALL SELECT 2, 'exact_dedup', CAST(count(*) AS BIGINT) FROM exact
       |  UNION ALL SELECT 3, 'near_dedup', CAST(count(*) AS BIGINT) FROM near
       |)
       |SELECT CAST(stage_id AS BIGINT) AS stage_id, stage, n_docs,
       |  CAST((10000 * n_docs) // n0.n AS BIGINT) AS retained_bp
       |FROM stages CROSS JOIN n0
       |ORDER BY stage_id""".stripMargin

  // ---------------------------------------------------------------------
  // dedup_substring — EXACT SUBSTRING-LEVEL duplication audit (the
  // character-window form of Lee et al. 2022's ExactSubstr dedup, which
  // found that memorized training text is substring-shaped, not
  // document-shaped): fixed 32-char windows at stride 8 over every
  // document; a window is DUPLICATED if its exact text occurs in ≥2
  // distinct documents. Reported per source as duplicated-window share —
  // the "how much verbatim cross-document text does each feed carry"
  // dashboard number that document-level MinHash (j ≥ 0.5 on the WHOLE
  // doc) structurally misses (a 100-word quote inside a 10k-word doc).
  //
  // Recall caveat (measured by dedup_substring_recall): stride-8 windows
  // detect a cross-doc span only when the two copies agree on offset
  // phase mod 8 — 55.9% doc-level recall at sf0.1 vs the stride-1 truth.
  // This screen is the cheap dashboard; use the stride-1 arm when the
  // number must be exact.
  //
  // Plan: windows explode map-side (|text|/8 rows per doc — linear, the
  // stride is the cost knob); dup detection is ONE hash-aggregate on the
  // 16-hex md5 window key + a broadcast-eligible semi join of the ≥2-doc
  // keys back onto the window relation; per-source rollup is a second
  // small aggregate. Nothing is quadratic — the all-pairs "which doc
  // copied which" question is deliberately NOT answered here (that's
  // dedup_minhash_lsh's job); this is the linear-cost audit above it.
  //
  // Oracle: DuckDB generate_series + substr reproduces the exact window
  // set; md5 and the integer shares match hash-exactly.
  // ---------------------------------------------------------------------
  def dedupSubstring(s: SparkSession, d: String): DataFrame = {
    val W = 32
    val S = 8
    val wins = Tables.documents(s, d)
      .filter(length(col("text")) >= W)
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(0), length(col("text")) - W, lit(S))).as("off"),
        col("text"))
      .select(col("doc_id"), col("source"),
        substring(md5(expr(s"substring(text, off + 1, $W)")), 1, 16).as("h"))
      .cache()
    val dupKeys = wins.groupBy("h")
      .agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") >= 2)
      .select("h")
    val flagged = wins.join(dupKeys, Seq("h"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup"))
    wins.groupBy("doc_id", "source").agg(count(lit(1)).as("n_win"))
      .join(flagged, Seq("doc_id"), "left")
      .select(col("source"), col("n_win"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_dup") > 0, 1L).otherwise(0L)).as("docs_with_dup"),
        sum("n_win").as("n_windows"),
        sum("n_dup").as("n_dup_windows"))
      .withColumn("dup_bp", expr("(10000 * n_dup_windows) div n_windows"))
      .orderBy("source")
  }

  private val dedupSubstringSql =
    """WITH wins AS (
      |  SELECT d.doc_id, d.source,
      |    substr(md5(substr(d.text, g.off + 1, 32)), 1, 16) AS h
      |  FROM documents d,
      |    LATERAL (SELECT unnest(generate_series(0, length(d.text) - 32, 8))
      |             AS off) g
      |  WHERE length(d.text) >= 32
      |), dup AS (
      |  SELECT h FROM wins GROUP BY h HAVING count(DISTINCT doc_id) >= 2
      |), perdoc AS (
      |  SELECT w.doc_id, w.source, count(*) AS n_win,
      |    sum(CASE WHEN w.h IN (SELECT h FROM dup) THEN 1 ELSE 0 END) AS n_dup
      |  FROM wins w GROUP BY w.doc_id, w.source
      |)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(CASE WHEN n_dup > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS docs_with_dup,
      |  CAST(sum(n_win) AS BIGINT) AS n_windows,
      |  CAST(sum(n_dup) AS BIGINT) AS n_dup_windows,
      |  CAST((10000 * sum(n_dup)) // sum(n_win) AS BIGINT) AS dup_bp
      |FROM perdoc GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // Staged stride-1 window layout (the BucketedLayout pattern applied to
  // ExactSubstr): the stride-1 window relation — ~|text| rows per doc, the
  // corpus-character-grain relation both the recall measurement and the
  // rewrite consume — is derived ONCE and persisted as a managed table
  // bucketed+sorted on the 16-hex window hash. Downstream, BOTH hot
  // operations on it are h-keyed — the ≥2-doc dup-key aggregate and the
  // semi join of those keys back onto the windows — so against this
  // layout they run bucket-local with NO exchange, and the stride-8
  // screen arm is just the `off % 8 = 0` filter of the same table
  // (stride-8 window starts are a subset of stride-1 starts; the filter
  // preserves bucketing). This replaced the r13 shape that CACHED the
  // stride-1 relation in full (the largest cache residency in the suite —
  // r13 verdict item 6): at 100x the staged table spills to disk like any
  // parquet relation instead of pinning executor storage memory.
  // ---------------------------------------------------------------------
  private val substrW = 32

  private def stagedStride1Windows(s: SparkSession, d: String): String =
    graft.sources.Staging.ensureTable(s, "substr_w1", d,
      "documents.parquet", "h", 32, Some("h")) {
      Tables.documents(s, d)
        .filter(length(col("text")) >= substrW)
        // EXPLODE parallelism: this derive is MAP-ONLY, so without an
        // explicit exchange both the ~170x explode+md5 work AND the
        // bucketed write inherit the documents SCAN's task count — a
        // compact corpus parquet (few files) serialized ~50M windows per
        // task at the sf10 decade measure (first read e12=2.18 / 1760 s;
        // after fixing only the write side, the map side still held it at
        // 575 s). Spreading the DOC rows first is a corpus-grain (cheap)
        // shuffle that fans the window blowup across the session's
        // parallelism; at cluster scale the input arrives in thousands of
        // files and this exchange coalesces/spreads to the same effect.
        .repartition(32)
        .select(col("doc_id"),
          explode(sequence(lit(0), length(col("text")) - substrW, lit(1)))
            .as("off"),
          col("text"))
        .select(col("doc_id"), col("off"),
          substring(md5(expr(s"substring(text, off + 1, $substrW)")), 1, 16)
            .as("h"))
        // WRITE parallelism/layout: repartition on the bucket key so each
        // writer task holds exactly one bucket — the sortBy sort is
        // bucket-sized and the table lands as one file per bucket (bucket
        // count = parallelism knob, as the staging convention documents).
        .repartition(32, col("h"))
    }._1

  // ---------------------------------------------------------------------
  // dedup_substring_recall — THE WINDOW-FORM RECALL GAP, MEASURED:
  // dedup_substring's stride-8 screen graded against the suffix-grain
  // truth at the same minimum span length. The sliding-window lemma makes
  // stride-1 L-grams EXACT for "docs sharing a verbatim span of length
  // ≥ L": any such span contains a shared L-gram at every in-span offset,
  // so stride 1 misses nothing — this is the relational form of Lee et
  // al. 2022's suffix-array ExactSubstr at fixed minimum match length L,
  // and like the suffix array it is linear in corpus size (|text| window
  // rows per doc). The stride-8 screen, by contrast, keys windows at
  // multiples of 8 from each doc's own start: two copies of one span at
  // doc offsets a and b share a window key only when a ≡ b (mod 8) — and
  // absent internal period-8 text, NEVER otherwise, no matter how long
  // the span is (the window content at a stride-8 start of copy A sits
  // at span position ≡ −a (mod 8), which copy B's starts reach only when
  // the phases agree; ~1/8 of uniformly-placed pairs, more in real
  // corpora where duplicated spans are prefix-aligned). This query
  // reports, per source: truth-flagged docs (stride 1), screen-flagged
  // docs (stride 8, a guaranteed subset), and the screen's doc-level
  // recall in basis points — the quantitative statement the stride
  // knob's 8x row savings must be weighed against.
  //
  // Plan: both arms read the STAGED stride-1 window table bucketed on h
  // (the screen arm as its `off % 8 = 0` subset — stride-8 starts are by
  // definition the stride-1 starts at multiples of 8): ONE bucket-local
  // hash-aggregate on the 16-hex window key, bucket-local semi join of
  // the ≥2-doc keys back onto the window relation (never a doc×doc or
  // collect_set-per-key shape — a window shared by millions of docs
  // stays a join, not a driver set). Nothing here caches: the r13 form
  // cached both window relations (the stride-1 one was the largest cache
  // resident in the suite); the staged layout replaces both.
  // ---------------------------------------------------------------------
  def dedupSubstringRecall(s: SparkSession, d: String): DataFrame = {
    val W = substrW
    val w1 = s.table(stagedStride1Windows(s, d))
    def flagged(stride: Int, as: String): DataFrame = {
      val wins =
        (if (stride == 1) w1 else w1.filter(col("off") % stride === 0))
          .select("doc_id", "h")
      val dupKeys = wins.groupBy("h")
        .agg(countDistinct("doc_id").as("nd"))
        .filter(col("nd") >= 2)
        .select("h")
      wins.join(dupKeys, Seq("h"), "left_semi")
        .select("doc_id").distinct().withColumn(as, lit(1L))
    }
    Tables.documents(s, d)
      .filter(length(col("text")) >= W)
      .select("doc_id", "source")
      .join(flagged(1, "t"), Seq("doc_id"), "left")
      .join(flagged(8, "w"), Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("t"), lit(0L))).as("dup_docs_exact"),
        sum(coalesce(col("w"), lit(0L))).as("dup_docs_window"))
      .withColumn("recall_bp",
        when(col("dup_docs_exact") > 0,
          expr("(10000 * dup_docs_window) div dup_docs_exact"))
          .otherwise(lit(10000L)))
      .orderBy("source")
  }

  private val dedupSubstringRecallSql =
    """WITH w1 AS MATERIALIZED (
      |  SELECT d.doc_id,
      |    substr(md5(substr(d.text, g.off + 1, 32)), 1, 16) AS h
      |  FROM documents d,
      |    LATERAL (SELECT unnest(generate_series(0, length(d.text) - 32, 1))
      |             AS off) g
      |  WHERE length(d.text) >= 32
      |), t1 AS MATERIALIZED (
      |  SELECT DISTINCT doc_id FROM w1 WHERE h IN
      |    (SELECT h FROM w1 GROUP BY h HAVING count(DISTINCT doc_id) >= 2)
      |), w8 AS MATERIALIZED (
      |  SELECT d.doc_id,
      |    substr(md5(substr(d.text, g.off + 1, 32)), 1, 16) AS h
      |  FROM documents d,
      |    LATERAL (SELECT unnest(generate_series(0, length(d.text) - 32, 8))
      |             AS off) g
      |  WHERE length(d.text) >= 32
      |), t8 AS MATERIALIZED (
      |  SELECT DISTINCT doc_id FROM w8 WHERE h IN
      |    (SELECT h FROM w8 GROUP BY h HAVING count(DISTINCT doc_id) >= 2)
      |)
      |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(CASE WHEN t1.doc_id IS NOT NULL THEN 1 ELSE 0 END)
      |    AS BIGINT) AS dup_docs_exact,
      |  CAST(sum(CASE WHEN t8.doc_id IS NOT NULL THEN 1 ELSE 0 END)
      |    AS BIGINT) AS dup_docs_window,
      |  CAST(CASE WHEN sum(CASE WHEN t1.doc_id IS NOT NULL THEN 1 ELSE 0 END) > 0
      |    THEN (10000 * sum(CASE WHEN t8.doc_id IS NOT NULL THEN 1 ELSE 0 END))
      |      // sum(CASE WHEN t1.doc_id IS NOT NULL THEN 1 ELSE 0 END)
      |    ELSE 10000 END AS BIGINT) AS recall_bp
      |FROM documents d
      |  LEFT JOIN t1 ON d.doc_id = t1.doc_id
      |  LEFT JOIN t8 ON d.doc_id = t8.doc_id
      |WHERE length(d.text) >= 32
      |GROUP BY d.source ORDER BY d.source""".stripMargin

  // ---------------------------------------------------------------------
  // dedup_substring_rewrite — the APPLY arm of ExactSubstr: EMIT THE
  // CLEANED CORPUS with duplicated ≥32-char spans removed at stride-1
  // grain (Lee et al. 2022 "Deduplicating Training Data Makes Language
  // Models Better" — their ExactSubstr tool's actual OUTPUT is the
  // rewritten corpus, not an audit; reference analog: the
  // normalize-and-log rewrite motion of normalize_corpus.py:136). r13
  // MEASURED that the stride-8 screen misses ~44% of substring-duplicated
  // docs (dedup_substring_recall); this closes the audit→apply gap the
  // way corpus_upsert_merge closed it for CDC. Exactness: the sliding-
  // window lemma makes stride-1 32-gram flagging EXACT for spans ≥ 32 —
  // every character of a duplicated span of length ≥ 32 lies inside some
  // shared 32-gram window, so the merged removed intervals cover exactly
  // the duplicated-span characters.
  //
  // Semantics: a window is duplicated iff its 32-gram occurs in ≥ 2
  // DISTINCT docs (both copies are removed — the symmetric form; the
  // keep-one-copy policy lives at doc grain in dedup_cluster_canonical).
  // Per doc, duplicated windows [off, off+31] merge into maximal removed
  // spans via the run-grouping window trick (new run when a window start
  // exceeds the running max end + 1); the cleaned text is the ordered
  // concatenation of the kept gaps. Conservation (spec-asserted):
  // length(cleaned) + chars_removed = chars_in on every row.
  //
  // Scale shape: dup-key aggregate + semi join run BUCKET-LOCAL on the
  // staged h-bucketed stride-1 window table (shared with
  // dedup_substring_recall — staged once); the only data-grain shuffle is
  // the doc_id repartition for the span-merge window, at DUPLICATED-
  // window grain (≪ corpus unless the corpus is mostly duplicate). The
  // span merge, gap derivation and concat are all doc-partitioned window
  // functions + one hash aggregate — nothing driver-side, nothing n².
  // ---------------------------------------------------------------------
  def dedupSubstringRewrite(s: SparkSession, d: String): DataFrame = {
    val W = substrW
    val w1 = s.table(stagedStride1Windows(s, d))
    val dupKeys = w1.groupBy("h")
      .agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") >= 2)
      .select("h")
    val dw = w1.join(dupKeys, Seq("h"), "left_semi")
      .select(col("doc_id"), col("off"), (col("off") + (W - 1)).as("e"))
    substringRewriteOn(s, d, dw)
  }

  /** The span-merge → gap-concat rewrite over any flagged duplicated-window
    * relation `dw` = (doc_id, off, e) — shared by the cross-doc arm
    * (dedup_substring_rewrite) and the within-doc arm
    * (dedup_substring_within); the two arms differ ONLY in which windows
    * they flag. */
  private def substringRewriteOn(s: SparkSession, d: String,
      dw: DataFrame): DataFrame = {
    val byOff = Window.partitionBy("doc_id").orderBy("off")
    val prevMaxEnd =
      max(col("e")).over(byOff.rowsBetween(Window.unboundedPreceding, -1))
    // CACHED: spans feeds THREE consumers (the two kept-gap branches and
    // the removal stats) — uncached, each re-executed the whole staged
    // scan → dup-key aggregate → semi join → merge window (the sf10
    // decade measure read 62x for 10x data from exactly that
    // re-execution; with the cache the pipeline runs once). Grain bound:
    // MERGED duplicated spans — at most chars/32 rows even for a fully
    // duplicated corpus, typically far less; same harness
    // clearCache-between-queries contract as the staged-probe family.
    val spans = dw
      .withColumn("nr",
        when(prevMaxEnd.isNull || col("off") > prevMaxEnd + 1, 1L)
          .otherwise(0L))
      .withColumn("rid",
        sum(col("nr")).over(byOff.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "rid")
      .agg(min("off").as("s"), max("e").as("e"))
      .cache()
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("text"),
        length(col("text")).cast("long").as("chars_in"))
    // kept gaps: before each span (lag of the previous end), plus the tail
    // after the last span; empty gaps filter out
    val bySpan = Window.partitionBy("doc_id").orderBy("s")
    val innerKept = spans.select(col("doc_id"),
      (coalesce(lag(col("e"), 1).over(bySpan), lit(-1)) + 1).as("ks"),
      (col("s") - 1).as("ke"))
    val tailKept = spans.groupBy("doc_id").agg((max("e") + 1).as("ks"))
      .join(docs.select(col("doc_id"), (col("chars_in") - 1).as("ke")),
        "doc_id")
      .select("doc_id", "ks", "ke")
    val kept = innerKept.unionByName(tailKept).filter(col("ks") <= col("ke"))
    val cleanedPer = kept.join(docs.select("doc_id", "text"), "doc_id")
      .select(col("doc_id"), struct(col("ks"),
        expr("substring(text, ks + 1, ke - ks + 1)").as("piece")).as("seg"))
      .groupBy("doc_id")
      .agg(array_join(
        transform(array_sort(collect_list(col("seg"))),
          x => x.getField("piece")), "").as("cleaned"))
    val removedPer = spans.groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(col("e") - col("s") + 1).cast("long").as("chars_removed"))
    docs
      .join(removedPer, Seq("doc_id"), "left")
      .join(cleanedPer, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("chars_in"),
        coalesce(col("chars_removed"), lit(0L)).as("chars_removed"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        // no spans → verbatim text; fully-removed doc → empty string
        when(col("n_spans").isNull, col("text"))
          .otherwise(coalesce(col("cleaned"), lit(""))).as("cleaned"))
      .orderBy("doc_id")
  }

  private val dedupSubstringRewriteSql =
    """WITH w1 AS MATERIALIZED (
      |  SELECT d.doc_id, g.off,
      |    substr(md5(substr(d.text, g.off + 1, 32)), 1, 16) AS h
      |  FROM documents d,
      |    LATERAL (SELECT unnest(generate_series(0, length(d.text) - 32, 1))
      |             AS off) g
      |  WHERE length(d.text) >= 32
      |), dup AS (
      |  SELECT h FROM w1 GROUP BY h HAVING count(DISTINCT doc_id) >= 2
      |), dw AS MATERIALIZED (
      |  SELECT doc_id, off, off + 31 AS e
      |  FROM w1 WHERE h IN (SELECT h FROM dup)
      |), runs AS (
      |  SELECT doc_id, off, e,
      |    CASE WHEN off > coalesce(max(e) OVER (PARTITION BY doc_id
      |        ORDER BY off ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |        -2) + 1
      |      THEN 1 ELSE 0 END AS nr
      |  FROM dw
      |), spans AS MATERIALIZED (
      |  SELECT doc_id, min(off) AS s, max(e) AS e
      |  FROM (SELECT doc_id, off, e,
      |          sum(nr) OVER (PARTITION BY doc_id ORDER BY off
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rid
      |        FROM runs)
      |  GROUP BY doc_id, rid
      |), kept AS (
      |  SELECT doc_id, ks, ke FROM (
      |    SELECT doc_id,
      |      coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), -1) + 1
      |        AS ks,
      |      s - 1 AS ke
      |    FROM spans
      |    UNION ALL
      |    SELECT sp.doc_id, max(sp.e) + 1 AS ks, max(length(d.text)) - 1 AS ke
      |    FROM spans sp JOIN documents d ON d.doc_id = sp.doc_id
      |    GROUP BY sp.doc_id
      |  ) WHERE ks <= ke
      |), cleanedper AS (
      |  SELECT k.doc_id,
      |    string_agg(substr(d.text, k.ks + 1, k.ke - k.ks + 1), ''
      |      ORDER BY k.ks) AS cleaned
      |  FROM kept k JOIN documents d ON d.doc_id = k.doc_id
      |  GROUP BY k.doc_id
      |), removedper AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
      |    CAST(sum(e - s + 1) AS BIGINT) AS chars_removed
      |  FROM spans GROUP BY doc_id
      |)
      |SELECT d.doc_id, d.source, CAST(length(d.text) AS BIGINT) AS chars_in,
      |  coalesce(r.chars_removed, 0) AS chars_removed,
      |  coalesce(r.n_spans, 0) AS n_spans,
      |  CASE WHEN r.doc_id IS NULL THEN d.text
      |       ELSE coalesce(c.cleaned, '') END AS cleaned
      |FROM documents d
      |LEFT JOIN removedper r ON r.doc_id = d.doc_id
      |LEFT JOIN cleanedper c ON c.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // dedup_substring_within — the WITHIN-DOC arm of ExactSubstr (r15
  // verdict item 4): Lee et al. 2022's suffix array removes a repeated
  // ≥50-char span even when both copies live in ONE document (boilerplate
  // headers, templated sections, generation loops); the cross-doc arm
  // above deliberately excludes that grain. This closes the disclosed
  // gap with a DETERMINISTIC first-occurrence rule at window grain: for
  // each (doc, 32-gram) occurring at ≥2 offsets, the MINIMUM offset
  // survives and every LATER occurrence's windows are flagged; flagged
  // windows feed the SAME span-merge → gap-concat rewrite as the
  // cross-doc arm (substringRewriteOn). For a non-overlapping repeated
  // span of length ≥ 32 this removes exactly the later copies and keeps
  // the first verbatim. SEMANTICS NOTE (self-overlap): in PERIODIC text
  // (e.g. a long run of one character) the merged removal trims into the
  // tail of the kept first copy too — every position past the first
  // occurrence of each distinct 32-gram is covered by some flagged
  // window. Deterministic and oracle-stated; the suffix-array tool's
  // boundary choice in the same case is equally arbitrary.
  //
  // Scale shape: identical to the cross-doc arm except the dup-key
  // aggregate runs at (doc_id, h) grain instead of h grain — still
  // bucket-local on the staged h-bucketed stride-1 window table (hash
  // clustering on h satisfies the (doc_id, h) grouping and the join
  // back), so the corpus-character-grain relation never re-exchanges;
  // the span merge runs at duplicated-window grain as before.
  // ---------------------------------------------------------------------
  def dedupSubstringWithin(s: SparkSession, d: String): DataFrame = {
    val W = substrW
    val w1 = s.table(stagedStride1Windows(s, d))
    // (doc, 32-gram) groups with ≥2 occurrences, keyed by their first
    // offset: aggregate + join back both cluster on h → bucket-local
    val dupMin = w1.groupBy("doc_id", "h")
      .agg(min("off").as("m"), count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
      .select("doc_id", "h", "m")
    val dw = w1.join(dupMin, Seq("doc_id", "h"))
      .filter(col("off") > col("m"))
      .select(col("doc_id"), col("off"), (col("off") + (W - 1)).as("e"))
    substringRewriteOn(s, d, dw)
  }

  private val dedupSubstringWithinSql =
    """WITH w1 AS MATERIALIZED (
      |  SELECT d.doc_id, g.off,
      |    substr(md5(substr(d.text, g.off + 1, 32)), 1, 16) AS h
      |  FROM documents d,
      |    LATERAL (SELECT unnest(generate_series(0, length(d.text) - 32, 1))
      |             AS off) g
      |  WHERE length(d.text) >= 32
      |), dw AS MATERIALIZED (
      |  SELECT doc_id, off, off + 31 AS e
      |  FROM (SELECT doc_id, off,
      |          min(off) OVER (PARTITION BY doc_id, h) AS m,
      |          count(*) OVER (PARTITION BY doc_id, h) AS cnt
      |        FROM w1)
      |  WHERE cnt >= 2 AND off > m
      |), runs AS (
      |  SELECT doc_id, off, e,
      |    CASE WHEN off > coalesce(max(e) OVER (PARTITION BY doc_id
      |        ORDER BY off ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |        -2) + 1
      |      THEN 1 ELSE 0 END AS nr
      |  FROM dw
      |), spans AS MATERIALIZED (
      |  SELECT doc_id, min(off) AS s, max(e) AS e
      |  FROM (SELECT doc_id, off, e,
      |          sum(nr) OVER (PARTITION BY doc_id ORDER BY off
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rid
      |        FROM runs)
      |  GROUP BY doc_id, rid
      |), kept AS (
      |  SELECT doc_id, ks, ke FROM (
      |    SELECT doc_id,
      |      coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), -1) + 1
      |        AS ks,
      |      s - 1 AS ke
      |    FROM spans
      |    UNION ALL
      |    SELECT sp.doc_id, max(sp.e) + 1 AS ks, max(length(d.text)) - 1 AS ke
      |    FROM spans sp JOIN documents d ON d.doc_id = sp.doc_id
      |    GROUP BY sp.doc_id
      |  ) WHERE ks <= ke
      |), cleanedper AS (
      |  SELECT k.doc_id,
      |    string_agg(substr(d.text, k.ks + 1, k.ke - k.ks + 1), ''
      |      ORDER BY k.ks) AS cleaned
      |  FROM kept k JOIN documents d ON d.doc_id = k.doc_id
      |  GROUP BY k.doc_id
      |), removedper AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
      |    CAST(sum(e - s + 1) AS BIGINT) AS chars_removed
      |  FROM spans GROUP BY doc_id
      |)
      |SELECT d.doc_id, d.source, CAST(length(d.text) AS BIGINT) AS chars_in,
      |  coalesce(r.chars_removed, 0) AS chars_removed,
      |  coalesce(r.n_spans, 0) AS n_spans,
      |  CASE WHEN r.doc_id IS NULL THEN d.text
      |       ELSE coalesce(c.cleaned, '') END AS cleaned
      |FROM documents d
      |LEFT JOIN removedper r ON r.doc_id = d.doc_id
      |LEFT JOIN cleanedper c ON c.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // dedup_sketch_calibration — MINHASH ESTIMATOR CALIBRATION: for a
  // deterministic linear pair sample (each doc vs its id-successor),
  // compare the k=16 MinHash Jaccard ESTIMATE (signature agreement share)
  // against the EXACT shingle Jaccard, reported as an error histogram +
  // integer mean absolute error — the empirical accuracy statement behind
  // every threshold choice in the MinHash family (at k=16 the binomial
  // std error is ~12 points at j=0.5; this query MEASURES it on the real
  // corpus instead of trusting the formula). Sibling of sim_recall_eval:
  // that grades retrieval, this grades the sketch itself.
  //
  // Portability: signatures use the md5-prefix hash (min over shingles of
  // the 60-bit integer), so DuckDB recomputes the IDENTICAL estimates —
  // the histogram is hash-exactly oracled, unlike the xxhash64 production
  // signatures in dedup_minhash_lsh (there the estimate is internal and
  // only exact-verified pairs surface; here the estimate IS the output).
  //
  // Scale shape: one shingle scan → a 16-min hash-aggregate (map-side
  // partial); the successor pair join is an equi shift-join on doc_id;
  // exact Jaccard only on the n−1 sampled pairs (linear, never pairs²).
  // ---------------------------------------------------------------------
  def dedupSketchCalibration(s: SparkSession, d: String): DataFrame = {
    val k = 16
    val sh = shingleRelation(s, d)
    val hCols = (0 until k).map { i =>
      min(conv(substring(md5(concat(lit(s"graft-mh$i:"), col("shingle"))),
        1, 15), 16, 10).cast("long")).as(s"h$i")
    }
    val sig = sh.groupBy("doc_id")
      .agg(hCols.head, (hCols.tail :+ count(lit(1)).as("n_sh")): _*)
      .cache()
    val pairs = sig.as("a").join(sig.as("b"),
        col("b.doc_id") === col("a.doc_id") + 1)
      .select(col("a.doc_id").as("doc_a"),
        col("a.n_sh").as("na"), col("b.n_sh").as("nb"),
        (0 until k).map(i =>
          when(col(s"a.h$i") === col(s"b.h$i"), 1L).otherwise(0L))
          .reduce(_ + _).as("matches"))
    val exact = sh.as("sa").join(sh.as("sb"),
        col("sb.doc_id") === col("sa.doc_id") + 1 &&
          col("sb.shingle") === col("sa.shingle"))
      .groupBy(col("sa.doc_id").as("doc_a"))
      .agg(count(lit(1)).as("n_common"))
    pairs.join(exact, Seq("doc_a"), "left")
      .select(col("doc_a"),
        expr(s"(matches * 10000) div $k").as("est_bp"),
        expr("(10000 * coalesce(n_common, 0))"
          + " div (na + nb - coalesce(n_common, 0))").as("true_bp"))
      .withColumn("abs_err", abs(col("est_bp") - col("true_bp")))
      .groupBy(expr("abs_err div 1000").as("err_bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(abs_err) div count(1)").as("mean_abs_err_bp"),
        min("true_bp").as("min_true_bp"), max("true_bp").as("max_true_bp"))
      .orderBy("err_bucket")
  }

  private val dedupSketchCalibrationSql = {
    val hv = OracleSql.hexPrefix("h", 15)
    val sigSel = (0 until 16).map { i =>
      s"""min(CASE WHEN hk = $i THEN v END) AS h$i"""
    }.mkString(",\n    ")
    val matches = (0 until 16).map(i =>
      s"CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH $shingleCte,
       |hashed AS (
       |  SELECT doc_id, hk, $hv AS v
       |  FROM (SELECT doc_id, hk.hk AS hk,
       |          md5('graft-mh' || CAST(hk.hk AS VARCHAR) || ':' || shingle)
       |            AS h
       |        FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 15))
       |          AS hk) hk)
       |), sig0 AS (
       |  SELECT doc_id, hk, min(v) AS v FROM hashed GROUP BY doc_id, hk
       |), sig AS (
       |  SELECT doc_id,
       |    $sigSel
       |  FROM sig0 GROUP BY doc_id
       |), sizes AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM sh
       |  GROUP BY doc_id
       |), pairs AS (
       |  SELECT a.doc_id AS doc_a, za.n_sh AS na, zb.n_sh AS nb,
       |    CAST($matches AS BIGINT) AS matches
       |  FROM sig a JOIN sig b ON b.doc_id = a.doc_id + 1
       |  JOIN sizes za ON za.doc_id = a.doc_id
       |  JOIN sizes zb ON zb.doc_id = b.doc_id
       |), exact AS (
       |  SELECT sa.doc_id AS doc_a, CAST(count(*) AS BIGINT) AS n_common
       |  FROM sh sa JOIN sh sb ON sb.doc_id = sa.doc_id + 1
       |    AND sb.shingle = sa.shingle
       |  GROUP BY sa.doc_id
       |), scored AS (
       |  SELECT p.doc_a,
       |    CAST((p.matches * 10000) // 16 AS BIGINT) AS est_bp,
       |    CAST((10000 * coalesce(e.n_common, 0))
       |      // (p.na + p.nb - coalesce(e.n_common, 0)) AS BIGINT) AS true_bp
       |  FROM pairs p LEFT JOIN exact e ON p.doc_a = e.doc_a
       |)
       |SELECT CAST(abs(est_bp - true_bp) // 1000 AS BIGINT) AS err_bucket,
       |  CAST(count(*) AS BIGINT) AS n_pairs,
       |  CAST(CAST(sum(abs(est_bp - true_bp)) AS BIGINT) // count(*)
       |    AS BIGINT) AS mean_abs_err_bp,
       |  min(true_bp) AS min_true_bp, max(true_bp) AS max_true_bp
       |FROM scored GROUP BY 1 ORDER BY err_bucket""".stripMargin
  }

  /** Stage every managed layout this family owns (Bench's direct
    * pre-stage registry, graft.Layouts — the full-suite sweep first-ran
    * all 302 queries to reach the same 7 tables). */
  private[graft] def prestageLayouts(s: SparkSession, d: String): Unit = {
    stagedShingles(s, d); stagedSignatures(s, d); stagedEmbCells(s, d)
    stagedCorpusBandIndex(s, d); stagedCorpusShingleSets(s, d)
    stagedStreamBandIndex(s, d); stagedStride1Windows(s, d)
    // replay phase fixtures (r17): the same defs the replay queries
    // call, so registry and query can never drift
    neardupPhases(s, d); wmPhases(s, d)
    ()
  }

  val all: Seq[Q] = Seq(
    Q("streaming_neardup", streamingNeardup, Some(streamingNeardupSql)),
    Q("streaming_neardup_watermarked", streamingNeardupWatermarked,
      Some(streamingNeardupWatermarkedSql)),
    Q("dedup_sketch_calibration", dedupSketchCalibration,
      Some(dedupSketchCalibrationSql)),
    Q("dedup_substring", dedupSubstring, Some(dedupSubstringSql)),
    Q("dedup_substring_recall", dedupSubstringRecall,
      Some(dedupSubstringRecallSql)),
    Q("dedup_substring_rewrite", dedupSubstringRewrite,
      Some(dedupSubstringRewriteSql)),
    Q("dedup_substring_within", dedupSubstringWithin,
      Some(dedupSubstringWithinSql)),
    Q("dedup_retention_funnel", dedupRetentionFunnel, Some(dedupRetentionFunnelSql)),
    Q("dedup_retention_funnel_staged", dedupRetentionFunnelStaged,
      Some(dedupRetentionFunnelSql)),
    Q("dedup_cluster_canonical", dedupClusterCanonical, Some(dedupClusterCanonicalSql)),
    Q("dedup_incremental", dedupIncremental, Some(dedupIncrementalSql)),
    Q("dedup_incremental_staged", dedupIncrementalStaged,
      Some(dedupIncrementalSql)),
    Q("dedup_index_append", dedupIndexAppend, Some(dedupIndexAppendSql)),
    Q("dedup_overlap_sketch", dedupOverlapSketch, Some(dedupOverlapSketchSql)),
    Q("dedup_containment", dedupContainment, Some(dedupContainmentSql)),
    Q("dedup_clusters", dedupClusters, Some(dedupClustersSql)),
    Q("dedup_semantic_clusters", dedupSemanticClusters, Some(dedupSemanticClustersSql)),
    Q("dedup_exact", dedupExact, Some(dedupExactSql)),
    Q("dedup_minhash_1band", dedupMinhash1Band, Some(dedupMinhash1BandSql)),
    Q("dedup_ngram_jaccard", dedupNgramJaccard, Some(trueJaccardSql)),
    Q("dedup_minhash_lsh", dedupMinhashLsh, Some(trueJaccardSql)),
    Q("dedup_minhash_lsh_staged", dedupMinhashLshStaged, Some(trueJaccardSql)),
    Q("dedup_clusters_staged", dedupClustersStaged, Some(dedupClustersSql)),
    Q("dedup_cluster_canonical_staged", dedupClusterCanonicalStaged,
      Some(dedupClusterCanonicalSql)),
    Q("dedup_semantic_clusters_staged", dedupSemanticClustersStaged,
      Some(dedupSemanticClustersSql)),
    Q("dedup_simhash", dedupSimhash, Some(dedupSimhashSql)),
    Q("dedup_embedding", dedupEmbedding, Some(dedupEmbeddingSql)),
    Q("dedup_common_spans", dedupCommonSpans, Some(dedupCommonSpansSql))
  )
}
