package graft.operators

import graft.{Q, Tables}
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text analysis for LLM-training-data pipelines: token stats, quality
  * scoring, n-gram-heuristic language ID, content fingerprinting. Extends the
  * reference's word-count/decisions-log idioms (normalize_corpus.py:176-186)
  * into the operators a 100 TB pretraining-data pipeline needs.
  *
  * Everything is a single-scan projection of codegen'd expressions — at scale
  * these run at parquet read speed with no shuffle (the ORDER BY here is only
  * for oracle determinism; a production pipeline would drop it).
  */
object TextAnalysis {

  /** Per-language marker words (space-padded to approximate word boundaries —
    * the n-gram heuristic). Scores are exact occurrence counts. */
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " and "),
    "de" -> Seq(" der ", " und "),
    "es" -> Seq(" los ", " que "),
    "fr" -> Seq(" les ", " est "),
    "zh" -> Seq("的"))

  /** Token counting + shape stats. */
  def textTokenStats(s: SparkSession, d: String): DataFrame = {
    val doc = Tables.documents(s, d)
    doc.select(
        col("doc_id"),
        wordCount(col("text")).as("n_tokens"),
        length(col("text")).cast("long").as("len_chars"),
        nonSpaceCount(col("text")).as("n_nonspace"),
        punctCount(col("text")).cast("long").as("n_punct"))
      .withColumn("avg_token_len",
        when(col("n_tokens") > 0,
          round(col("n_nonspace").cast("double") / col("n_tokens").cast("double"), 4))
          .otherwise(lit(0.0)))
      .withColumn("punct_ratio",
        when(col("len_chars") > 0,
          round(col("n_punct").cast("double") / col("len_chars").cast("double"), 6))
          .otherwise(lit(0.0)))
      .orderBy("doc_id")
  }

  private val textTokenStatsSql =
    s"""WITH b AS (
      |  SELECT doc_id,
      |    ${wordCountSql("text")} AS n_tokens,
      |    length(text) AS len_chars,
      |    ${nonSpaceCountSql("text")} AS n_nonspace,
      |    length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct
      |  FROM documents
      |)
      |SELECT doc_id, n_tokens, len_chars, n_nonspace, n_punct,
      |  CASE WHEN n_tokens > 0 THEN round(n_nonspace * 1.0 / n_tokens, 4) ELSE 0.0 END AS avg_token_len,
      |  CASE WHEN len_chars > 0 THEN round(n_punct * 1.0 / len_chars, 6) ELSE 0.0 END AS punct_ratio
      |FROM b ORDER BY doc_id""".stripMargin

  /** Quality scoring: length / alpha-ratio / punctuation composite with a
    * bucket label, the filter a pretraining pipeline applies before training.
    * The bucket is derived from the ROUNDED score so both engines agree at
    * threshold boundaries. */
  /** (doc_id, n_tokens, bp): the integer-basis-point quality score shared by
    * textQuality (fixed thresholds) and textQualityTercile (data-driven
    * cutpoints). */
  private[operators] def qualityBp(s: SparkSession, d: String): DataFrame = {
    val doc = Tables.documents(s, d)
    val base = doc.select(
      col("doc_id"),
      wordCount(col("text")).as("n_tokens"),
      length(col("text")).cast("long").as("len_chars"),
      alphaCount(lower(col("text"))).as("n_alpha"),
      punctCount(col("text")).cast("long").as("n_punct"))
    // score = 0.5*min(nt,100)/100 + 0.3*n_alpha/len + 0.2*(len-n_punct)/len,
    // quantized to 4 decimals ENTIRELY in integer arithmetic: float sums
    // differ between engines in the last ulp, and even on identical doubles
    // Spark (exact BigDecimal HALF_UP) and DuckDB (scaled multiply) round
    // boundary values differently (seen at sf0.1). Integer round-half-up
    // basis points — floor((20000·I + D) / 2D) — are engine-independent;
    // the single /10000.0 at the end is one exact IEEE op.
    val minT = least(col("n_tokens"), lit(100L))
    val len = col("len_chars")
    val numer = minT * len + lit(60L) * col("n_alpha") + lit(40L) * (len - col("n_punct"))
    val denom = lit(200L) * len
    base
      .withColumn("qn", numer)
      .withColumn("qd", denom)
      // SQL `div` is true integer division (Column./ goes through doubles
      // and can mis-floor at integer boundaries)
      .withColumn("bp", when(len > 0, expr("(20000 * qn + qd) div (2 * qd)"))
        .otherwise(minT * 50L + 2000L))
      .select("doc_id", "n_tokens", "bp")
  }

  def textQuality(s: SparkSession, d: String): DataFrame = {
    qualityBp(s, d)
      .withColumn("quality_score", col("bp").cast("double") / 10000.0)
      .withColumn("quality_bucket",
        when(col("quality_score") >= 0.8, "high")
          .when(col("quality_score") >= 0.5, "medium")
          .otherwise("low"))
      .select("doc_id", "n_tokens", "quality_score", "quality_bucket")
      .orderBy("doc_id")
  }

  /** DATA-DRIVEN quality terciles — "keep the top third by quality", the
    * percentile-threshold filter real pretraining pipelines apply, as
    * opposed to textQuality's fixed thresholds. The tercile cutpoints are
    * EXACT discrete quantiles (smallest score with cume_count ≥ ⌈k·n/3⌉)
    * computed from the VALUE DISTRIBUTION, not the data: scores are
    * integer basis points (≤ 10001 distinct values), so the running-count
    * window runs over a bounded aggregate — never a global sort of the
    * corpus. (The global-NTILE formulation would single-partition-sort all
    * of it — the 100 TB anti-pattern this query exists to avoid.) The
    * ceil compare is the multiply form (3·cum ≥ k·n), exact integers on
    * both engines; ties share a bucket, so bucket sizes are only
    * approximately n/3 — the honest discrete-quantile semantics. */
  def textQualityTercile(s: SparkSession, d: String): DataFrame = {
    val base = qualityBp(s, d)
    val dist = base.groupBy("bp").agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy("bp")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = dist
      .withColumn("cum", sum("cnt").over(w))
      .crossJoin(broadcast(dist.agg(sum("cnt").as("n_total"))))
    val cuts = cum.agg(
      min(when(col("cum") * 3 >= col("n_total"), col("bp"))).as("cut1"),
      min(when(col("cum") * 3 >= col("n_total") * 2, col("bp"))).as("cut2"))
    base.crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("bp").as("quality_bp"),
        when(col("bp") <= col("cut1"), "t1")
          .when(col("bp") <= col("cut2"), "t2")
          .otherwise("t3").as("tercile"))
      .orderBy("doc_id")
  }

  private val textQualityTercileSql =
    s"""WITH b AS (
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
      |  FROM b
      |), dist AS (
      |  SELECT bp, count(*) AS cnt FROM scored GROUP BY bp
      |), cum AS (
      |  SELECT bp, sum(cnt) OVER (ORDER BY bp ROWS UNBOUNDED PRECEDING) AS cum,
      |    (SELECT sum(cnt) FROM dist) AS n_total
      |  FROM dist
      |), cuts AS (
      |  SELECT min(CASE WHEN cum * 3 >= n_total THEN bp END) AS cut1,
      |    min(CASE WHEN cum * 3 >= n_total * 2 THEN bp END) AS cut2
      |  FROM cum
      |)
      |SELECT doc_id, bp AS quality_bp,
      |  CASE WHEN bp <= cut1 THEN 't1'
      |       WHEN bp <= cut2 THEN 't2'
      |       ELSE 't3' END AS tercile
      |FROM scored CROSS JOIN cuts
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // text_quality_auc — DOES THE QUALITY SCORE DISCRIMINATE? One-vs-rest
  // AUC of the quality score against each language label, the standard
  // "is my filter signal better than a coin flip" eval a pretraining
  // pipeline runs before trusting a quality filter — and the per-language
  // one-vs-rest framing doubles as a LANGUAGE-BIAS audit of the filter
  // (on the synthetic shared-vocabulary corpus every AUC hovers near the
  // 5000 bp null, the honest no-discrimination reading; on a real corpus
  // an alpha-ratio score skews toward Latin-script languages and this is
  // the query that shows it before the filter skews the training mix).
  //
  // AUC = U/(n₁n₀) computed by the q_mannwhitney COUNT-GRID identity, not
  // a rank() sort: one hash-aggregate collapses the corpus to the
  // (lang × bp) grid (≤ |langs|·10001 rows — bp is integer basis points,
  // a bounded value domain), cumulative windows run per-lang over that
  // metadata-sized grid, and ties contribute half via the doubled-U
  // integer u2 = Σ c₁(v)·(2·C₀(<v) + c₀(v)). All integer arithmetic:
  // auc_bp = 10000·u2 div 2n₁n₀ (NULL when a side is empty, both
  // engines). At 100 TB: grid rows only ever shuffle, never documents.
  // ---------------------------------------------------------------------
  def textQualityAuc(s: SparkSession, d: String): DataFrame = {
    val scored = qualityBp(s, d)
      .join(Tables.documents(s, d).select("doc_id", "lang"), "doc_id")
    val grid = scored.groupBy("bp", "lang").agg(count(lit(1)).as("c"))
    val tot = grid.groupBy("bp").agg(sum("c").as("ct"))
    val dense = grid.select("bp").distinct()
      .crossJoin(broadcast(grid.select("lang").distinct()))
      .join(grid, Seq("bp", "lang"), "left")
      .select(col("bp"), col("lang"), coalesce(col("c"), lit(0L)).as("c"))
      .join(tot, "bp")
    val w = Window.partitionBy("lang").orderBy("bp")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = dense
      .withColumn("cumc", sum("c").over(w))
      .withColumn("cumt", sum("ct").over(w))
    cum.groupBy("lang")
      .agg(sum("c").as("n_pos"),
        (sum("ct") - sum("c")).as("n_neg"),
        sum(col("c") * ((col("cumt") - col("ct") - (col("cumc") - col("c"))) * 2
          + (col("ct") - col("c")))).as("u2"))
      .withColumn("auc_bp",
        expr("CASE WHEN n_pos * n_neg > 0 THEN (10000 * u2) div (2 * n_pos * n_neg) END"))
      .orderBy("lang")
  }

  private val textQualityAucSql =
    s"""WITH b AS (
      |  SELECT doc_id, lang,
      |    ${wordCountSql("text")} AS n_tokens,
      |    length(text) AS len_chars,
      |    length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS n_alpha,
      |    length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct
      |  FROM documents
      |), scored AS (
      |  SELECT doc_id, lang,
      |    CASE WHEN len_chars > 0 THEN
      |      CAST((20000 * (least(n_tokens, 100) * len_chars + 60 * n_alpha
      |                + 40 * (len_chars - n_punct)) + 200 * len_chars)
      |      // (2 * 200 * len_chars) AS BIGINT)
      |    ELSE least(n_tokens, 100) * 50 + 2000 END AS bp
      |  FROM b
      |), grid AS (
      |  SELECT bp, lang, CAST(count(*) AS BIGINT) AS c FROM scored GROUP BY 1, 2
      |), tot AS (
      |  SELECT bp, CAST(sum(c) AS BIGINT) AS ct FROM grid GROUP BY bp
      |), dense AS (
      |  SELECT t.bp, l.lang, CAST(coalesce(g.c, 0) AS BIGINT) AS c, tot.ct
      |  FROM (SELECT DISTINCT bp FROM grid) t
      |  CROSS JOIN (SELECT DISTINCT lang FROM grid) l
      |  LEFT JOIN grid g ON g.bp = t.bp AND g.lang = l.lang
      |  JOIN tot ON tot.bp = t.bp
      |), cum AS (
      |  SELECT bp, lang, c, ct,
      |    CAST(sum(c) OVER (PARTITION BY lang ORDER BY bp
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumc,
      |    CAST(sum(ct) OVER (PARTITION BY lang ORDER BY bp
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumt
      |  FROM dense
      |), agg AS (
      |  SELECT lang, CAST(sum(c) AS BIGINT) AS n_pos,
      |    CAST(sum(ct) - sum(c) AS BIGINT) AS n_neg,
      |    CAST(sum(c * (((cumt - ct) - (cumc - c)) * 2 + (ct - c))) AS BIGINT) AS u2
      |  FROM cum GROUP BY lang
      |)
      |SELECT lang, n_pos, n_neg, u2,
      |  CASE WHEN n_pos * n_neg > 0
      |    THEN CAST((10000 * u2) // (2 * n_pos * n_neg) AS BIGINT) END AS auc_bp
      |FROM agg ORDER BY lang""".stripMargin

  private val textQualitySql =
    s"""WITH b AS (
      |  SELECT doc_id,
      |    ${wordCountSql("text")} AS n_tokens,
      |    length(text) AS len_chars,
      |    length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS n_alpha,
      |    length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct
      |  FROM documents
      |), scored AS (
      |  SELECT doc_id, n_tokens,
      |    (CASE WHEN len_chars > 0 THEN
      |       CAST((20000 * (least(n_tokens, 100) * len_chars + 60 * n_alpha
      |                 + 40 * (len_chars - n_punct)) + 200 * len_chars)
      |       // (2 * 200 * len_chars) AS BIGINT)
      |     ELSE least(n_tokens, 100) * 50 + 2000 END) * 1.0 / 10000.0 AS quality_score
      |  FROM b
      |)
      |SELECT doc_id, n_tokens, quality_score,
      |  CASE WHEN quality_score >= 0.8 THEN 'high'
      |       WHEN quality_score >= 0.5 THEN 'medium'
      |       ELSE 'low' END AS quality_bucket
      |FROM scored ORDER BY doc_id""".stripMargin

  /** Language ID by marker-word frequency, argmax with a fixed priority order
    * (en > de > es > fr > zh on ties) so prediction is deterministic. */
  def textLangid(s: SparkSession, d: String): DataFrame = {
    val doc = Tables.documents(s, d)
    val padded = concat(lit(" "), lower(col("text")), lit(" "))
    def score(markers: Seq[String]): Column =
      markers.map(m => occurrences(padded, m)).reduce(_ + _).cast("long")
    val scored = doc.select(
      (Seq(col("doc_id"), col("lang").as("actual_lang")) ++
        langMarkers.map { case (l, ms) => score(ms).as(s"s_$l") }): _*)
    val langs = langMarkers.map(_._1)
    // argmax with fixed tie priority: first lang whose score >= max of the rest
    val predicted = langs.init.zipWithIndex.foldRight(lit(langs.last)) {
      case ((l, i), elseCol) =>
        val rest = langs.drop(i + 1).map(r => col(s"s_$r"))
        val restMax = if (rest.size == 1) rest.head else greatest(rest: _*)
        when(col(s"s_$l") >= restMax, lit(l)).otherwise(elseCol)
    }
    scored
      .withColumn("predicted_lang", predicted)
      .withColumn("lang_match", col("predicted_lang") === col("actual_lang"))
      .orderBy("doc_id")
  }

  private val textLangidSql = {
    def occ(m: String) =
      s"CAST((length(p.pad) - length(replace(p.pad, '$m', ''))) / ${m.length} AS BIGINT)"
    val scores = langMarkers.map { case (l, ms) =>
      ms.map(occ).mkString("(", " + ", s") AS s_$l")
    }.mkString(",\n    ")
    val langs = langMarkers.map(_._1)
    val caseArms = langs.init.zipWithIndex.map { case (l, i) =>
      val rest = langs.drop(i + 1).map(r => s"s_$r")
      val restMax = if (rest.size == 1) rest.head else s"greatest(${rest.mkString(", ")})"
      s"WHEN s_$l >= $restMax THEN '$l'"
    }.mkString("\n    ")
    s"""WITH p AS (
       |  SELECT doc_id, lang AS actual_lang, ' ' || lower(text) || ' ' AS pad
       |  FROM documents
       |), scored AS (
       |  SELECT doc_id, actual_lang,
       |    $scores
       |  FROM p
       |)
       |SELECT doc_id, actual_lang, ${langs.map(l => s"s_$l").mkString(", ")},
       |  CASE $caseArms ELSE '${langs.last}' END AS predicted_lang,
       |  (CASE $caseArms ELSE '${langs.last}' END) = actual_lang AS lang_match
       |FROM scored ORDER BY doc_id""".stripMargin
  }

  /** Content fingerprinting: md5 digest + 64-bit hex prefix, the identity a
    * dedup pipeline carries instead of the full text. */
  def textFingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        md5(col("text")).as("fp"),
        substring(md5(col("text")), 1, 16).as("fp64"))
      .orderBy("doc_id")

  private val textFingerprintSql =
    """SELECT doc_id, md5(text) AS fp, substr(md5(text), 1, 16) AS fp64
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Fuzzy entity matching — the reference's bill-number canonicalization +
    * fuzzy column/record matching (build_master_corpus.py:46-52
    * normalize_bill_number, legiscan_normalizer.py:84-109
    * find_best_column_match) as a scaled record-linkage operator: canonicalize
    * (strip non-alphanumerics, uppercase), block on p_brand (never n² across
    * blocks), then Levenshtein ≤ 2 within the block. */
  def textFuzzyMatch(s: SparkSession, d: String): DataFrame = {
    val canon = upper(regexp_replace(col("p_name"), "[^a-zA-Z0-9]", ""))
    val p = Tables.part(s, d)
      .select(col("p_partkey"), col("p_brand"), col("p_name"), canon.as("canon"))
    // Dedupe-before-distance: entity strings repeat heavily (20k parts share
    // 64 names at sf0.1), so compute Levenshtein once per DISTINCT
    // (brand, canon) pair — 160× fewer O(n·m) calls — then fan matching name
    // pairs back out to key pairs. |len(a)-len(b)| <= 2 lower-bounds the edit
    // distance and short-circuits before levenshtein runs.
    val names = p.select("p_brand", "canon").distinct()
    val namePairs = names.as("na").join(names.as("nb"),
        col("na.p_brand") === col("nb.p_brand") &&
          col("na.canon") < col("nb.canon") &&
          abs(length(col("na.canon")) - length(col("nb.canon"))) <= 2)
      .select(col("na.p_brand").as("brand"),
        col("na.canon").as("ca"), col("nb.canon").as("cb"),
        levenshtein(col("na.canon"), col("nb.canon")).cast("long").as("edit_dist"))
      .filter(col("edit_dist") <= 2)
    namePairs
      .join(p.as("x"), col("x.p_brand") === col("brand") && col("x.canon") === col("ca"))
      .join(p.as("y"), col("y.p_brand") === col("brand") && col("y.canon") === col("cb"))
      .select(
        least(col("x.p_partkey"), col("y.p_partkey")).as("key_a"),
        greatest(col("x.p_partkey"), col("y.p_partkey")).as("key_b"),
        when(col("x.p_partkey") < col("y.p_partkey"), col("x.p_name"))
          .otherwise(col("y.p_name")).as("name_a"),
        when(col("x.p_partkey") < col("y.p_partkey"), col("y.p_name"))
          .otherwise(col("x.p_name")).as("name_b"),
        col("edit_dist"))
      .orderBy("key_a", "key_b")
  }

  private val textFuzzyMatchSql =
    """WITH p AS (
      |  SELECT p_partkey, p_brand, p_name,
      |    upper(regexp_replace(p_name, '[^a-zA-Z0-9]', '', 'g')) AS canon
      |  FROM part
      |)
      |SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
      |  a.p_name AS name_a, b.p_name AS name_b,
      |  CAST(levenshtein(a.canon, b.canon) AS BIGINT) AS edit_dist
      |FROM p a JOIN p b
      |  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey AND a.canon <> b.canon
      |  AND abs(length(a.canon) - length(b.canon)) <= 2
      |WHERE levenshtein(a.canon, b.canon) <= 2
      |ORDER BY key_a, key_b""".stripMargin

  // PII patterns, RE2-compatible (no backreferences; \b works in both RE2
  // and java.util.regex). Applied in a FIXED order — redaction output
  // depends on it, so Spark and the oracle must agree.
  private val emailPat = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  private val ssnPat = "\\b\\d{3}-\\d{2}-\\d{4}\\b"
  private val phonePat = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

  /** PII redaction — the scrub pass every pretraining pipeline runs before
    * text leaves the ingest zone: count + replace emails / SSNs / phone
    * numbers with typed placeholders. Single-scan codegen'd projection, no
    * shuffle. Documents carry no natural PII, so a deterministic footer
    * (email + phone + SSN derived from doc_id) is appended first — the
    * counts then prove every injected item was found, and any NATURAL match
    * in the text is redacted by the same pass. SSN runs before phone: the
    * patterns are disjoint on real inputs, but fixed order keeps the two
    * engines byte-identical if they ever overlap. */
  def textPiiRedact(s: SparkSession, d: String): DataFrame = {
    val footerPhone = concat(lit("555-"), (col("doc_id") % 900 + 100).cast("string"), lit("-0199"))
    val footerSsn = concat((col("doc_id") % 900 + 100).cast("string"), lit("-45-6789"))
    val withPii = concat(col("text"),
      lit(" Contact: user"), col("doc_id").cast("string"), lit("@example.com, call "),
      footerPhone, lit(", SSN "), footerSsn, lit("."))
    val nEmails = size(regexp_extract_all(withPii, lit(emailPat), lit(0))).cast("long")
    val nSsns = size(regexp_extract_all(withPii, lit(ssnPat), lit(0))).cast("long")
    val nPhones = size(regexp_extract_all(withPii, lit(phonePat), lit(0))).cast("long")
    val redacted = regexp_replace(
      regexp_replace(
        regexp_replace(withPii, emailPat, "[EMAIL]"),
        ssnPat, "[SSN]"),
      phonePat, "[PHONE]")
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        nEmails.as("n_emails"),
        nPhones.as("n_phones"),
        nSsns.as("n_ssns"),
        length(redacted).cast("long").as("redacted_chars"),
        // explicit positive start: negative-start substring semantics for
        // strings shorter than the window differ between engines
        substr(redacted, greatest(lit(1L), length(redacted) - 59), lit(60L))
          .as("redacted_tail"))
      .filter(col("n_emails") + col("n_phones") + col("n_ssns") > 0)
      .orderBy("doc_id")
  }

  private val textPiiRedactSql = {
    // RE2 string literals: \d etc. need doubling inside the SQL string
    val email = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
    val ssn = "\\b\\d{3}-\\d{2}-\\d{4}\\b"
    val phone = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
    s"""WITH w AS (
       |  SELECT doc_id,
       |    text || ' Contact: user' || CAST(doc_id AS VARCHAR) ||
       |    '@example.com, call 555-' || CAST(doc_id % 900 + 100 AS VARCHAR) ||
       |    '-0199, SSN ' || CAST(doc_id % 900 + 100 AS VARCHAR) || '-45-6789.' AS t
       |  FROM documents
       |), r AS (
       |  SELECT doc_id,
       |    CAST(length(regexp_extract_all(t, '$email')) AS BIGINT) AS n_emails,
       |    CAST(length(regexp_extract_all(t, '$phone')) AS BIGINT) AS n_phones,
       |    CAST(length(regexp_extract_all(t, '$ssn')) AS BIGINT) AS n_ssns,
       |    regexp_replace(regexp_replace(regexp_replace(t,
       |      '$email', '[EMAIL]', 'g'),
       |      '$ssn', '[SSN]', 'g'),
       |      '$phone', '[PHONE]', 'g') AS red
       |  FROM w
       |)
       |SELECT doc_id, n_emails, n_phones, n_ssns,
       |  length(red) AS redacted_chars,
       |  substr(red, greatest(1, length(red) - 59), 60) AS redacted_tail
       |FROM r
       |WHERE n_emails + n_phones + n_ssns > 0
       |ORDER BY doc_id""".stripMargin
  }

  /** Repetition-based quality signals (the Gopher/MassiveText rules):
    * duplicate-line fraction and top-bigram occurrence share per document —
    * boilerplate and template spam score high on both and get filtered
    * before training. Two narrow per-doc aggregations (lines, bigrams), each
    * one shuffle on doc_id with map-side partials; ratios are computed in
    * integer basis points (div round-half-up) because float round() at
    * half-boundaries diverges between engines (e.g. 1/32 at 4 dp). */
  def textRepetition(s: SparkSession, d: String): DataFrame = {
    val doc = Tables.documents(s, d)
    val lines = doc
      .select(col("doc_id"), explode(split(col("text"), "\n")).as("line"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_lines"), countDistinct(col("line")).as("n_distinct"))
      .withColumn("dup_line_frac",
        expr("(20000 * (n_lines - n_distinct) + n_lines) div (2 * n_lines)")
          .cast("double") / 10000.0)
    val toks = doc.select(col("doc_id"),
      posexplode(wsTokens(normalizeText(col("text")))).as(Seq("pos", "tok")))
    val bigrams = kgrams(toks, 2, "bg")
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("cnt"))
    val rk = Window.partitionBy("doc_id").orderBy(col("cnt").desc, col("bg").asc)
    val top = bigrams
      .withColumn("total", sum("cnt").over(Window.partitionBy("doc_id")))
      .withColumn("rk", row_number().over(rk)).filter(col("rk") === 1)
      .select(col("doc_id"), col("bg").as("top_bigram"),
        expr("(20000 * cnt + total) div (2 * total)").cast("double")
          .as("bp"))
      .withColumn("top_bigram_frac", col("bp") / 10000.0)
      .drop("bp")
    lines.join(top, Seq("doc_id"), "left")
      .select("doc_id", "n_lines", "dup_line_frac", "top_bigram", "top_bigram_frac")
      .orderBy("doc_id")
  }

  private val textRepetitionSql =
    s"""WITH l AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(text, '\\n')) AS line
      |  FROM documents
      |), lines AS (
      |  SELECT doc_id, count(*) AS n_lines, count(DISTINCT line) AS n_distinct
      |  FROM l GROUP BY doc_id
      |), ${Dedup.toksCte}, bg AS (
      |  ${kgramsSql("toks", 2, "bg")}
      |), cnts AS (
      |  SELECT doc_id, bg, count(*) AS cnt FROM bg GROUP BY doc_id, bg
      |), top AS (
      |  SELECT doc_id, bg AS top_bigram,
      |    ((20000 * cnt + total) // (2 * total)) * 1.0 / 10000.0 AS top_bigram_frac
      |  FROM (SELECT doc_id, bg, cnt, sum(cnt) OVER (PARTITION BY doc_id) AS total,
      |          row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, bg) AS rk
      |        FROM cnts)
      |  WHERE rk = 1
      |)
      |SELECT lines.doc_id, n_lines,
      |  ((20000 * (n_lines - n_distinct) + n_lines) // (2 * n_lines)) * 1.0 / 10000.0
      |    AS dup_line_frac,
      |  top_bigram, top_bigram_frac
      |FROM lines LEFT JOIN top ON lines.doc_id = top.doc_id
      |ORDER BY lines.doc_id""".stripMargin

  /** Benchmark decontamination — before training, any document sharing
    * enough n-grams with an evaluation set must be flagged and dropped, or
    * the benchmark leaks into the training corpus. The "benchmark" here is
    * the deterministic doc_id % 100 == 0 slice; a document is contaminated
    * if it shares ≥ 3 distinct 3-gram shingles with a benchmark doc.
    *
    * Scale shape: the benchmark shingle set is tiny relative to the corpus
    * (an eval suite, not a crawl) — broadcast it; the corpus side is one
    * scan + hash join + per-pair count. Never a corpus×corpus product. */
  def textContamination(s: SparkSession, d: String): DataFrame = {
    val sh = Dedup.shingleRelation(s, d)
    val bench = sh.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("benchmark_id"), col("shingle"))
    sh.filter(col("doc_id") % 100 =!= 0)
      .join(broadcast(bench), "shingle")
      .groupBy("doc_id", "benchmark_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 3)
      .orderBy("doc_id", "benchmark_id")
  }

  private val textContaminationSql =
    s"""WITH ${Dedup.shingleCte}
       |SELECT c.doc_id, b.doc_id AS benchmark_id, count(*) AS n_shared
       |FROM sh c JOIN sh b ON c.shingle = b.shingle
       |WHERE c.doc_id % 100 <> 0 AND b.doc_id % 100 = 0
       |GROUP BY c.doc_id, b.doc_id
       |HAVING count(*) >= 3
       |ORDER BY c.doc_id, benchmark_id""".stripMargin

  /** Sequence packing: assign documents to fixed token-budget training
    * sequences (budget 512) with NEXT-FIT semantics — walk the stratum in a
    * deterministic order, a document lands in the sequence its exclusive
    * cumulative token count falls in, oversized documents overflow their
    * sequence rather than splitting. This is the shard-building step between
    * "filtered corpus" and "training batches".
    *
    * Packing is per-LANGUAGE (the realistic sharding key): one window
    * shuffle on lang, running sum inside the partition — NOT a global sort.
    * At 100 TB the stratum key would be (lang, shard_salt) so no single
    * partition holds a whole language; the per-stratum plan is unchanged.
    * All arithmetic exact integers. */
  def textPackSequences(s: SparkSession, d: String): DataFrame = {
    val budget = 512L
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, d)
      .select(col("lang"), col("doc_id"), wordCount(col("text")).as("n_tokens"))
      .withColumn("cum", sum("n_tokens").over(w))
      .withColumn("seq_id", expr(s"(cum - n_tokens) div $budget"))
      .groupBy("lang", "seq_id")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("seq_tokens"),
        min("doc_id").as("first_doc"),
        max("doc_id").as("last_doc"))
      .orderBy("lang", "seq_id")
  }

  private val textPackSequencesSql =
    s"""WITH t AS (
      |  SELECT lang, doc_id,
      |    ${wordCountSql("text")} AS n_tokens
      |  FROM documents
      |), c AS (
      |  SELECT lang, doc_id, n_tokens,
      |    sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM t
      |)
      |SELECT lang, CAST((cum - n_tokens) // 512 AS BIGINT) AS seq_id,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_tokens) AS BIGINT) AS seq_tokens,
      |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
      |FROM c
      |GROUP BY lang, (cum - n_tokens) // 512
      |ORDER BY lang, seq_id""".stripMargin

  /** Composite pretraining filter chain (C4/Gopher-style): the rules run in
    * a fixed order and the FIRST failing rule is the recorded drop reason —
    * exactly the keep/drop audit log a data-curation run must emit. One
    * single-scan case-when cascade, all thresholds compared in exact integer
    * cross-multiplication (ratio < x/y as n*y < x*d), so the verdict is
    * bit-stable across engines. */
  def textFilterChain(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d).select(
      col("doc_id"),
      wordCount(col("text")).as("n_tokens"),
      length(col("text")).cast("long").as("len_chars"),
      alphaCount(lower(col("text"))).as("n_alpha"),
      punctCount(col("text")).cast("long").as("n_punct"),
      nonSpaceCount(col("text")).as("n_nonspace"))
    base
      .withColumn("reason", filterReason)
      .withColumn("keep", (col("reason") === "keep").cast("boolean"))
      .select("doc_id", "n_tokens", "keep", "reason")
      .orderBy("doc_id")
  }

  /** The fixed-order rule cascade over the precomputed counters
    * (n_tokens, n_nonspace, n_alpha, n_punct, len_chars) — shared with
    * the composed curation pipeline (llm_pretrain_e2e), which must apply
    * EXACTLY these rules in exactly this order. */
  private[operators] def filterReason: Column =
    when(col("n_tokens") < 20, "too_short")
      .when(col("n_nonspace") < col("n_tokens") * 3, "short_words")
      .when(col("n_nonspace") > col("n_tokens") * 12, "long_words")
      .when(col("n_alpha") * 10 < col("len_chars") * 6, "low_alpha")
      .when(col("n_punct") * 100 > col("len_chars") * 10, "high_punct")
      .otherwise("keep")

  /** The SQL mirror of [[filterReason]] over the same counter columns —
    * the ONE source of truth for the cascade's thresholds on the oracle
    * side, shared by text_filter_chain and the composed curation
    * pipeline (llm_pretrain_e2e) so a threshold change can never drift
    * between the two oracles. */
  private[operators] val filterReasonSql =
    """CASE WHEN n_tokens < 20 THEN 'too_short'
      |     WHEN n_nonspace < n_tokens * 3 THEN 'short_words'
      |     WHEN n_nonspace > n_tokens * 12 THEN 'long_words'
      |     WHEN n_alpha * 10 < len_chars * 6 THEN 'low_alpha'
      |     WHEN n_punct * 100 > len_chars * 10 THEN 'high_punct'
      |     ELSE 'keep' END""".stripMargin

  private val textFilterChainSql =
    s"""WITH b AS (
      |  SELECT doc_id,
      |    ${wordCountSql("text")} AS n_tokens,
      |    length(text) AS len_chars,
      |    length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS n_alpha,
      |    length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
      |    ${nonSpaceCountSql("text")} AS n_nonspace
      |  FROM documents
      |), v AS (
      |  SELECT doc_id, n_tokens,
      |    $filterReasonSql AS reason
      |  FROM b
      |)
      |SELECT doc_id, n_tokens, reason = 'keep' AS keep, reason
      |FROM v ORDER BY doc_id""".stripMargin

  /** BPE-ish token counting: the GPT-2-family pre-tokenizer shape — letter
    * runs, single digits, punctuation runs — as one RE2-safe regex (no
    * lookarounds, so Java and RE2 agree), counted with a single codegen'd
    * regexp_extract_all per row. Fertility (BPE tokens per whitespace word,
    * in basis points) is THE budget number a training pipeline sizes
    * sequences with; exact integer arithmetic. */
  def textBpeTokenCount(s: SparkSession, d: String): DataFrame = {
    val pat = "[a-z]+|[0-9]|[^a-z0-9\\s]+"
    Tables.documents(s, d)
      .select(col("doc_id"),
        wordCount(col("text")).as("n_ws_tokens"),
        size(regexp_extract_all(lower(col("text")), lit(pat), lit(0)))
          .cast("long").as("n_bpe_tokens"))
      .withColumn("fertility_bp",
        when(col("n_ws_tokens") > 0,
          expr("(10000 * n_bpe_tokens) div n_ws_tokens")).otherwise(0L))
      .orderBy("doc_id")
  }

  private val textBpeTokenCountSql =
    s"""WITH b AS (
      |  SELECT doc_id,
      |    ${wordCountSql("text")} AS n_ws_tokens,
      |    CAST(array_length(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\\s]+')) AS BIGINT) AS n_bpe_tokens
      |  FROM documents
      |)
      |SELECT doc_id, n_ws_tokens, n_bpe_tokens,
      |  CASE WHEN n_ws_tokens > 0
      |       THEN CAST((10000 * n_bpe_tokens) // n_ws_tokens AS BIGINT)
      |       ELSE 0 END AS fertility_bp
      |FROM b ORDER BY doc_id""".stripMargin

  /** Perplexity-proxy quality scoring: per-document mean token SURPRISAL
    * under the corpus's own unigram distribution (-ln p(tok), the
    * KenLM-filter shape with n=1). Low mean surprisal = repetitive/common
    * tokens; high = rare-token soup — both tails get dropped by real
    * pretraining filters.
    *
    * Plan: one token explode → unigram counts (shuffle on token, uniform) →
    * scalar total via a 1-row cross join (broadcast) → join scores back to
    * the token stream → per-doc aggregate. Per-TOKEN surprisal is quantized
    * to integer centinats FIRST (round(-ln p · 100)) and doc aggregation is
    * exact integer sum/div — a per-doc float sum would re-associate
    * differently across engines. The ~1-ulp libm ln() divergence cannot flip
    * a centinat rounding (it sits ~13 orders of magnitude from a boundary). */
  def textUnigramLogprob(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(wsTokens(col("text"))).as("tok"))
    val dfs = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
    val total = dfs.agg(sum("cnt").as("tot"))
    val scored = dfs.crossJoin(total)
      .select(col("tok"),
        round(-log(col("cnt") / col("tot")) * 100).cast("long").as("surp"))
    toks.join(scored, "tok")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("surp").as("sum_surp"))
      .withColumn("avg_surprisal_cn", expr("sum_surp div n_tokens"))
      .orderBy("doc_id")
  }

  private val textUnigramLogprobSql =
    s"""WITH t2 AS (
      |  SELECT doc_id, unnest(${wsTokensSql("text")}) AS tok FROM documents
      |), dfs AS (
      |  SELECT tok, count(*) AS cnt FROM t2 GROUP BY tok
      |), tot AS (
      |  SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM dfs
      |), scored AS (
      |  SELECT tok, CAST(round(-ln(cnt * 1.0 / tot) * 100) AS BIGINT) AS surp
      |  FROM dfs, tot
      |)
      |SELECT t2.doc_id,
      |  CAST(count(*) AS BIGINT) AS n_tokens,
      |  CAST(sum(surp) AS BIGINT) AS sum_surp,
      |  CAST(sum(surp) // count(*) AS BIGINT) AS avg_surprisal_cn
      |FROM t2 JOIN scored ON t2.tok = scored.tok
      |GROUP BY t2.doc_id
      |ORDER BY t2.doc_id""".stripMargin

  /** Bigram-LM surprisal — the n=2 rung above text_unigram_logprob: token i
    * is scored by −ln p(wᵢ|wᵢ₋₁) under the corpus-trained bigram model
    * (p = c(w₁w₂)/c(w₁·), the count of the bigram over the count of its
    * context as a prefix), the first token of each document by its unigram
    * surprisal. Self-scoring the training corpus means every bigram is seen
    * (no backoff path exercised), which keeps the estimator pure-ML and the
    * oracle exact; the per-token centinat quantization → integer doc sums
    * is the same parity rule the unigram scorer proved.
    *
    * Plan: cached token relation feeds the bigram window, both count
    * aggregates, and the first-token slice; scoring joins are shuffle joins
    * on token keys (vocab² too large to broadcast at scale). */
  def textBigramLogprob(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"),
        posexplode(wsTokens(col("text"))).as(Seq("pos", "tok")))
      .cache()
    val w = Window.partitionBy("doc_id").orderBy("pos")
    // cached: the bigram window (a doc_id shuffle + sort) feeds BOTH count
    // aggregates and the scoring join — three consumers, one computation
    val bg = toks
      .select(col("doc_id"), col("tok").as("w1"), lead("tok", 1).over(w).as("w2"))
      .filter(col("w2").isNotNull)
      .cache()
    val c12 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1p = bg.groupBy("w1").agg(count(lit(1)).as("c1p"))
    val bgScored = bg.join(c12, Seq("w1", "w2")).join(c1p, Seq("w1"))
      .select(col("doc_id"),
        round(-log(col("c12") / col("c1p")) * 100).cast("long").as("surp"))
    val uni = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
    val tot = uni.agg(sum("cnt").as("tot"))
    val firstScored = toks.filter(col("pos") === 0)
      .join(uni, "tok").crossJoin(broadcast(tot))
      .select(col("doc_id"),
        round(-log(col("cnt") / col("tot")) * 100).cast("long").as("surp"))
    bgScored.unionByName(firstScored)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("surp").as("sum_surp"))
      .withColumn("avg_surprisal_cn", expr("sum_surp div n_tokens"))
      .orderBy("doc_id")
  }

  private val textBigramLogprobSql =
    s"""WITH raw AS (
      |  SELECT doc_id, ${wsTokensSql("text")} AS t
      |  FROM documents
      |), tk AS (
      |  SELECT doc_id, i, t[i] AS tok
      |  FROM (SELECT doc_id, t, unnest(generate_series(1, array_length(t))) AS i
      |        FROM raw)
      |), bg AS (
      |  SELECT doc_id, w1, w2 FROM (
      |    SELECT doc_id, tok AS w1,
      |      lead(tok) OVER (PARTITION BY doc_id ORDER BY i) AS w2
      |    FROM tk
      |  ) WHERE w2 IS NOT NULL
      |), c12 AS (
      |  SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2
      |), c1p AS (
      |  SELECT w1, count(*) AS c1p FROM bg GROUP BY w1
      |), bg_scored AS (
      |  SELECT bg.doc_id,
      |    CAST(round(-ln(c12.c12 * 1.0 / c1p.c1p) * 100) AS BIGINT) AS surp
      |  FROM bg JOIN c12 USING (w1, w2) JOIN c1p USING (w1)
      |), uni AS (
      |  SELECT tok, count(*) AS cnt FROM tk GROUP BY tok
      |), tot AS (
      |  SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM uni
      |), first_scored AS (
      |  SELECT tk.doc_id,
      |    CAST(round(-ln(uni.cnt * 1.0 / tot.tot) * 100) AS BIGINT) AS surp
      |  FROM tk JOIN uni USING (tok) CROSS JOIN tot
      |  WHERE tk.i = 1
      |), allsurp AS (
      |  SELECT * FROM bg_scored UNION ALL SELECT * FROM first_scored
      |)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |  CAST(sum(surp) AS BIGINT) AS sum_surp,
      |  CAST(sum(surp) // count(*) AS BIGINT) AS avg_surprisal_cn
      |FROM allsurp GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** T5/UL2-style SPAN CORRUPTION planning: deterministically select ~15%
    * of each document's tokens in spans of length ≤ 3 and account for
    * exactly what gets masked — the denoising-objective preparation step
    * that pairs with text_pack_sequences (packing feeds the model, masking
    * defines its target). Stratified pseudo-random placement: the document
    * is cut into n_spans = max(1, n/20) strata of width stride = n/n_spans,
    * and span k starts at a portable md5-derived offset inside stratum k —
    * spans are provably disjoint (each clamped to its stratum), so the
    * masked-token count is an exact sum.
    *
    * Scale shape: tokens map to their stratum by pos/stride, so the
    * token-to-span match is an EQUI-join on (doc_id, stratum) — never a
    * per-doc range blowup. Fully oracled (md5-nibble offsets + integer
    * arithmetic on both engines). */
  def textSpanCorruption(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"),
        posexplode(wsTokens(col("text"))).as(Seq("pos", "tok")))
      .cache()
    val meta = toks.groupBy("doc_id").agg(count(lit(1)).as("n"))
      .withColumn("n_spans", greatest(lit(1L), expr("n div 20")))
      .withColumn("stride", expr("n div n_spans"))
    val spans = meta
      .select(col("doc_id"), col("n"), col("n_spans"), col("stride"),
        explode(sequence(lit(0L), col("n_spans") - 1)).as("k"))
      .withColumn("off",
        pmod(conv(substring(md5(concat(lit("graft-span-1"),
          col("doc_id").cast("string"), lit(":"), col("k").cast("string"))),
          1, 4), 16, 10).cast("long"), col("stride")))
      .withColumn("start", col("k") * col("stride") + col("off"))
      .withColumn("len", least(lit(3L), col("stride") - col("off")))
    val masked = toks.as("t")
      .join(spans.as("sp"),
        col("t.doc_id") === col("sp.doc_id") &&
          expr("t.pos div sp.stride") === col("sp.k") &&
          col("t.pos") >= col("sp.start") &&
          col("t.pos") < col("sp.start") + col("sp.len"))
      .groupBy(col("t.doc_id").as("doc_id"))
      .agg(count(lit(1)).as("n_masked_tokens"),
        sum(length(col("t.tok")).cast("long")).as("n_masked_chars"))
    meta.join(masked, "doc_id")
      .withColumn("mask_bp", expr("(n_masked_tokens * 10000) div n"))
      .select(col("doc_id"), col("n").as("n_tokens"), col("n_spans"),
        col("n_masked_tokens"), col("n_masked_chars"), col("mask_bp"))
      .orderBy("doc_id")
  }

  private val textSpanCorruptionSql = {
    s"""WITH raw AS (
       |  SELECT doc_id, ${wsTokensSql("text")} AS t
       |  FROM documents
       |), tk AS (
       |  SELECT doc_id, i - 1 AS pos, t[i] AS tok
       |  FROM (SELECT doc_id, t, unnest(generate_series(1, array_length(t))) AS i
       |        FROM raw)
       |), meta AS (
       |  SELECT doc_id, count(*) AS n,
       |    GREATEST(1, count(*) // 20) AS n_spans,
       |    count(*) // GREATEST(1, count(*) // 20) AS stride
       |  FROM tk GROUP BY doc_id
       |), hashed AS (
       |  SELECT doc_id, n, n_spans, stride, k,
       |    md5('graft-span-1' || CAST(doc_id AS VARCHAR)
       |      || ':' || CAST(k AS VARCHAR)) AS h
       |  FROM (SELECT doc_id, n, n_spans, stride,
       |          unnest(generate_series(0, n_spans - 1)) AS k
       |        FROM meta)
       |), spans AS (
       |  SELECT doc_id, n, n_spans, stride, k,
       |    k * stride + off AS start, LEAST(3, stride - off) AS len
       |  FROM (SELECT doc_id, n, n_spans, stride, k,
       |          ${OracleSql.hexPrefix("h", 4)} % stride AS off
       |        FROM hashed)
       |), masked AS (
       |  SELECT tk.doc_id, count(*) AS n_masked_tokens,
       |    CAST(sum(length(tok)) AS BIGINT) AS n_masked_chars
       |  FROM tk JOIN spans ON tk.doc_id = spans.doc_id
       |    AND tk.pos // spans.stride = spans.k
       |    AND tk.pos >= spans.start AND tk.pos < spans.start + spans.len
       |  GROUP BY tk.doc_id
       |)
       |SELECT meta.doc_id, n AS n_tokens, n_spans, n_masked_tokens,
       |  n_masked_chars, (n_masked_tokens * 10000) // n AS mask_bp
       |FROM meta JOIN masked ON meta.doc_id = masked.doc_id
       |ORDER BY meta.doc_id""".stripMargin
  }

  /** The fixed "query" for BM25 retrieval — the corpus keyword vocabulary
    * (same six terms as corpus_keyword_match, text_processor.py:119-131). */
  private val bmTerms = Seq("spark", "join", "filter", "window", "hash", "stream")

  /** BM25 keyword retrieval (k1 = 1.2, b = 0.75): score every document
    * against the fixed term set, return the top 50. The relevance-ranked
    * retrieval shape a corpus-curation pipeline uses for targeted slicing
    * (generalizes the reference's boolean search_keywords into ranked
    * search).
    *
    * Plan: ONE corpus scan → per-doc hash-aggregate computing doc length AND
    * all per-term tfs in the same pass (64-vote SimHash trick, 7 columns
    * here); term stats (N, total tokens, per-term df) reduce that narrow
    * relation to ONE broadcast row. Never a corpus×corpus or corpus×vocab
    * shuffle. At 100 TB the per-doc relation is the only large intermediate
    * and it is proportional to the corpus, not the vocabulary.
    *
    * Cross-engine exactness: with k1 = 6/5 and b = 3/4,
    *   tfnorm = tf·(k1+1) / (tf + k1·(1−b) + k1·b·dl/avgdl)
    *          = 22·T·tf / (10·T·tf + 3·T + 9·dl·N)   (avgdl = T/N, ×10T)
    * is an exact integer ratio; idf is quantized to milli-nats FIRST
    * (round(1000·ln(1 + (N−df+0.5)/(df+0.5))) — same double on both engines
    * from the same integers), then score_milli = idf_milli·tfnorm via
    * integer div round-half-up, and per-doc totals are exact integer sums. */
  def textBm25(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(split(lower(col("text")), "[^a-z0-9]+")).as("tok"))
      .filter(col("tok") =!= "")
    val tfCols = bmTerms.map(t =>
      sum(when(col("tok") === t, 1L).otherwise(0L)).as(s"tf_$t"))
    // cached: both the stats reduction and the unpivot consume this narrow
    // (doc_id + 7 longs) relation; without the cache the corpus scan + tf
    // aggregate — the expensive part — would run twice
    val perDoc = toks.groupBy("doc_id")
      .agg(count(lit(1)).as("dl"), tfCols: _*)
      .cache()
    val statCols = sum("dl").as("t_tok") +: bmTerms.map(t =>
      sum(when(col(s"tf_$t") > 0, 1L).otherwise(0L)).as(s"df_$t"))
    val stats = perDoc.agg(count(lit(1)).as("n_docs"), statCols: _*)
    val unpiv = perDoc.select(col("doc_id"), col("dl"),
        expr(s"stack(${bmTerms.size}, " +
          bmTerms.map(t => s"'$t', tf_$t").mkString(", ") + ") AS (term, tf)"))
      .filter(col("tf") > 0)
    val dfCol = bmTerms.tail.foldLeft(
        when(col("term") === bmTerms.head, col(s"df_${bmTerms.head}"))) {
      (acc, t) => acc.when(col("term") === t, col(s"df_$t"))
    }
    val scored = unpiv.crossJoin(broadcast(stats))
      .withColumn("idf_milli",
        round(lit(1000.0) * log(lit(1.0) +
          (col("n_docs") - dfCol + lit(0.5)) / (dfCol + lit(0.5)))).cast("long"))
      .withColumn("num", lit(22L) * col("t_tok") * col("tf"))
      .withColumn("den",
        lit(10L) * col("t_tok") * col("tf") + lit(3L) * col("t_tok") +
          lit(9L) * col("dl") * col("n_docs"))
      .withColumn("score_milli",
        expr("(2 * idf_milli * num + den) div (2 * den)"))
    val byDoc = scored.groupBy("doc_id").agg(
      count(lit(1)).as("n_terms"),
      sum("score_milli").as("bm25_milli"))
    val w = Window.orderBy(col("bm25_milli").desc, col("doc_id").asc)
    byDoc.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 50)
      .select("rk", "doc_id", "n_terms", "bm25_milli")
      .orderBy("rk")
  }

  private[operators] val textBm25Sql: String = {
    val termValues = bmTerms.map(t => s"('$t')").mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id, tok
       |  FROM (SELECT doc_id,
       |          unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS tok
       |        FROM documents)
       |  WHERE tok <> ''
       |), per_doc AS (
       |  SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id
       |), stats AS (
       |  SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS t_tok FROM per_doc
       |), tf AS (
       |  SELECT t.doc_id, k.term, count(*) AS tf
       |  FROM toks t JOIN (VALUES $termValues) k(term) ON t.tok = k.term
       |  GROUP BY 1, 2
       |), df AS (
       |  SELECT term, count(*) AS df FROM tf GROUP BY term
       |), scored AS (
       |  SELECT tf.doc_id, tf.term,
       |    round(1000.0 * ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5)))::BIGINT AS idf_milli,
       |    22 * s.t_tok * tf.tf AS num,
       |    10 * s.t_tok * tf.tf + 3 * s.t_tok + 9 * p.dl * s.n_docs AS den
       |  FROM tf
       |  JOIN df USING (term)
       |  JOIN per_doc p ON p.doc_id = tf.doc_id
       |  CROSS JOIN stats s
       |), by_doc AS (
       |  SELECT doc_id, count(*) AS n_terms,
       |    CAST(sum((2 * idf_milli * num + den) // (2 * den)) AS BIGINT) AS bm25_milli
       |  FROM scored GROUP BY doc_id
       |)
       |SELECT CAST(row_number() OVER (ORDER BY bm25_milli DESC, doc_id) AS BIGINT) AS rk,
       |  doc_id, n_terms, bm25_milli
       |FROM by_doc
       |ORDER BY bm25_milli DESC, doc_id
       |LIMIT 50""".stripMargin
  }

  /** DSIR-style importance weighting (Xie et al., "Data Selection via
    * Importance Resampling"): score every document by how target-domain-like
    * it is under hashed-bigram features — weight(doc) = Σ over the doc's
    * bigram occurrences of ln(p_target(bucket)/p_raw(bucket)), with Laplace
    * +1 smoothing over the 2^16 hash buckets. The target domain here is the
    * same deterministic eval slice text_contamination uses (doc_id % 100 = 0).
    *
    * Plan: one corpus scan → cached (doc_id, bucket, is_target) feature
    * relation; BOTH distributions come from ONE hash-aggregate over it
    * (count + conditional count); the λ table is ≤ 65536 rows → broadcast
    * back onto the feature relation. Never more than one wide shuffle.
    *
    * Cross-engine exactness: bucket = first 16 bits of md5(bigram) (portable
    * hex math); λ quantized to centinats from a ratio of exact-integer
    * products (< 2^53, so the doubles divide identically), then per-doc
    * totals are exact integer sums. */
  def textDsirWeight(s: SparkSession, d: String): DataFrame = {
    val rk = Window.orderBy(col("dsir_centi").desc, col("doc_id").asc)
    textDsirScores(s, d).withColumn("rk", row_number().over(rk).cast("long"))
      .filter(col("rk") <= 100)
      .select("rk", "doc_id", "n_feats", "dsir_centi")
      .orderBy("rk")
  }

  /** The full per-document DSIR score relation (no top-k) — the operator
    * core, exposed for spec-level distribution checks. */
  private[graft] def textDsirScores(s: SparkSession, d: String): DataFrame = {
    val doc = Tables.documents(s, d)
    val toks = doc.select(col("doc_id"),
      posexplode(wsTokens(normalizeText(col("text")))).as(Seq("pos", "tok")))
    val feats = kgrams(toks, 2, "bg")
      .select(col("doc_id"),
        conv(substring(md5(col("bg")), 1, 4), 16, 10).cast("long").as("b"),
        (pmod(col("doc_id"), lit(100)) === 0).as("is_target"))
      .cache()
    val counts = feats.groupBy("b").agg(
      count(lit(1)).as("c_raw"),
      sum(when(col("is_target"), 1L).otherwise(0L)).as("c_t"))
    val tot = counts.agg(sum("c_raw").as("t_raw"), sum("c_t").as("t_t"))
    val lam = counts.crossJoin(broadcast(tot))
      .withColumn("lam", round(lit(100.0) * log(
        ((col("c_t") + 1) * (col("t_raw") + 65536L)).cast("double") /
          ((col("c_raw") + 1) * (col("t_t") + 65536L)).cast("double"))).cast("long"))
      .select("b", "lam")
    feats.join(broadcast(lam), "b")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_feats"), sum("lam").as("dsir_centi"))
  }

  private val textDsirWeightSql: String = {
    val bucket = OracleSql.hexPrefix("h", 4)
    s"""WITH ${Dedup.toksCte}, bg AS (
       |  SELECT doc_id, md5(bg) AS h FROM (${kgramsSql("toks", 2, "bg")})
       |), feats AS (
       |  SELECT doc_id, $bucket AS b, doc_id % 100 = 0 AS is_target FROM bg
       |), counts AS (
       |  SELECT b, count(*) AS c_raw,
       |    CAST(sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS c_t
       |  FROM feats GROUP BY b
       |), tot AS (
       |  SELECT CAST(sum(c_raw) AS BIGINT) AS t_raw, CAST(sum(c_t) AS BIGINT) AS t_t
       |  FROM counts
       |), lam AS (
       |  SELECT b, CAST(round(100.0 * ln(
       |      ((c_t + 1) * (t_raw + 65536)) * 1.0 /
       |      ((c_raw + 1) * (t_t + 65536)))) AS BIGINT) AS lam
       |  FROM counts CROSS JOIN tot
       |), by_doc AS (
       |  SELECT doc_id, count(*) AS n_feats, CAST(sum(lam) AS BIGINT) AS dsir_centi
       |  FROM feats JOIN lam USING (b)
       |  GROUP BY doc_id
       |)
       |SELECT CAST(row_number() OVER (ORDER BY dsir_centi DESC, doc_id) AS BIGINT) AS rk,
       |  doc_id, n_feats, dsir_centi
       |FROM by_doc
       |ORDER BY dsir_centi DESC, doc_id
       |LIMIT 100""".stripMargin
  }

  /** Collocation extraction by pointwise mutual information: the top-100
    * bigrams (min support 5) by PMI = ln(p(ab) / (p(a)·p(b))) over the
    * normalized token stream — the vocabulary-analysis step behind
    * multi-word-expression detection and tokenizer-merge candidates.
    *
    * Cross-engine exactness without overflow: c_ab·T1² overflows BIGINT, so
    * PMI is computed as the LN DECOMPOSITION
    *   ln(c_ab) + 2·ln(T1) − ln(T2) − ln(c_a) − ln(c_b)
    * — each ln is taken on an exact integer (same double on both engines)
    * and the five terms combine in identical left-associated expression
    * order, so the final double and its centinat rounding match bit-for-bit.
    *
    * Plan: cached token relation feeds the unigram aggregate and the
    * window-lead bigram aggregate; totals reduce to one broadcast row; the
    * support filter (≥5) runs BEFORE the unigram joins so only surviving
    * bigrams join. At 100 TB the unigram join is a shuffle join on word keys
    * (vocab too big to broadcast) — which is what this plan does. */
  def textPmiCollocations(s: SparkSession, d: String): DataFrame = {
    val doc = Tables.documents(s, d)
    val toks = doc.select(col("doc_id"),
        posexplode(wsTokens(normalizeText(col("text")))).as(Seq("pos", "tok")))
      .cache()
    // cached: the unigram table is consumed by the totals row and BOTH
    // sides of the scoring join
    val uni = toks.groupBy("tok").agg(count(lit(1)).as("c")).cache()
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val bgAll = toks
      .select(col("doc_id"), col("tok"), lead("tok", 1).over(w).as("nxt"))
      .filter(col("nxt").isNotNull)
      .groupBy(col("tok").as("wa"), col("nxt").as("wb"))
      .agg(count(lit(1)).as("c_ab"))
      .cache()
    val tots = bgAll.agg(sum("c_ab").as("t2n"))
      .crossJoin(uni.agg(sum("c").as("t1n")))
    val scored = bgAll.filter(col("c_ab") >= 5)
      .join(uni.select(col("tok"), col("c").as("ca")), col("wa") === col("tok"))
      .drop("tok")
      .join(uni.select(col("tok"), col("c").as("cb")), col("wb") === col("tok"))
      .drop("tok")
      .crossJoin(broadcast(tots))
      .withColumn("pmi_centi",
        round(lit(100.0) * (log(col("c_ab")) + lit(2.0) * log(col("t1n")) -
          log(col("t2n")) - log(col("ca")) - log(col("cb")))).cast("long"))
    val rk = Window.orderBy(col("pmi_centi").desc, col("wa").asc, col("wb").asc)
    scored.withColumn("rk", row_number().over(rk).cast("long"))
      .filter(col("rk") <= 100)
      .select("rk", "wa", "wb", "c_ab", "pmi_centi")
      .orderBy("rk")
  }

  private val textPmiCollocationsSql =
    s"""WITH ${Dedup.toksCte}, tok AS (
       |  SELECT doc_id, unnest(t) AS tok FROM toks
       |), uni AS (
       |  SELECT tok, count(*) AS c FROM tok GROUP BY tok
       |), bg AS (
       |  SELECT t[i] AS wa, t[i+1] AS wb, count(*) AS c_ab
       |  FROM (SELECT doc_id, t, unnest(generate_series(1, array_length(t) - 1)) AS i
       |        FROM toks WHERE array_length(t) >= 2)
       |  GROUP BY 1, 2
       |), tots AS (
       |  SELECT (SELECT CAST(sum(c_ab) AS BIGINT) FROM bg) AS t2n,
       |         (SELECT CAST(sum(c) AS BIGINT) FROM uni) AS t1n
       |), scored AS (
       |  SELECT bg.wa, bg.wb, bg.c_ab,
       |    CAST(round(100.0 * (ln(bg.c_ab) + 2.0 * ln(t.t1n) -
       |      ln(t.t2n) - ln(ua.c) - ln(ub.c))) AS BIGINT) AS pmi_centi
       |  FROM bg
       |  JOIN uni ua ON bg.wa = ua.tok
       |  JOIN uni ub ON bg.wb = ub.tok
       |  CROSS JOIN tots t
       |  WHERE bg.c_ab >= 5
       |)
       |SELECT CAST(row_number() OVER (ORDER BY pmi_centi DESC, wa, wb) AS BIGINT) AS rk,
       |  wa, wb, c_ab, pmi_centi
       |FROM scored
       |ORDER BY pmi_centi DESC, wa, wb
       |LIMIT 100""".stripMargin

  /** Windowed co-occurrence counts (GloVe / word2vec-CBOW statistics, window
    * ±3): for every unordered token pair within 3 positions, the corpus
    * count — the raw material for embedding training and distributional
    * similarity, one rung above the adjacent-bigram PMI table.
    *
    * Plan: NO pair self-join — the 3 offsets come from 3 window leads over
    * ONE doc_id sort (the same exchange every shingle/bigram operator
    * reuses), exploded and counted. Pairs are canonicalized with
    * least/greatest so (a,b) and (b,a) accumulate together; ties at the
    * top-100 boundary break on (w1, w2). */
  def textCooccurrence(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"),
        posexplode(wsTokens(normalizeText(col("text")))).as(Seq("pos", "tok")))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val pairs = toks
      .select(col("tok"),
        lead("tok", 1).over(w).as("n1"),
        lead("tok", 2).over(w).as("n2"),
        lead("tok", 3).over(w).as("n3"))
      .select(col("tok"), explode(array(col("n1"), col("n2"), col("n3"))).as("other"))
      .filter(col("other").isNotNull)
      .select(least(col("tok"), col("other")).as("w1"),
        greatest(col("tok"), col("other")).as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c"))
    val rk = Window.orderBy(col("c").desc, col("w1").asc, col("w2").asc)
    pairs.withColumn("rk", row_number().over(rk).cast("long"))
      .filter(col("rk") <= 100)
      .select("rk", "w1", "w2", "c")
      .orderBy("rk")
  }

  private val textCooccurrenceSql =
    s"""WITH ${Dedup.toksCte}, idx AS (
       |  SELECT t, unnest(generate_series(1, array_length(t))) AS i
       |  FROM toks WHERE array_length(t) >= 2
       |), pr AS (
       |  SELECT least(t[i], t[i + k.o]) AS w1, greatest(t[i], t[i + k.o]) AS w2
       |  FROM idx CROSS JOIN (VALUES (1), (2), (3)) AS k(o)
       |  WHERE i + k.o <= array_length(t)
       |), counts AS (
       |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c FROM pr GROUP BY 1, 2
       |)
       |SELECT CAST(row_number() OVER (ORDER BY c DESC, w1, w2) AS BIGINT) AS rk,
       |  w1, w2, c
       |FROM counts
       |ORDER BY c DESC, w1, w2
       |LIMIT 100""".stripMargin

  /** COUNT-MIN SKETCH frequency estimation (Cormode–Muthukrishnan): a d=4 ×
    * w=256 counter grid where cell (j, b) sums every token whose j-th hash
    * lands in bucket b; a point estimate is the MIN over the 4 rows — never
    * an underestimate, overestimate bounded by collision mass. The sketch's
    * 100 TB property is MERGEABILITY: the grid is a groupBy(j, b) count, so
    * partial grids combine by addition (map-side partials ARE sub-sketches;
    * same algebra as q_histogram_quantiles). The 4×256-row grid then
    * broadcasts to score probes.
    *
    * Probes = the top-20 exact-count tokens; the output records exact vs
    * estimate with the overestimate in basis points — deterministic integers
    * end-to-end (portable md5-prefix hashing), so the APPROXIMATE structure
    * is hash-exactly oracled, like q_kmv_distinct. */
  def textCmsFreq(s: SparkSession, d: String): DataFrame = {
    val depth = 4
    val toks = Tables.documents(s, d)
      .select(explode(wsTokens(normalizeText(col("text")))).as("tok"))
      .cache() // consumed by the exact counts AND the sketch grid
    def bucket(j: Int, tok: Column): Column =
      conv(substring(md5(concat(lit(s"cms$j:"), tok)), 1, 2), 16, 10).cast("long")
    val exact = toks.groupBy("tok").agg(count(lit(1)).as("exact_c"))
    val wTop = Window.orderBy(col("exact_c").desc, col("tok").asc)
    val probes = exact.withColumn("rk", row_number().over(wTop).cast("long"))
      .filter(col("rk") <= 20)
    val sketch = toks
      .select(explode(array((0 until depth).map(j =>
        struct(lit(j.toLong).as("j"), bucket(j, col("tok")).as("b"))): _*)).as("jb"))
      .groupBy(col("jb.j").as("j"), col("jb.b").as("b"))
      .agg(count(lit(1)).as("c"))
    val est = probes
      .select(col("rk"), col("tok"), col("exact_c"),
        explode(array((0 until depth).map(j =>
          struct(lit(j.toLong).as("j"), bucket(j, col("tok")).as("b"))): _*)).as("jb"))
      .join(broadcast(sketch),
        col("jb.j") === col("j") && col("jb.b") === col("b"))
      .groupBy("rk", "tok", "exact_c")
      .agg(min("c").as("est_c"))
    est
      .withColumn("overest_bp",
        expr("(10000 * (est_c - exact_c)) div exact_c"))
      .select("rk", "tok", "exact_c", "est_c", "overest_bp")
      .orderBy("rk")
  }

  private val textCmsFreqSql: String = {
    s"""WITH ${Dedup.toksCte}, tok AS (
       |  SELECT unnest(t) AS tok FROM toks
       |), exact AS (
       |  SELECT tok, count(*) AS exact_c FROM tok GROUP BY tok
       |), probes AS (
       |  SELECT CAST(row_number() OVER (ORDER BY exact_c DESC, tok) AS BIGINT) AS rk,
       |    tok, exact_c
       |  FROM exact
       |  ORDER BY exact_c DESC, tok LIMIT 20
       |), hashed AS (
       |  SELECT tok, j.j, md5('cms' || j.j || ':' || tok) AS h
       |  FROM tok CROSS JOIN (VALUES (0), (1), (2), (3)) AS j(j)
       |), grid AS (
       |  SELECT j, ${OracleSql.hexPrefix("h", 2)} AS b, CAST(count(*) AS BIGINT) AS c
       |  FROM hashed GROUP BY 1, 2
       |), probe_cells AS (
       |  SELECT p.rk, p.tok, p.exact_c, j.j,
       |    md5('cms' || j.j || ':' || p.tok) AS h
       |  FROM probes p CROSS JOIN (VALUES (0), (1), (2), (3)) AS j(j)
       |), est AS (
       |  SELECT rk, tok, exact_c, min(c) AS est_c
       |  FROM probe_cells pc JOIN grid g
       |    ON pc.j = g.j AND ${OracleSql.hexPrefix("h", 2)} = g.b
       |  GROUP BY rk, tok, exact_c
       |)
       |SELECT rk, tok, exact_c, est_c,
       |  CAST((10000 * (est_c - exact_c)) // exact_c AS BIGINT) AS overest_bp
       |FROM est ORDER BY rk""".stripMargin
  }

  /** CORPUS N-GRAM ENTROPY — the information-theoretic corpus-health metric
    * next to the Zipf fit: Shannon entropy of the unigram and bigram
    * distributions plus a redundancy share (1 − H/H_max). Template spam,
    * boilerplate floods and synthetic junk all CRUSH bigram entropy long
    * before they show up in document-level dedup — this is the one-scan
    * screen a pretraining pipeline runs per ingest batch (cf. the
    * compression-ratio/entropy filters of C4/Gopher lineage).
    *
    * Exactness: H = ln N − (Σ c·ln c)/N decomposed so every float op is
    * quantized BEFORE any cross-row sum — each gram contributes
    * c·round(1000·ln c) (an exact integer; the milli-nat idiom of
    * text_bm25/text_zipf_fit), the Σ is over integers (order-independent
    * under any partitioning), and the final div is integer floor division.
    * Scale shape: one (gram) hash-aggregate per order — map-side partial,
    * uniform gram keys — then a one-row reduction; the bigram relation
    * rides the same per-doc window pass the shingle/co-occurrence family
    * uses. */
  def textNgramEntropy(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"),
        posexplode(wsTokens(normalizeText(col("text")))).as(Seq("pos", "tok")))
    val uni = toks.select(col("tok").as("gram"))
    val bi = kgrams(toks, 2, "gram").select("gram")
    def ent(grams: DataFrame, n: Long): DataFrame =
      grams.groupBy("gram").agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("n_distinct"), sum("c").as("total"),
          sum(col("c") * round(log(col("c")) * 1000).cast("long")).as("clnc"))
        .select(lit(n).as("n"), col("n_distinct"), col("total"),
          (round(log(col("total")) * 1000).cast("long") -
            expr("clnc div total")).as("entropy_milli"))
    ent(uni, 1L).unionAll(ent(bi, 2L))
      .withColumn("max_entropy_milli",
        round(log(col("n_distinct")) * 1000).cast("long"))
      .withColumn("redundancy_bp",
        expr("10000 - (10000 * entropy_milli) div greatest(max_entropy_milli, 1)"))
      .orderBy("n")
  }

  private val textNgramEntropySql =
    s"""WITH ${Dedup.toksCte}, uni AS (
       |  SELECT unnest(t) AS gram FROM toks
       |), bi AS (
       |  SELECT gram FROM (${kgramsSql("toks", 2, "gram")})
       |), e1 AS (
       |  SELECT CAST(1 AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS n_distinct,
       |    CAST(sum(c) AS BIGINT) AS total,
       |    CAST(sum(c * CAST(round(ln(c) * 1000) AS BIGINT)) AS BIGINT) AS clnc
       |  FROM (SELECT gram, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY gram)
       |), e2 AS (
       |  SELECT CAST(2 AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS n_distinct,
       |    CAST(sum(c) AS BIGINT) AS total,
       |    CAST(sum(c * CAST(round(ln(c) * 1000) AS BIGINT)) AS BIGINT) AS clnc
       |  FROM (SELECT gram, CAST(count(*) AS BIGINT) AS c FROM bi GROUP BY gram)
       |), u AS (SELECT * FROM e1 UNION ALL SELECT * FROM e2),
       |h AS (
       |  SELECT n, n_distinct, total,
       |    CAST(round(ln(total) * 1000) AS BIGINT) - (clnc // total) AS entropy_milli,
       |    CAST(round(ln(n_distinct) * 1000) AS BIGINT) AS max_entropy_milli
       |  FROM u
       |)
       |SELECT n, n_distinct, total, entropy_milli, max_entropy_milli,
       |  CAST(10000 - (10000 * entropy_milli) // greatest(max_entropy_milli, 1)
       |    AS BIGINT) AS redundancy_bp
       |FROM h ORDER BY n""".stripMargin

  /** Zipf-law fit over the token frequency table — the vocabulary-health
    * statistic (natural corpora fit slope ≈ −1; template spam and synthetic
    * junk deviate hard): least-squares slope of ln(freq) on ln(rank), plus
    * the top-rank share. Determinism recipe: ranks break ties on token;
    * each ln quantizes to an exact centi-nat BIGINT BEFORE the sums (Σ over
    * integers is order-independent — raw double Σ would be partition-order
    * dependent); the closed-form slope then divides two exact int64s (the
    * n·Σxy − Σx·Σy cross terms stay < 2^63 at centi-nat scale), rounded to
    * 6 dp.
    *
    * Plan shape (r6): the regression only needs the top-1000 ranks, so the
    * rank filter comes FIRST — Spark rewrites filter(rk ≤ 1000) over an
    * unpartitioned row_number into TakeOrderedAndProject, the map-side
    * partial top-k, and only 1000 rows ever reach the window. The totals
    * (Σc, max c) come from a separate partial aggregate over the frequency
    * relation. Before this split the WHOLE vocabulary sorted on a single
    * partition (the rank was consumed inside aggregate CASEs, invisible to
    * the rewrite) — the one genuine scale hazard the r5 plan audit found. */
  def textZipfFit(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(explode(wsTokens(normalizeText(col("text")))).as("tok"))
    val freq = toks.groupBy("tok").agg(count(lit(1)).as("c"))
    val w = Window.orderBy(col("c").desc, col("tok").asc)
    // regression over the top-1000 ranks only: the freq-1 tail is tie-noise
    // (classic Zipf head-fit practice), and the cap bounds every int64 cross
    // term at ANY corpus size; share/total still see everything
    val top = freq
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 1000) // → TakeOrderedAndProject below the window
      // (cap must stay <= spark.sql.optimizer.windowGroupLimitThreshold = 1000
      //  or the rewrite silently degrades to the full single-partition sort)
      .withColumn("x", round(log(col("rk").cast("double")) * 100).cast("long"))
      .withColumn("y", round(log(col("c").cast("double")) * 100).cast("long"))
    val reg = top.agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      max(when(col("rk") === 1, col("c"))).as("top_c"))
    val totals = freq.agg(sum("c").as("total_c"))
    reg.crossJoin(totals) // two 1-row aggregates
      .select(col("n"),
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"), 6)
          .as("zipf_slope"),
        expr("(10000 * top_c) div total_c").as("top_share_bp"),
        col("total_c").as("n_tokens"))
  }

  private val textZipfFitSql =
    s"""WITH ${Dedup.toksCte}, tok AS (
       |  SELECT unnest(t) AS tok FROM toks
       |), freq AS (
       |  SELECT tok, count(*) AS c FROM tok GROUP BY tok
       |), ranked AS (
       |  SELECT c, CAST(row_number() OVER (ORDER BY c DESC, tok) AS BIGINT) AS rk,
       |    CAST(round(ln(CAST(row_number() OVER (ORDER BY c DESC, tok) AS DOUBLE)) * 100) AS BIGINT) AS x,
       |    CAST(round(ln(c * 1.0) * 100) AS BIGINT) AS y
       |  FROM freq
       |), sums AS (
       |  SELECT CAST(sum(CASE WHEN rk <= 1000 THEN 1 ELSE 0 END) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN rk <= 1000 THEN x ELSE 0 END) AS BIGINT) AS sx,
       |    CAST(sum(CASE WHEN rk <= 1000 THEN y ELSE 0 END) AS BIGINT) AS sy,
       |    CAST(sum(CASE WHEN rk <= 1000 THEN x * y ELSE 0 END) AS BIGINT) AS sxy,
       |    CAST(sum(CASE WHEN rk <= 1000 THEN x * x ELSE 0 END) AS BIGINT) AS sxx,
       |    CAST(max(CASE WHEN rk = 1 THEN c END) AS BIGINT) AS top_c,
       |    CAST(sum(c) AS BIGINT) AS total_c
       |  FROM ranked
       |)
       |SELECT n,
       |  round((n * sxy - sx * sy) * 1.0 / (n * sxx - sx * sx), 6) AS zipf_slope,
       |  CAST((10000 * top_c) // total_c AS BIGINT) AS top_share_bp,
       |  total_c AS n_tokens
       |FROM sums""".stripMargin

  /** FEATURE HASHING (the hashing trick, Weinberger et al.): every token
    * hashes to one of 64 dimensions with a ±1 sign, giving each document a
    * fixed-width integer feature vector with NO vocabulary table — the
    * embedding-free featurizer for classifiers/dedup at 100 TB (no global
    * dictionary to build, ship, or skew). Exact integers end-to-end
    * (md5-prefix dim, md5-nibble sign), so fully oracled. Output is the
    * per-doc sparse summary (nnz / L1 / dominant dim with deterministic
    * ties) — scalar columns, as the driver compare requires. */
  def textFeatureHashing(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(wsTokens(normalizeText(col("text")))).as("tok"))
      .withColumn("h", md5(col("tok")))
      .select(col("doc_id"),
        pmod(conv(substring(col("h"), 1, 2), 16, 10).cast("long"), lit(64L)).as("dim"),
        when(conv(substring(col("h"), 3, 1), 16, 10).cast("long") < 8, lit(1L))
          .otherwise(lit(-1L)).as("sgn"))
    val dims = toks.groupBy("doc_id", "dim").agg(sum("sgn").as("v"))
      .filter(col("v") =!= 0)
    val w = Window.partitionBy("doc_id").orderBy(abs(col("v")).desc, col("dim").asc)
    dims
      .withColumn("rk", row_number().over(w))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("nnz"),
        sum(abs(col("v"))).as("l1"),
        max(when(col("rk") === 1, col("dim"))).as("top_dim"),
        max(when(col("rk") === 1, abs(col("v")))).as("top_abs"))
      .orderBy("doc_id")
  }

  private val textFeatureHashingSql =
    s"""WITH ${Dedup.toksCte}, tok AS (
       |  SELECT doc_id, md5(unnest(t)) AS h FROM toks
       |), feats AS (
       |  SELECT doc_id,
       |    ${OracleSql.hexPrefix("h", 2)} AS raw,
       |    CASE WHEN ${OracleSql.hexPrefix("substr(h, 3, 1)", 1)} < 8
       |         THEN 1 ELSE -1 END AS sgn
       |  FROM tok
       |), dims AS (
       |  SELECT doc_id, raw % 64 AS dim, CAST(sum(sgn) AS BIGINT) AS v
       |  FROM feats GROUP BY 1, 2
       |  HAVING sum(sgn) <> 0
       |), ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id
       |    ORDER BY abs(v) DESC, dim) AS rk
       |  FROM dims
       |)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS nnz,
       |  CAST(sum(abs(v)) AS BIGINT) AS l1,
       |  max(CASE WHEN rk = 1 THEN dim END) AS top_dim,
       |  max(CASE WHEN rk = 1 THEN abs(v) END) AS top_abs
       |FROM ranked
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Lexical diversity (type-token ratio) per document: distinct tokens over
    * total tokens in basis points, plus a hapax share (tokens occurring
    * once) — the curation screen that separates natural prose from keyword
    * stuffing and template spam (both depress TTR) at the opposite end from
    * text_repetition's span rules. One token scan → one (doc, tok)
    * aggregate → one per-doc rollup, all exact integers. */
  def textTypeTokenRatio(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(wsTokens(normalizeText(col("text")))).as("tok"))
    toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .withColumn("ttr_bp", expr("(10000 * n_types) div n_tokens"))
      .withColumn("hapax_bp", expr("(10000 * n_hapax) div n_types"))
      .orderBy("doc_id")
  }

  private val textTypeTokenRatioSql =
    s"""WITH ${Dedup.toksCte}, tok AS (
       |  SELECT doc_id, unnest(t) AS tok FROM toks
       |), tf AS (
       |  SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2
       |)
       |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
       |  CAST(count(*) AS BIGINT) AS n_types,
       |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       |  CAST((10000 * count(*)) // sum(c) AS BIGINT) AS ttr_bp,
       |  CAST((10000 * sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)) // count(*) AS BIGINT) AS hapax_bp
       |FROM tf GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Sentence segmentation stats — the preprocessing grain between document
    * and token that chunkers, context-window packers, and readability
    * screens all key on. RE2-safe split on terminal-punctuation runs (no
    * lookbehind — DuckDB's RE2 has none), whitespace-trimmed, empties
    * dropped; per-doc sentence count, exact centichar mean length
    * (2·100·Σ+n)/(2n), and max length. One scan, explode, one doc_id
    * hash-aggregate with map-side partials — no shuffle beyond the group.
    *
    * Fixture note: the generated corpus carries no punctuation at all, so
    * boundaries are synthesized first — every ` the ` becomes `. ` via a
    * LITERAL (non-regex) replace with identical left-to-right semantics in
    * both engines. That gives real multi-sentence structure (the split,
    * trim, and empty-drop paths all fire) while staying deterministic. */
  def textSentenceSplit(s: SparkSession, d: String): DataFrame = {
    val sent = wsTrim(col("raw_sent"))
    Tables.documents(s, d)
      .select(col("doc_id"),
        explode(split(expr("replace(text, ' the ', '. ')"), "[.!?]+")).as("raw_sent"))
      .select(col("doc_id"), sent.as("sent"))
      .filter(length(col("sent")) > 0)
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_sentences"),
        expr("(2 * 100 * sum(length(sent)) + count(1)) div (2 * count(1))")
          .as("mean_len_centichars"),
        max(length(col("sent"))).cast("long").as("max_len"))
      .orderBy("doc_id")
  }

  private val textSentenceSplitSql =
    s"""WITH raw AS (
      |  SELECT doc_id,
      |    unnest(regexp_split_to_array(replace(text, ' the ', '. '), '[.!?]+')) AS raw_sent
      |  FROM documents
      |), sents AS (
      |  SELECT doc_id, ${wsTrimSql("raw_sent")} AS sent FROM raw
      |)
      |SELECT doc_id,
      |  count(*) AS n_sentences,
      |  CAST((2 * 100 * sum(length(sent)) + count(*)) // (2 * count(*)) AS BIGINT)
      |    AS mean_len_centichars,
      |  CAST(max(length(sent)) AS BIGINT) AS max_len
      |FROM sents
      |WHERE length(sent) > 0
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // text_nb_classifier — SUPERVISED multinomial Naive Bayes, trained and
  // scored entirely as relational algebra: even doc_ids train per-language
  // token likelihoods (Laplace add-1 over the training vocabulary), odd
  // doc_ids are scored argmin Σ −ln p(tok|lang) − ln p(lang), and the
  // output is the (actual, predicted) confusion matrix. This is the
  // label-supervised rung above text_langid's fixed heuristic: the model
  // IS a DataFrame, so training scales as one (lang, tok) hash-aggregate
  // and scoring as one token-keyed shuffle join — no parameter server, no
  // driver-side model state.
  //
  // Scale shape: likelihoods stay partitioned by token (vocab² never
  // broadcast); the |langs|× fan-out of the test token stream is the
  // standard NB scoring cost; per-lang constants (denominator, unseen
  // floor, prior) are a |langs|-row broadcast. Parity: per-token centinat
  // quantization → exact integer doc sums (the unigram-logprob contract);
  // argmin ties break to the alphabetically-first language identically in
  // both engines.
  // ---------------------------------------------------------------------

  def textNbClassifier(s: SparkSession, d: String): DataFrame =
    nbClassifierOn(Tables.documents(s, d).select("doc_id", "lang", "text"))

  /** NB core over any (doc_id, lang, text) relation — lets specs train on a
    * synthetic corpus with KNOWN class signal (the driver corpus's lang
    * labels are label-shuffled noise, so accuracy there proves nothing). */
  private[graft] def nbClassifierOn(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), col("lang"),
        explode(wsTokens(col("text"))).as("tok"))
    val train = toks.filter(col("doc_id") % 2 === 0)
    val test = toks.filter(col("doc_id") % 2 === 1)

    val clt = train.groupBy("lang", "tok").agg(count(lit(1)).as("c"))
    val tl = clt.groupBy("lang").agg(sum("c").as("t_l"))
    val vocabN = clt.select("tok").distinct().agg(count(lit(1)).as("v"))
    // per-language model constants: smoothing denominator + unseen floor
    val langs = tl.crossJoin(broadcast(vocabN))
      .select(col("lang").as("mlang"), (col("t_l") + col("v")).as("denom"))
      .withColumn("floor_cn", round(log(col("denom")) * 100).cast("long"))
    val loglik = clt.join(broadcast(langs), col("lang") === col("mlang"))
      .select(col("mlang"), col("tok"),
        round(-log((col("c") + 1) / col("denom")) * 100).cast("long").as("ll_cn"))
    val trainDocs = docs.filter(col("doc_id") % 2 === 0)
      .groupBy("lang").agg(count(lit(1)).as("dn"))
    val prior = trainDocs.crossJoin(broadcast(trainDocs.agg(sum("dn").as("dt"))))
      .select(col("lang").as("mlang"),
        round(-log(col("dn") / col("dt")) * 100).cast("long").as("prior_cn"))

    val scoredToks = test
      .crossJoin(broadcast(langs.select("mlang", "floor_cn")))
      .join(loglik, Seq("mlang", "tok"), "left")
      .select(col("doc_id"), col("lang"), col("mlang"),
        coalesce(col("ll_cn"), col("floor_cn")).as("cn"))
    val docScores = scoredToks.groupBy("doc_id", "lang", "mlang")
      .agg(sum("cn").as("sum_cn"))
      .join(broadcast(prior), "mlang")
      .withColumn("score", col("sum_cn") + col("prior_cn"))
    docScores.groupBy("doc_id", "lang")
      .agg(min_by(col("mlang"), struct(col("score"), col("mlang"))).as("pred_lang"))
      .groupBy(col("lang").as("actual_lang"), col("pred_lang"))
      .agg(count(lit(1)).cast("long").as("n_docs"))
      .orderBy("actual_lang", "pred_lang")
  }

  private val textNbClassifierSql =
    s"""WITH t2 AS (
      |  SELECT doc_id, lang, unnest(${wsTokensSql("text")}) AS tok FROM documents
      |), train AS (
      |  SELECT * FROM t2 WHERE doc_id % 2 = 0
      |), test AS (
      |  SELECT * FROM t2 WHERE doc_id % 2 = 1
      |), clt AS (
      |  SELECT lang, tok, count(*) AS c FROM train GROUP BY lang, tok
      |), tl AS (
      |  SELECT lang, CAST(sum(c) AS BIGINT) AS t_l FROM clt GROUP BY lang
      |), vn AS (
      |  SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v FROM clt
      |), langs AS (
      |  SELECT lang AS mlang, t_l + v AS denom,
      |    CAST(round(ln(t_l + v) * 100) AS BIGINT) AS floor_cn
      |  FROM tl, vn
      |), ll AS (
      |  SELECT l.mlang, c.tok,
      |    CAST(round(-ln((c.c + 1) * 1.0 / l.denom) * 100) AS BIGINT) AS ll_cn
      |  FROM clt c JOIN langs l ON c.lang = l.mlang
      |), td AS (
      |  SELECT lang, count(*) AS dn FROM documents WHERE doc_id % 2 = 0
      |  GROUP BY lang
      |), pr AS (
      |  SELECT lang AS mlang,
      |    CAST(round(-ln(dn * 1.0 / (SELECT sum(dn) FROM td)) * 100) AS BIGINT)
      |      AS prior_cn
      |  FROM td
      |), st AS (
      |  SELECT t.doc_id, t.lang, l.mlang,
      |    coalesce(ll.ll_cn, l.floor_cn) AS cn
      |  FROM test t CROSS JOIN langs l
      |  LEFT JOIN ll ON ll.mlang = l.mlang AND ll.tok = t.tok
      |), sc AS (
      |  SELECT st.doc_id, st.lang, st.mlang,
      |    CAST(CAST(sum(st.cn) AS BIGINT) + max(pr.prior_cn) AS BIGINT) AS score
      |  FROM st JOIN pr ON pr.mlang = st.mlang
      |  GROUP BY st.doc_id, st.lang, st.mlang
      |), pred AS (
      |  SELECT doc_id, lang, mlang AS pred_lang FROM (
      |    SELECT doc_id, lang, mlang,
      |      row_number() OVER (PARTITION BY doc_id ORDER BY score, mlang) AS rk
      |    FROM sc
      |  ) WHERE rk = 1
      |)
      |SELECT lang AS actual_lang, pred_lang,
      |  CAST(count(*) AS BIGINT) AS n_docs
      |FROM pred GROUP BY lang, pred_lang
      |ORDER BY actual_lang, pred_lang""".stripMargin

  // ---------------------------------------------------------------------
  // text_backoff_lm — STUPID BACKOFF trigram scoring (Brants et al. 2007,
  // the canonical distributed-LM recipe: no normalization, a fixed 0.4
  // penalty per backoff level, counts good enough at corpus scale). Even
  // doc_ids train raw 1/2/3-gram counts; each odd-doc token at position
  // ≥ 2 is scored at the deepest level its context survives:
  //   trigram seen:  S = c(w1w2w3)/c(w1w2)
  //   bigram seen:   S = 0.4 · c(w2w3)/c(w2)
  //   unigram seen:  S = 0.16 · c(w3)/T
  //   else (OOV):    S = 0.16 · 1/(T+V)
  // Output keeps the per-level usage counts — the level mix is the
  // model-coverage diagnostic a perplexity filter monitors.
  //
  // Scale shape: count tables stay partitioned by their token keys and
  // the scoring pass is three LEFT shuffle joins on those keys (n-gram
  // tables at real scale dwarf memory — exactly why Brants built this on
  // MapReduce); only T and V broadcast. Parity: the 0.4/0.16 penalty
  // literals and the multiply/divide ORDER are written identically in
  // both engines, then per-token centinat quantization → integer sums
  // (the unigram-logprob contract).
  // ---------------------------------------------------------------------

  def textBackoffLm(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"),
        posexplode(wsTokens(col("text"))).as(Seq("pos", "tok")))
    val train = toks.filter(col("doc_id") % 2 === 0)
    val w = Window.partitionBy("doc_id").orderBy("pos")
    def grams(rel: DataFrame): DataFrame = rel
      .select(col("doc_id"), col("tok").as("w1"),
        lead("tok", 1).over(w).as("w2"), lead("tok", 2).over(w).as("w3"))
    val tg = grams(train)
    val c3 = tg.filter(col("w3").isNotNull)
      .groupBy("w1", "w2", "w3").agg(count(lit(1)).as("c3"))
    val c2 = tg.filter(col("w2").isNotNull)
      .groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val c1 = train.groupBy("tok").agg(count(lit(1)).as("c1"))
    val tv = c1.agg(sum("c1").as("t_tot"), count(lit(1)).as("v_sz"))

    val testTg = grams(toks.filter(col("doc_id") % 2 === 1))
      .filter(col("w3").isNotNull)
    val scored = testTg
      .join(c3, Seq("w1", "w2", "w3"), "left")
      .join(c2.select(col("w1").as("p1"), col("w2").as("p2"), col("c2").as("cpre")),
        col("w1") === col("p1") && col("w2") === col("p2"), "left")
      .join(c2.select(col("w1").as("b1"), col("w2").as("b2"), col("c2").as("cbi")),
        col("w2") === col("b1") && col("w3") === col("b2"), "left")
      .join(c1.select(col("tok").as("u2"), col("c1").as("cu2")),
        col("w2") === col("u2"), "left")
      .join(c1.select(col("tok").as("u3"), col("c1").as("cu3")),
        col("w3") === col("u3"), "left")
      .crossJoin(broadcast(tv))
      .withColumn("level",
        when(col("c3").isNotNull, "tri")
          .when(col("cbi").isNotNull, "bi")
          .when(col("cu3").isNotNull, "uni")
          .otherwise("oov"))
      .withColumn("s_prob",
        when(col("level") === "tri", col("c3") / col("cpre"))
          .when(col("level") === "bi", lit(0.4) * (col("cbi") / col("cu2")))
          .when(col("level") === "uni", lit(0.16) * (col("cu3") / col("t_tot")))
          .otherwise(lit(0.16) * (lit(1.0) / (col("t_tot") + col("v_sz")))))
      .select(col("doc_id"), col("level"),
        round(-log(col("s_prob")) * 100).cast("long").as("surp"))
    scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_scored"),
        sum("surp").as("sum_surp"),
        sum(when(col("level") === "tri", 1L).otherwise(0L)).as("n_tri"),
        sum(when(col("level") === "bi", 1L).otherwise(0L)).as("n_bi"),
        sum(when(col("level") === "uni", 1L).otherwise(0L)).as("n_uni"),
        sum(when(col("level") === "oov", 1L).otherwise(0L)).as("n_oov"))
      .withColumn("avg_surprisal_cn", expr("sum_surp div n_scored"))
      .orderBy("doc_id")
  }

  private val textBackoffLmSql =
    s"""WITH raw AS (
      |  SELECT doc_id, ${wsTokensSql("text")} AS t
      |  FROM documents
      |), tk AS (
      |  SELECT doc_id, i, t[i] AS tok
      |  FROM (SELECT doc_id, t, unnest(generate_series(1, array_length(t))) AS i
      |        FROM raw)
      |), gr AS (
      |  SELECT doc_id, tok AS w1,
      |    lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY i) AS w2,
      |    lead(tok, 2) OVER (PARTITION BY doc_id ORDER BY i) AS w3
      |  FROM tk
      |), tg AS (SELECT * FROM gr WHERE doc_id % 2 = 0),
      |c3 AS (
      |  SELECT w1, w2, w3, count(*) AS c3 FROM tg WHERE w3 IS NOT NULL
      |  GROUP BY w1, w2, w3
      |), c2 AS (
      |  SELECT w1, w2, count(*) AS c2 FROM tg WHERE w2 IS NOT NULL
      |  GROUP BY w1, w2
      |), c1 AS (
      |  SELECT tok, count(*) AS c1 FROM tk WHERE doc_id % 2 = 0 GROUP BY tok
      |), tv AS (
      |  SELECT CAST(sum(c1) AS BIGINT) AS t_tot,
      |    CAST(count(*) AS BIGINT) AS v_sz
      |  FROM c1
      |), scored AS (
      |  SELECT g.doc_id,
      |    CASE WHEN c3.c3 IS NOT NULL THEN 'tri'
      |         WHEN cb.c2 IS NOT NULL THEN 'bi'
      |         WHEN u3.c1 IS NOT NULL THEN 'uni'
      |         ELSE 'oov' END AS level,
      |    CAST(round(-ln(
      |      CASE WHEN c3.c3 IS NOT NULL THEN c3.c3 / cp.c2
      |           WHEN cb.c2 IS NOT NULL THEN 0.4 * (cb.c2 / u2.c1)
      |           WHEN u3.c1 IS NOT NULL THEN 0.16 * (u3.c1 / tv.t_tot)
      |           ELSE 0.16 * (1.0 / (tv.t_tot + tv.v_sz)) END
      |    ) * 100) AS BIGINT) AS surp
      |  FROM (SELECT * FROM gr WHERE doc_id % 2 = 1 AND w3 IS NOT NULL) g
      |  LEFT JOIN c3 ON c3.w1 = g.w1 AND c3.w2 = g.w2 AND c3.w3 = g.w3
      |  LEFT JOIN c2 cp ON cp.w1 = g.w1 AND cp.w2 = g.w2
      |  LEFT JOIN c2 cb ON cb.w1 = g.w2 AND cb.w2 = g.w3
      |  LEFT JOIN c1 u2 ON u2.tok = g.w2
      |  LEFT JOIN c1 u3 ON u3.tok = g.w3
      |  CROSS JOIN tv
      |)
      |SELECT doc_id,
      |  CAST(count(*) AS BIGINT) AS n_scored,
      |  CAST(sum(surp) AS BIGINT) AS sum_surp,
      |  CAST(sum(CASE WHEN level = 'tri' THEN 1 ELSE 0 END) AS BIGINT) AS n_tri,
      |  CAST(sum(CASE WHEN level = 'bi' THEN 1 ELSE 0 END) AS BIGINT) AS n_bi,
      |  CAST(sum(CASE WHEN level = 'uni' THEN 1 ELSE 0 END) AS BIGINT) AS n_uni,
      |  CAST(sum(CASE WHEN level = 'oov' THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
      |  CAST(sum(surp) // count(*) AS BIGINT) AS avg_surprisal_cn
      |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // text_rake — RAKE keyword extraction (Rose et al. 2010): candidate
  // phrases are maximal stopword-free token runs (capped at 4 words, the
  // standard RAKE practice); each word scores degree/frequency where
  // degree sums the lengths of phrases containing it; a phrase scores the
  // sum of its member-word scores. The unsupervised keyword/keyphrase
  // primitive for corpus labeling and index enrichment.
  //
  // Exactness: deg and freq are exact counts; word score is one
  // truncating micro-div; phrase score sums those BIGINTs. The top-20 cut
  // ranks (score desc, phrase asc) — fully deterministic.
  //
  // Scale shape: token explode → run-grouping via the pos − row_number
  // gap trick (two windows per doc partition) → two hash-aggregates
  // (word stats, phrase counts). The final rank is a WindowGroupLimit-
  // eligible global top-k (guarded in PlanSpec).
  // ---------------------------------------------------------------------
  def textRake(s: SparkSession, d: String): DataFrame = {
    val stops = Seq("a", "an", "the", "of", "and", "to", "in", "is", "for",
      "on", "at", "by", "with")
    val toks = Tables.documents(s, d)
      .select(col("doc_id"),
        posexplode(wsTokens(col("text"))).as(Seq("pos", "tok")))
    val nonstop = toks.filter(!col("tok").isInCollection(stops))
      .withColumn("rn",
        row_number().over(Window.partitionBy("doc_id").orderBy("pos")))
      .withColumn("grp", col("pos") - col("rn"))
    val members = nonstop
      .withColumn("len",
        count(lit(1)).over(Window.partitionBy("doc_id", "grp")))
      .filter(col("len") <= 4)
      .cache()
    val wordStats = members.groupBy("tok")
      .agg(count(lit(1)).as("freq"), sum("len").as("deg"))
      .select(col("tok").as("w"),
        expr("(1000000 * deg) div freq").as("wscore_micro"))
    val phrases = members.groupBy("doc_id", "grp")
      .agg(concat_ws(" ", transform(
        sort_array(collect_list(struct(col("pos"), col("tok")))),
        x => x.getField("tok"))).as("phrase"))
      .groupBy("phrase").agg(count(lit(1)).as("n_occ"))
    val scored = phrases
      .select(col("phrase"), col("n_occ"),
        posexplode(split(col("phrase"), " ")).as(Seq("wp", "w")))
      .join(broadcast(wordStats), "w")
      .groupBy("phrase", "n_occ")
      .agg(sum("wscore_micro").as("score_micro"))
    val wTop = Window.orderBy(col("score_micro").desc, col("phrase").asc)
    scored.withColumn("rk", row_number().over(wTop).cast("long"))
      .filter(col("rk") <= 20)
      .select(col("rk"), col("phrase"), col("n_occ"), col("score_micro"))
      .orderBy("rk")
  }

  private val textRakeSql =
    s"""WITH raw AS (
      |  SELECT doc_id, ${wsTokensSql("text")} AS t
      |  FROM documents
      |), tk AS (
      |  SELECT doc_id, i, t[i] AS tok
      |  FROM (SELECT doc_id, t, unnest(generate_series(1, array_length(t))) AS i
      |        FROM raw)
      |), ns AS (
      |  SELECT doc_id, i, tok,
      |    i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
      |  FROM tk
      |  WHERE tok NOT IN ('a', 'an', 'the', 'of', 'and', 'to', 'in', 'is',
      |                    'for', 'on', 'at', 'by', 'with')
      |), mem AS (
      |  SELECT doc_id, i, tok, grp,
      |    count(*) OVER (PARTITION BY doc_id, grp) AS len
      |  FROM ns
      |), mem4 AS (
      |  SELECT * FROM mem WHERE len <= 4
      |), ws AS (
      |  SELECT tok AS w,
      |    CAST((1000000 * sum(len)) // count(*) AS BIGINT) AS wscore_micro
      |  FROM mem4 GROUP BY tok
      |), ph AS (
      |  SELECT doc_id, grp, string_agg(tok, ' ' ORDER BY i) AS phrase
      |  FROM mem4 GROUP BY doc_id, grp
      |), pc AS (
      |  SELECT phrase, CAST(count(*) AS BIGINT) AS n_occ FROM ph GROUP BY phrase
      |), pw AS (
      |  SELECT phrase, n_occ, unnest(string_split(phrase, ' ')) AS w FROM pc
      |), sc AS (
      |  SELECT phrase, n_occ, CAST(sum(ws.wscore_micro) AS BIGINT) AS score_micro
      |  FROM pw JOIN ws USING (w) GROUP BY phrase, n_occ
      |)
      |SELECT CAST(row_number() OVER (ORDER BY score_micro DESC, phrase)
      |    AS BIGINT) AS rk, phrase, n_occ, score_micro
      |FROM sc ORDER BY rk LIMIT 20""".stripMargin

  // ---------------------------------------------------------------------
  // text_tfidf_top — per-document TF-IDF keywords: each doc's top-5 terms
  // by tf·idf with smoothed idf_milli = round(1000·ln((N+1)/(df+1))). The
  // per-doc keyword labeler (RAKE's corpus-global sibling) and the
  // classic sparse-retrieval weight next to text_bm25's query scorer.
  //
  // Determinism: idf is ONE shared double ln quantized to milli (bm25
  // precedent); scores are then integer products; the per-doc top-5
  // ranks (score desc, tok asc).
  //
  // Scale shape: one token-explode aggregate to (doc, tok, tf); df and N
  // are corpus aggregates broadcast back; the top-5 is a PARTITIONED
  // rank window — WindowGroupLimit applies per doc, nothing global.
  // ---------------------------------------------------------------------
  def textTfidfTop(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(wsTokens(col("text"))).as("tok"))
    val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf")).cache()
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val n = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(broadcast(df), "tok")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("tok"), col("tf"),
        expr("CAST(round(1000 * ln((n_docs + 1) / (df + 1.0))) AS BIGINT)")
          .as("idf_milli"))
      .withColumn("score_milli", col("tf") * col("idf_milli"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score_milli").desc, col("tok").asc)
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 5)
      .select(col("doc_id"), col("rk"), col("tok"), col("tf"),
        col("idf_milli"), col("score_milli"))
      .orderBy("doc_id", "rk")
  }

  private val textTfidfTopSql =
    s"""WITH toks AS (
      |  SELECT doc_id, unnest(${wsTokensSql("text")}) AS tok
      |  FROM documents
      |), tf AS (
      |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      |  FROM toks GROUP BY doc_id, tok
      |), df AS (
      |  SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok
      |), n AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
      |), scored AS (
      |  SELECT tf.doc_id, tf.tok, tf.tf,
      |    CAST(round(1000 * ln((n.n_docs + 1) / (df.df + 1.0))) AS BIGINT)
      |      AS idf_milli
      |  FROM tf JOIN df USING (tok) CROSS JOIN n
      |), rk AS (
      |  SELECT doc_id, tok, tf, idf_milli, tf * idf_milli AS score_milli,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY tf * idf_milli DESC, tok) AS rk
      |  FROM scored
      |)
      |SELECT doc_id, CAST(rk AS BIGINT) AS rk, tok, tf, idf_milli, score_milli
      |FROM rk WHERE rk <= 5
      |ORDER BY doc_id, rk""".stripMargin

  /** Per-document n-gram NOVELTY against the whole corpus: the share of a
    * document's distinct word trigrams whose corpus-FIRST occurrence (by
    * doc_id) is this document — the memorization/contribution profile a
    * pretraining curator reads before keeping a near-duplicate-heavy
    * source. Shape: window-lead trigrams (no self-join), distinct at
    * (doc, ngram) grain, one hash-aggregate per ngram for the first-doc
    * relation, one shuffle-join back on the ngram key. All relations are
    * ngram-grain — never pairwise — so it scales like the inverted index,
    * not like dedup. */
  def textNovelty(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"),
        posexplode(wsTokens(normalizeText(col("text")))).as(Seq("pos", "tok")))
    val ngrams = kgrams(toks, 3, "ng").distinct()
    val first = ngrams.groupBy("ng").agg(min("doc_id").as("first_doc"))
    ngrams.join(first, Seq("ng"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_ngrams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty_bp", expr("(10000 * n_novel) div n_ngrams"))
      .orderBy("doc_id")
  }

  private val textNoveltySql =
    s"""WITH ${Dedup.toksCte}, ngr AS (
       |  SELECT DISTINCT * FROM (${kgramsSql("toks", 3, "ng")})
       |), fst AS (
       |  SELECT ng, min(doc_id) AS first_doc FROM ngr GROUP BY ng
       |)
       |SELECT ngr.doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
       |  CAST(sum(CASE WHEN fst.first_doc = ngr.doc_id THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_novel,
       |  CAST((10000 * sum(CASE WHEN fst.first_doc = ngr.doc_id THEN 1 ELSE 0 END))
       |    // count(*) AS BIGINT) AS novelty_bp
       |FROM ngr JOIN fst USING (ng)
       |GROUP BY ngr.doc_id ORDER BY doc_id""".stripMargin

  /** Classifier EVALUATION as a relational aggregate: the langid
    * heuristic's confusion matrix against the corpus's labeled `lang`
    * column — per (actual, predicted) cell count and row-share in basis
    * points (the diagonal cells are per-class recall). The eval is one
    * tiny aggregate over the per-doc prediction relation; at 100 TB the
    * matrix stays |langs|² rows however big the corpus. */
  def textLangidEval(s: SparkSession, d: String): DataFrame = {
    val cells = textLangid(s, d)
      .groupBy("actual_lang", "predicted_lang").agg(count(lit(1)).as("n"))
    cells
      .withColumn("row_total", sum("n").over(Window.partitionBy("actual_lang")))
      .withColumn("cell_bp", expr("(10000 * n) div row_total"))
      .select("actual_lang", "predicted_lang", "n", "cell_bp")
      .orderBy("actual_lang", "predicted_lang")
  }

  private val textLangidEvalSql =
    s"""WITH pred AS (
       |${textLangidSql}
       |), cells AS (
       |  SELECT actual_lang, predicted_lang, CAST(count(*) AS BIGINT) AS n
       |  FROM pred GROUP BY 1, 2
       |)
       |SELECT actual_lang, predicted_lang, n,
       |  CAST((10000 * n) // CAST(sum(n) OVER (PARTITION BY actual_lang) AS BIGINT)
       |    AS BIGINT) AS cell_bp
       |FROM cells ORDER BY actual_lang, predicted_lang""".stripMargin

  // ---------------------------------------------------------------------
  // text_readability — FLESCH READING EASE + FLESCH–KINCAID GRADE per
  // language: the classic surface-statistics readability screen (Flesch
  // 1948; Kincaid et al. 1975) that sits next to text_quality's ratio
  // filters in a data-curation stack — too-hard and too-trivial documents
  // both correlate with low training value. Syllables are approximated by
  // VOWEL-GROUP runs ([aeiouy]+) — the standard heuristic when no
  // dictionary is available; sentences by terminal-punctuation runs with
  // a ≥1 floor (these corpora are unpunctuated word streams, so the
  // words-per-sentence term degenerates to document length — the formula
  // stays honest, the data is just one long sentence per doc).
  //
  // Exactness: both scores are per-doc INTEGER milli-points via
  // truncating division (206835 − 1015·W div S − 84600·Syll div W);
  // per-language aggregation is integer sums + one truncating div for the
  // mean. Regexes are shared RE2/Java-compatible literal classes.
  //
  // Scale shape: one scan, one codegen'd regex pass per doc, one
  // hash-aggregate to |langs| rows. Nothing non-linear anywhere.
  // ---------------------------------------------------------------------
  def textReadability(s: SparkSession, d: String): DataFrame = {
    val scored = Tables.documents(s, d).select(col("lang"),
        size(regexp_extract_all(col("text"), lit("[a-z]+"), lit(0)))
          .cast("long").as("w"),
        size(regexp_extract_all(col("text"), lit("[aeiouy]+"), lit(0)))
          .cast("long").as("syl"),
        greatest(lit(1L),
          size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0)))
            .cast("long")).as("sents"))
      .withColumn("wsafe", greatest(lit(1L), col("w")))
      .select(col("lang"), col("w"),
        expr("206835 - (1015 * w) div sents - (84600 * syl) div wsafe")
          .as("flesch_milli"),
        expr("(390 * w) div sents + (11800 * syl) div wsafe - 15590")
          .as("fk_milli"))
    scored.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("w").as("n_words"),
        expr("sum(flesch_milli) div count(1)").as("avg_flesch_milli"),
        min("flesch_milli").as("min_flesch_milli"),
        max("flesch_milli").as("max_flesch_milli"),
        expr("sum(fk_milli) div count(1)").as("avg_fk_milli"))
      .orderBy("lang")
  }

  private val textReadabilitySql =
    """WITH b AS (
      |  SELECT lang,
      |    CAST(length(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS w,
      |    CAST(length(regexp_extract_all(text, '[aeiouy]+')) AS BIGINT) AS syl,
      |    greatest(1, CAST(length(regexp_extract_all(text, '[.!?]+'))
      |      AS BIGINT)) AS sents
      |  FROM documents
      |), sc AS (
      |  SELECT lang, w,
      |    CAST(206835 - (1015 * w) // sents
      |      - (84600 * syl) // greatest(1, w) AS BIGINT) AS flesch_milli,
      |    CAST((390 * w) // sents + (11800 * syl) // greatest(1, w) - 15590
      |      AS BIGINT) AS fk_milli
      |  FROM b
      |)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(w) AS BIGINT) AS n_words,
      |  CAST(CAST(sum(flesch_milli) AS BIGINT) // count(*) AS BIGINT)
      |    AS avg_flesch_milli,
      |  min(flesch_milli) AS min_flesch_milli,
      |  max(flesch_milli) AS max_flesch_milli,
      |  CAST(CAST(sum(fk_milli) AS BIGINT) // count(*) AS BIGINT)
      |    AS avg_fk_milli
      |FROM sc GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------------
  // text_heaps_law — VOCABULARY GROWTH (Heaps/Herdan law V = K·nᵝ) fit
  // over the corpus: how fast does distinct vocabulary grow as tokens
  // stream in — THE capacity-planning number for vocabulary-sized state
  // (BPE vocab tables, token-partitioned LMs, inverted indexes: β ≈ 0.5
  // means 10× corpus ⇒ ~3.2× vocab). Natural corpora sit at β ≈ 0.4–0.6;
  // template floods push β toward 0 — a drift alarm.
  //
  // Scale design: the naive "cumulative distinct in stream order" is an
  // inherently sequential scan. Instead: each token's FIRST bucket (min
  // over 64 equal doc buckets — one token-grain hash-aggregate) gives
  // new-vocab-per-bucket; token counts per bucket give the x axis; both
  // cumulate over the 64-row bucket grid, and the ln-ln OLS runs on 64
  // points with every ln MILLI-QUANTIZED to an integer before the moment
  // sums (order-independent — the text_ngram_entropy identity). β and
  // ln K close as two shared double expressions from exact integer
  // moments.
  // ---------------------------------------------------------------------
  def textHeapsLaw(s: SparkSession, d: String): DataFrame = {
    val nb = 64
    val nDocs = broadcast(Tables.documents(s, d)
      .agg(count(lit(1)).as("nd")))
    val toks = Tables.documents(s, d).crossJoin(nDocs)
      .select(expr(s"(doc_id * $nb) div nd").as("bucket"),
        explode(wsTokens(col("text"))).as("tok"))
      .cache()
    val tb = toks.groupBy("bucket").agg(count(lit(1)).as("t_b"))
    val vb = toks.groupBy("tok").agg(min("bucket").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("v_b"))
    val wc = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pts = tb.join(vb, Seq("bucket"), "left")
      .select(col("bucket"), col("t_b"),
        coalesce(col("v_b"), lit(0L)).as("v_b"))
      .withColumn("tc", sum("t_b").over(wc))
      .withColumn("vc", sum("v_b").over(wc))
      .select(
        expr("CAST(round(1000 * ln(CAST(tc AS DOUBLE))) AS BIGINT)").as("x"),
        expr("CAST(round(1000 * ln(CAST(vc AS DOUBLE))) AS BIGINT)").as("y"),
        col("tc"), col("vc"))
    pts.agg(count(lit(1)).as("n_buckets"),
        max("tc").as("n_tokens"), max("vc").as("n_vocab"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("x * y")).as("sxy"), sum(expr("x * x")).as("sxx"))
      .select(col("n_buckets"), col("n_tokens"), col("n_vocab"),
        expr("""CAST(round(1000 * ((CAST(n_buckets AS DOUBLE) * sxy
                - CAST(sx AS DOUBLE) * sy)
                / (CAST(n_buckets AS DOUBLE) * sxx
                   - CAST(sx AS DOUBLE) * sx))) AS BIGINT)""").as("beta_milli"),
        expr("""CAST(round((sy - ((CAST(n_buckets AS DOUBLE) * sxy
                - CAST(sx AS DOUBLE) * sy)
                / (CAST(n_buckets AS DOUBLE) * sxx
                   - CAST(sx AS DOUBLE) * sx)) * sx) / n_buckets)
                AS BIGINT)""").as("lnk_milli"))
  }

  private val textHeapsLawSql =
    s"""WITH nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents
      |), toks AS (
      |  SELECT (d.doc_id * 64) // n.nd AS bucket, t.tok
      |  FROM documents d CROSS JOIN nd n,
      |    LATERAL (SELECT unnest(${wsTokensSql("d.text")}) AS tok) t
      |), tb AS (
      |  SELECT bucket, CAST(count(*) AS BIGINT) AS t_b FROM toks
      |  GROUP BY bucket
      |), vb AS (
      |  SELECT bucket, CAST(count(*) AS BIGINT) AS v_b FROM (
      |    SELECT tok, min(bucket) AS bucket FROM toks GROUP BY tok
      |  ) GROUP BY bucket
      |), pts AS (
      |  SELECT CAST(round(1000 * ln(CAST(tc AS DOUBLE))) AS BIGINT) AS x,
      |    CAST(round(1000 * ln(CAST(vc AS DOUBLE))) AS BIGINT) AS y, tc, vc
      |  FROM (
      |    SELECT CAST(sum(t.t_b) OVER (ORDER BY t.bucket
      |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tc,
      |      CAST(sum(coalesce(v.v_b, 0)) OVER (ORDER BY t.bucket
      |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vc
      |    FROM tb t LEFT JOIN vb v ON t.bucket = v.bucket
      |  )
      |), mom AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_buckets,
      |    max(tc) AS n_tokens, max(vc) AS n_vocab,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(x * y) AS BIGINT) AS sxy,
      |    CAST(sum(x * x) AS BIGINT) AS sxx
      |  FROM pts
      |)
      |SELECT n_buckets, n_tokens, n_vocab,
      |  CAST(round(1000 * ((CAST(n_buckets AS DOUBLE) * sxy
      |    - CAST(sx AS DOUBLE) * sy)
      |    / (CAST(n_buckets AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)))
      |    AS BIGINT) AS beta_milli,
      |  CAST(round((sy - ((CAST(n_buckets AS DOUBLE) * sxy
      |    - CAST(sx AS DOUBLE) * sy)
      |    / (CAST(n_buckets AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx))
      |    * sx) / n_buckets) AS BIGINT) AS lnk_milli
      |FROM mom""".stripMargin

  // ---------------------------------------------------------------------
  // text_dedup_lines — C4-STYLE LINE-GRAIN GLOBAL DEDUP as a REWRITE
  // (Raffel et al. 2020 §2.2's "discard all but one of any three-sentence
  // span occurring more than once" — the line/span-grain boilerplate
  // removal every production corpus pass runs, here EMITTING the cleaned
  // corpus, the transform sibling of dedup_common_spans's audit). The
  // corpus has no newline structure (synthetic single-line docs), so the
  // "line" unit is honestly defined as consecutive 10-token chunks —
  // fixed-width spans, the same grain C4's three-sentence window
  // approximates. Policy: of all occurrences of an identical chunk across
  // the corpus, the FIRST (min (doc_id, chunk_idx)) survives; later
  // occurrences are dropped. Cleaned text = kept chunks rejoined in
  // order.
  //
  // Scale shape: chunks group on a 16-hex md5 key — the keeper choice is
  // a MIN-aggregate on a packed (doc_id, chunk) key, not a row_number
  // window, so a boilerplate chunk duplicated a billion times partial-
  // aggregates map-side instead of sorting one hot partition. Packing
  // bounds are CHECKED, fail-loud: doc_id < 2^31 AND chunk_idx < 2^32
  // (doc_id * 2^32 + ci fits a signed 64-bit long exactly under those —
  // beyond them Spark would silently wrap while the DuckDB oracle errors
  // on BIGINT overflow, an engine divergence; a corpus with wider ids
  // should widen the key to a struct min instead). The guard is one
  // codegen'd comparison per chunk row; raise_error fires before any
  // wrapped key can reach the aggregate.
  // ---------------------------------------------------------------------
  def textDedupLines(s: SparkSession, d: String): DataFrame =
    textDedupLinesOn(Tables.documents(s, d))

  /** Core over any (doc_id, source, text) relation — lets the spec drive
    * the pack-bound guard with synthetic out-of-range ids. */
  private[graft] def textDedupLinesOn(docs: DataFrame): DataFrame = {
    val K = 10
    val toks = docs
      .select(col("doc_id"),
        posexplode(wsTokens(col("text"))).as(Seq("pos", "tok")))
    val lines = toks
      .select(col("doc_id"), expr(s"CAST(pos div $K AS BIGINT)").as("ci"),
        col("pos"), col("tok"))
      .groupBy("doc_id", "ci")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")), " ").as("line"))
    // fail-loud packed key: see the pack-bounds note in the header comment
    val packed = when(
      col("doc_id") >= 0 && col("doc_id") < lit(2147483648L) &&
        col("ci") >= 0 && col("ci") < lit(4294967296L),
      col("doc_id") * lit(4294967296L) + col("ci"))
      .otherwise(raise_error(concat(
        lit("text_dedup_lines pack bound exceeded (need 0 <= doc_id < 2^31" +
          ", 0 <= chunk_idx < 2^32): doc_id="),
        col("doc_id"), lit(" chunk_idx="), col("ci"))).cast("long"))
    val keyed = lines.withColumn("h", substring(md5(col("line")), 1, 16))
      .withColumn("pk", packed)
    val keeper = keyed.groupBy("h").agg(min(col("pk")).as("kk"))
    val kept = keyed.join(keeper, Seq("h"))
      .filter(col("pk") === col("kk"))
    val keptPer = kept.groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("ci"), col("line")))),
            x => x.getField("line")), " ").as("cleaned"))
    val linesPer = lines.groupBy("doc_id").agg(count(lit(1)).as("n_lines"))
    docs.select("doc_id", "source")
      .join(linesPer, Seq("doc_id"), "left")
      .join(keptPer, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        (coalesce(col("n_lines"), lit(0L)) - coalesce(col("n_kept"), lit(0L)))
          .as("n_removed"),
        coalesce(col("cleaned"), lit("")).as("cleaned"))
      .orderBy("doc_id")
  }

  private val textDedupLinesSql =
    s"""WITH raw AS (
      |  SELECT doc_id, ${wsTokensSql("text")} AS t
      |  FROM documents
      |), tk AS (
      |  SELECT doc_id, i - 1 AS pos, t[i] AS tok
      |  FROM (SELECT doc_id, t, unnest(generate_series(1, array_length(t)))
      |          AS i FROM raw)
      |), lines AS (
      |  SELECT doc_id, pos // 10 AS ci, string_agg(tok, ' ' ORDER BY pos)
      |    AS line
      |  FROM tk GROUP BY doc_id, pos // 10
      |), keyed AS (
      |  SELECT doc_id, ci, line, substr(md5(line), 1, 16) AS h FROM lines
      |), keeper AS (
      |  SELECT h, min(doc_id * 4294967296 + ci) AS kk FROM keyed GROUP BY h
      |), kept AS (
      |  SELECT k.doc_id, k.ci, k.line
      |  FROM keyed k JOIN keeper x ON k.h = x.h
      |  WHERE k.doc_id * 4294967296 + k.ci = x.kk
      |), keptper AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
      |    string_agg(line, ' ' ORDER BY ci) AS cleaned
      |  FROM kept GROUP BY doc_id
      |), linesper AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines
      |  FROM lines GROUP BY doc_id
      |)
      |SELECT d.doc_id, d.source, coalesce(p.n_lines, 0) AS n_lines,
      |  coalesce(p.n_lines, 0) - coalesce(k.n_kept, 0) AS n_removed,
      |  coalesce(k.cleaned, '') AS cleaned
      |FROM documents d
      |LEFT JOIN linesper p ON p.doc_id = d.doc_id
      |LEFT JOIN keptper k ON k.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // text_chunk_overlap — OVERLAPPED FIXED-SIZE TOKEN CHUNKING, the
  // RAG/embedding-prep transform (r14 verdict item 5): 64-token windows at
  // stride 48 (16-token overlap — the text sibling of mm_audio_chunk's
  // 64/48 and the retrieval-side complement of text_pack_sequences' packing).
  // Chunk i of an n-token doc spans tokens [48i, 48i + min(64, n-48i));
  // n_chunks = 1 + ceil(max(n-64,0)/48), so chunks cover every token, the
  // last chunk ends exactly at the doc end (length in [17,64]), and a doc
  // with ≥1 token yields ≥1 chunk. Output is exact token-span accounting
  // (chunk_idx, tok_start, tok_len, n_tokens) plus the md5 of the chunk's
  // space-joined tokens — the hash proves actual CONTENT parity per chunk
  // against the oracle, not just the span arithmetic.
  //
  // Scale shape: a token joins its ≤ ceil(64/48) = 2 covering chunks by a
  // CLOSED-FORM sequence explode (i ∈ [max(0,⌈(p-63)/48⌉), min(⌊p/48⌋,
  // n_chunks-1)]) — never a per-doc array materialization or a range join
  // — and chunk assembly is one (doc_id, chunk) aggregate bounded by chunk
  // size, not doc size; the contiguous renumber + per-doc count reuse the
  // single doc_id window shuffle. At 100 TB this is one exchange on doc_id
  // followed by map-side work.
  // ---------------------------------------------------------------------
  def textChunkOverlap(s: SparkSession, d: String): DataFrame =
    textChunkOverlapOn(Tables.documents(s, d))

  private[graft] def textChunkOverlapOn(docs: DataFrame): DataFrame = {
    val C = 64; val S = 48
    val toks = docs
      .select(col("doc_id"),
        posexplode(wsTokens(col("text"))).as(Seq("pos", "tok")))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val tk = toks
      .select(col("doc_id"),
        (row_number().over(w) - 1).cast("long").as("p"), col("tok"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))
    // i_min = ceil((p-(C-1))/S) clamped to 0: trunc-vs-floor div is safe
    // because the numerator is only negative when the clamp applies anyway
    val iMin = greatest(lit(0L), expr(s"(p - ${C - S}) div $S"))
    val iMax = least(expr(s"p div $S"),
      expr(s"(greatest(n - $C, 0) + ${S - 1}) div $S"))
    tk.select(col("doc_id"), col("p"), col("tok"), col("n"),
        explode(sequence(iMin, iMax)).as("ci"))
      .groupBy("doc_id", "ci")
      .agg(min(col("p")).as("tok_start"),
        count(lit(1)).as("tok_len"),
        max(col("n")).as("n_tokens"),
        md5(array_join(
          transform(array_sort(collect_list(struct(col("p"), col("tok")))),
            x => x.getField("tok")), " ")).as("chunk_md5"))
      .select(col("doc_id"), col("ci").as("chunk_idx"), col("tok_start"),
        col("tok_len"), col("n_tokens"), col("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")
  }

  private val textChunkOverlapSql =
    s"""WITH raw AS (
      |  SELECT doc_id, ${wsTokensSql("text")} AS t
      |  FROM documents
      |), tk0 AS (
      |  SELECT doc_id, i, t[i] AS tok
      |  FROM (SELECT doc_id, t, unnest(generate_series(1, array_length(t)))
      |          AS i FROM raw)
      |), tk AS (
      |  SELECT doc_id, row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1
      |    AS p, tok
      |  FROM tk0
      |), nd AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM tk GROUP BY doc_id
      |), chunks AS (
      |  SELECT doc_id, n,
      |    unnest(generate_series(0, (greatest(n - 64, 0) + 47) // 48)) AS ci
      |  FROM nd
      |)
      |SELECT c.doc_id, CAST(c.ci AS BIGINT) AS chunk_idx,
      |  CAST(c.ci * 48 AS BIGINT) AS tok_start,
      |  CAST(count(*) AS BIGINT) AS tok_len,
      |  c.n AS n_tokens,
      |  md5(string_agg(k.tok, ' ' ORDER BY k.p)) AS chunk_md5
      |FROM chunks c JOIN tk k ON k.doc_id = c.doc_id
      |  AND k.p >= c.ci * 48 AND k.p < c.ci * 48 + 64
      |GROUP BY c.doc_id, c.ci, c.n
      |ORDER BY c.doc_id, chunk_idx""".stripMargin

  val all: Seq[Q] = Seq(
    Q("text_chunk_overlap", textChunkOverlap, Some(textChunkOverlapSql)),
    Q("text_dedup_lines", textDedupLines, Some(textDedupLinesSql)),
    Q("text_heaps_law", textHeapsLaw, Some(textHeapsLawSql)),
    Q("text_readability", textReadability, Some(textReadabilitySql)),
    Q("text_novelty", textNovelty, Some(textNoveltySql)),
    Q("text_langid_eval", textLangidEval, Some(textLangidEvalSql)),
    Q("text_tfidf_top", textTfidfTop, Some(textTfidfTopSql)),
    Q("text_rake", textRake, Some(textRakeSql)),
    Q("text_backoff_lm", textBackoffLm, Some(textBackoffLmSql)),
    Q("text_nb_classifier", textNbClassifier, Some(textNbClassifierSql)),
    Q("text_sentence_split", textSentenceSplit, Some(textSentenceSplitSql)),
    Q("text_type_token_ratio", textTypeTokenRatio, Some(textTypeTokenRatioSql)),
    Q("text_feature_hashing", textFeatureHashing, Some(textFeatureHashingSql)),
    Q("text_zipf_fit", textZipfFit, Some(textZipfFitSql)),
    Q("text_cms_freq", textCmsFreq, Some(textCmsFreqSql)),
    Q("text_cooccurrence", textCooccurrence, Some(textCooccurrenceSql)),
    Q("text_pmi_collocations", textPmiCollocations, Some(textPmiCollocationsSql)),
    Q("text_dsir_weight", textDsirWeight, Some(textDsirWeightSql)),
    Q("text_bm25", textBm25, Some(textBm25Sql)),
    Q("text_unigram_logprob", textUnigramLogprob, Some(textUnigramLogprobSql)),
    Q("text_bigram_logprob", textBigramLogprob, Some(textBigramLogprobSql)),
    Q("text_span_corruption", textSpanCorruption, Some(textSpanCorruptionSql)),
    Q("text_bpe_token_count", textBpeTokenCount, Some(textBpeTokenCountSql)),
    Q("text_pack_sequences", textPackSequences, Some(textPackSequencesSql)),
    Q("text_filter_chain", textFilterChain, Some(textFilterChainSql)),
    Q("text_fuzzy_match", textFuzzyMatch, Some(textFuzzyMatchSql)),
    Q("text_token_stats", textTokenStats, Some(textTokenStatsSql)),
    Q("text_quality", textQuality, Some(textQualitySql)),
    Q("text_quality_auc", textQualityAuc, Some(textQualityAucSql)),
    Q("text_ngram_entropy", textNgramEntropy, Some(textNgramEntropySql)),
    Q("text_quality_tercile", textQualityTercile, Some(textQualityTercileSql)),
    Q("text_langid", textLangid, Some(textLangidSql)),
    Q("text_fingerprint", textFingerprint, Some(textFingerprintSql)),
    Q("text_pii_redact", textPiiRedact, Some(textPiiRedactSql)),
    Q("text_repetition", textRepetition, Some(textRepetitionSql)),
    Q("text_contamination", textContamination, Some(textContaminationSql))
  )
}
