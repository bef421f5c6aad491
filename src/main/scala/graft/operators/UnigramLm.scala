package graft.operators

import graft.{Q, Tables}
import graft.functions.TextFunctions.{wsTokens, wsTokensSql}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** UNIGRAM-LM (SentencePiece-style) TOKENIZER TRAINING as pure relational
  * algebra (Kudo 2018) — the other mainstream tokenizer family next to BPE
  * (BpeTrain.scala), landed under the same exactness discipline (the r14
  * verdict's optional item 8, whose own condition was "only if the EM
  * iteration can be written exact-integer / quantized-ln cross-engine like
  * BPE was"):
  *
  *  - SEED: substring-occurrence counts (length ≤ 4, multiplicity counted)
  *    over WORD TYPES weighted by word frequency; vocabulary = every single
  *    character (coverage floor, never pruned) + the top-48 multi-char
  *    substrings by (count desc, piece asc) — binary string order in both
  *    engines, the BpeTrain tie convention.
  *  - SCORES: quantized milli-nats, score(p) = q(cnt) − q(T) with
  *    q(x) = round(1000·ln(x)) as BIGINT and T = Σ counts over the live
  *    vocabulary — the repo's established quantized-ln pattern
  *    (text_unigram_logprob, tfidf idf_milli), so path comparisons are
  *    INTEGER comparisons end-to-end.
  *  - E-STEP (hard EM): per word type, the Viterbi segmentation under the
  *    current scores — a per-row dynamic program over positions via ONE
  *    `aggregate` higher-order function (accumulator = the best[0..i]
  *    prefix table), candidates attached beforehand by a broadcast join of
  *    (end, len≤4) substrings against the vocabulary. Ties broken
  *    (score desc, path asc) INSIDE the DP comparator, so the chosen
  *    segmentation is deterministic in both engines. HOFs are interpreted,
  *    but the relation is word-TYPE grain — the same property that makes
  *    real tokenizer trainers feasible; corpus size only enters through
  *    the one wc aggregate.
  *  - M-STEP: piece counts = Σ word-freq over Viterbi pieces (one
  *    hash-aggregate); PRUNE multi-char pieces with zero count (chars are
  *    floored at count 1 — SentencePiece's character-coverage floor);
  *    re-score; run the second Viterbi round under the re-estimated
  *    scores.
  *
  * Output = the trained piece table (piece, length, seed/round-1/round-2
  * counts, final milli-nat score) — the artifact a unigram tokenizer
  * trainer produces. The DuckDB oracle replays the identical computation
  * with the DP as a recursive CTE carrying a 4-slot best-prefix window
  * (LATERAL argmax with the same (sc desc, path asc) tie-break).
  *
  * Exact invariant (spec-asserted): in EVERY round, Σ over pieces of
  * count·len == Σ over word types of freq·len(word) — each character of
  * the corpus is covered by exactly one Viterbi piece.
  *
  * At 100 TB: train on word types (vocabulary-bounded, reached by one
  * map-side-combined aggregate over the corpus), then ENCODE streams the
  * corpus through one word-type join — text_unigram_encode below, the
  * BpeTrain.textBpeEncode shape.
  */
object UnigramLm {

  private val maxPieceLen = 4
  private val topMulti = 48

  /** Word-type counts under the whitespace tokenizer shared with BpeTrain
    * (identical CTE on the oracle side, so both tokenizer families train
    * over the same type relation). */
  private def wordCounts(docs: DataFrame): DataFrame =
    docs
      .select(explode(wsTokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** q(x) = round(1000·ln(x)) — quantized milli-nats over integer counts. */
  private def qMilli(c: Column): Column =
    round(lit(1000.0) * log(c)).cast("long")

  /** Substring occurrences with multiplicity: (word, freq, piece),
    * piece = substr(word, i, k), k ≤ 4. */
  private def seedOccurrences(wc: DataFrame): DataFrame =
    wc.select(col("word"), col("freq"),
        posexplode(sequence(lit(1), length(col("word")))).as(Seq("ig", "i")))
      .select(col("word"), col("freq"), col("i"),
        explode(sequence(lit(1),
          least(lit(maxPieceLen), length(col("word")) - col("i") + lit(1))))
          .as("k"))
      .select(col("word"), col("freq"), expr("substring(word, i, k)").as("piece"))

  /** Attach milli-nat scores to a (piece, cnt) relation: q(cnt) − q(Σcnt). */
  private def scored(v: DataFrame): DataFrame = {
    val t = v.agg(sum("cnt").as("t"))
    v.crossJoin(broadcast(t))
      .select(col("piece"), col("cnt"),
        (qMilli(col("cnt")) - qMilli(col("t"))).as("sc"))
  }

  /** One Viterbi round: per word type, the best segmentation under
    * `vocab` (piece, sc) — returns (word, freq, sc, pieces array).
    * The DP accumulator is the best[0..i] prefix table; candidate
    * (end-position, k) pieces are pre-joined so the lambda only does
    * integer adds, string concats, and one ≤4-element sort per position.
    * The ' ' path separator is safe: pieces are substrings of
    * whitespace-split words, so they can never contain a space. */
  private[graft] def viterbi(wc: DataFrame, vocab: DataFrame): DataFrame = {
    val cands = wc
      .select(col("word"), col("freq"),
        posexplode(sequence(lit(1), length(col("word")))).as(Seq("ig", "i")))
      .select(col("word"), col("freq"), col("i"),
        explode(sequence(lit(1), least(lit(maxPieceLen), col("i")))).as("k"))
      .select(col("word"), col("freq"), col("i"), col("k"),
        expr("substring(word, i - k + 1, k)").as("piece"))
      .join(broadcast(vocab.select("piece", "sc")), Seq("piece"))
    cands.groupBy("word", "freq")
      .agg(collect_list(struct(col("i"), col("k"), col("piece"), col("sc")))
        .as("cs"))
      .withColumn("best", expr("""
        element_at(
          aggregate(
            sequence(1, length(word)),
            array(named_struct('sc', CAST(0 AS BIGINT), 'path', '')),
            (acc, i) -> concat(acc, array(element_at(array_sort(
                transform(
                  filter(cs, c -> c.i = i),
                  c -> named_struct(
                    'sc', element_at(acc, i - c.k + 1).sc + c.sc,
                    'path', concat(element_at(acc, i - c.k + 1).path, ' ', c.piece))),
                (l, r) -> CASE WHEN l.sc > r.sc THEN -1 WHEN l.sc < r.sc THEN 1
                               WHEN l.path < r.path THEN -1
                               WHEN l.path > r.path THEN 1 ELSE 0 END),
              1)))
          ),
          length(word) + 1)
      """))
      .select(col("word"), col("freq"), col("best.sc").as("sc"),
        split(trim(col("best.path")), " ").as("pieces"))
  }

  /** Piece counts of a Viterbi round: Σ word-freq over chosen pieces. */
  private def roundCounts(seg: DataFrame): DataFrame =
    seg.select(col("freq"), explode(col("pieces")).as("piece"))
      .groupBy("piece").agg(sum("freq").as("cnt"))

  /** The full two-round trainer core; returns (pieceTable, round-2
    * segmentation) so ENCODE reuses the final segmentation without
    * retraining. */
  private[graft] final case class UnigramResult(pieces: DataFrame, seg2: DataFrame)

  private[graft] def unigramRun(docs: DataFrame): UnigramResult = {
    val wc = wordCounts(docs).localCheckpoint()
    val seedCnt = seedOccurrences(wc)
      .groupBy("piece").agg(sum("freq").as("cnt"))
      .localCheckpoint() // consumed by chars + topMulti + the output join
    val chars = seedCnt.filter(length(col("piece")) === 1)
    val multi = seedCnt.filter(length(col("piece")) > 1)
      .orderBy(col("cnt").desc, col("piece").asc).limit(topMulti)
    val vocab0 = scored(chars.unionByName(multi))
    // round 1: Viterbi under seed scores, count, prune, re-score
    val seg1 = viterbi(wc, vocab0)
    val cnt1 = roundCounts(seg1).localCheckpoint()
    // prune multi-char pieces the round never used; floor chars at 1
    // (the character-coverage floor — a char can lose every occurrence
    // to a multi-char piece yet must stay segmentable)
    val kept = vocab0.select("piece").join(cnt1, Seq("piece"), "left")
      .select(col("piece"), coalesce(col("cnt"), lit(0L)).as("cnt1_raw"))
      .filter(col("cnt1_raw") > 0 || length(col("piece")) === 1)
      .localCheckpoint()
    val vocab1 = scored(kept.select(col("piece"),
      greatest(col("cnt1_raw"), lit(1L)).as("cnt")))
    // round 2: Viterbi under the re-estimated scores
    val seg2 = viterbi(wc, vocab1)
      .localCheckpoint() // consumed by cnt2 AND the encode join
    val cnt2 = roundCounts(seg2)
    // final scores over the same smoothing rule (chars floored at 1,
    // multi-char pieces unused in round 2 get NULL — they would prune
    // next round)
    val withC2 = kept.select("piece", "cnt1_raw")
      .join(cnt2.withColumnRenamed("cnt", "cnt2_raw"), Seq("piece"), "left")
      .select(col("piece"), col("cnt1_raw"),
        coalesce(col("cnt2_raw"), lit(0L)).as("cnt2_raw"))
      .withColumn("c2s",
        when(col("cnt2_raw") > 0, col("cnt2_raw"))
          .when(length(col("piece")) === 1, lit(1L)))
    val t2 = withC2.filter(col("c2s").isNotNull).agg(sum("c2s").as("t"))
    val pieces = withC2.crossJoin(broadcast(t2))
      .join(seedCnt.withColumnRenamed("cnt", "seed_cnt"), Seq("piece"))
      .select(col("piece"), length(col("piece")).cast("long").as("piece_len"),
        col("seed_cnt"), col("cnt1_raw").as("cnt_r1"),
        col("cnt2_raw").as("cnt_r2"),
        when(col("c2s").isNotNull, qMilli(col("c2s")) - qMilli(col("t")))
          .as("score_milli"))
      .orderBy("piece")
    UnigramResult(pieces, seg2)
  }

  def textUnigramTrain(s: SparkSession, d: String): DataFrame =
    unigramRun(Tables.documents(s, d).select("doc_id", "text")).pieces

  /** text_unigram_encode — apply the trained model corpus-wide: per doc,
    * whitespace words, chars, Viterbi token count under the final vocab,
    * fertility in basis points. Word-TYPE join shape (BpeTrain.textBpeEncode):
    * the corpus-sized work is one equi-join of the doc→word stream against
    * the word-type segmentation + one per-doc aggregate. */
  def textUnigramEncode(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val seg2 = unigramRun(docs).seg2
    val wordTok = seg2.select(col("word"), size(col("pieces")).cast("long").as("m"))
    val docToks = docs
      .select(col("doc_id"),
        explode(wsTokens(col("text"))).as("word"))
    docToks.join(wordTok, "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("word")).cast("long")).as("n_chars"),
        sum("m").as("n_unigram_tokens"))
      .select(col("doc_id"), col("n_words"), col("n_chars"),
        col("n_unigram_tokens"),
        expr("(10000 * n_unigram_tokens) div n_words").as("fertility_bp"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------------
  // DuckDB oracle: the identical computation, DP as a recursive CTE whose
  // working row carries the best-prefix window for positions pos..pos−3
  // (s0/p0..s3/p3); each step advances one position via a LATERAL argmax
  // over the ≤4 candidate pieces with the SAME (sc desc, path asc)
  // tie-break. Verified row-for-row against the Spark HOF DP.
  // ---------------------------------------------------------------------

  private val preludeSql: String =
    s"""dtoks AS (
      |  SELECT doc_id, unnest(${wsTokensSql("text")}) AS word FROM documents
      |), wc AS (
      |  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM dtoks GROUP BY word
      |), pos1 AS (
      |  SELECT word, freq, unnest(generate_series(1, length(word))) AS i
      |  FROM wc
      |), socc AS (
      |  SELECT word, freq, i,
      |    unnest(generate_series(1, least(4, length(word) - i + 1))) AS k
      |  FROM pos1
      |), spc AS (
      |  SELECT substr(word, i, k) AS piece, CAST(sum(freq) AS BIGINT) AS cnt
      |  FROM socc GROUP BY 1
      |), v0 AS (
      |  SELECT piece, cnt FROM spc WHERE length(piece) = 1
      |  UNION ALL
      |  SELECT piece, cnt FROM (
      |    SELECT piece, cnt FROM spc WHERE length(piece) > 1
      |    ORDER BY cnt DESC, piece LIMIT 48)
      |), vocab1 AS (
      |  SELECT piece,
      |    CAST(round(1000.0 * ln(cnt)) - round(1000.0 * ln(t)) AS BIGINT) AS sc
      |  FROM v0, (SELECT sum(cnt) AS t FROM v0)
      |)""".stripMargin

  /** One recursive-CTE Viterbi round reading vocab CTE `$vocab`; emits
    * rec$n / seg$n (word, freq, sc, path). */
  private def dpSql(n: Int, vocab: String): String =
    s"""rec$n AS (
       |  SELECT word, freq, length(word) AS len, 0 AS pos,
       |    CAST(0 AS BIGINT) AS s0, '' AS p0,
       |    CAST(NULL AS BIGINT) AS s1, CAST(NULL AS VARCHAR) AS p1,
       |    CAST(NULL AS BIGINT) AS s2, CAST(NULL AS VARCHAR) AS p2,
       |    CAST(NULL AS BIGINT) AS s3, CAST(NULL AS VARCHAR) AS p3
       |  FROM wc
       |  UNION ALL
       |  SELECT r.word, r.freq, r.len, r.pos + 1,
       |    b.sc, b.path, r.s0, r.p0, r.s1, r.p1, r.s2, r.p2
       |  FROM rec$n r, LATERAL (
       |    SELECT
       |      (CASE t.k WHEN 1 THEN r.s0 WHEN 2 THEN r.s1 WHEN 3 THEN r.s2
       |        ELSE r.s3 END) + v.sc AS sc,
       |      (CASE t.k WHEN 1 THEN r.p0 WHEN 2 THEN r.p1 WHEN 3 THEN r.p2
       |        ELSE r.p3 END) || ' ' || v.piece AS path
       |    FROM (VALUES (1),(2),(3),(4)) t(k)
       |    JOIN $vocab v ON t.k <= r.pos + 1 AND length(v.piece) = t.k
       |      AND v.piece = substr(r.word, r.pos + 2 - t.k, t.k)
       |    ORDER BY sc DESC, path ASC
       |    LIMIT 1
       |  ) b
       |  WHERE r.pos < r.len
       |), seg$n AS (
       |  SELECT word, freq, s0 AS sc, p0 AS path FROM rec$n WHERE pos = len
       |)""".stripMargin

  private val emSql: String =
    s"""cnt1 AS (
       |  SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt
       |  FROM (SELECT freq, unnest(string_split(trim(p0), ' ')) AS piece
       |        FROM rec1 WHERE pos = len)
       |  GROUP BY piece
       |), kept AS (
       |  SELECT v.piece, coalesce(c.cnt, 0) AS cnt1_raw
       |  FROM v0 v LEFT JOIN cnt1 c ON c.piece = v.piece
       |  WHERE coalesce(c.cnt, 0) > 0 OR length(v.piece) = 1
       |), v1 AS (SELECT piece, greatest(cnt1_raw, 1) AS cnt FROM kept),
       |vocab2 AS (
       |  SELECT piece,
       |    CAST(round(1000.0 * ln(cnt)) - round(1000.0 * ln(t)) AS BIGINT) AS sc
       |  FROM v1, (SELECT sum(cnt) AS t FROM v1)
       |)""".stripMargin

  private val finishSql: String =
    s"""cnt2 AS (
       |  SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt
       |  FROM (SELECT freq, unnest(string_split(trim(p0), ' ')) AS piece
       |        FROM rec2 WHERE pos = len)
       |  GROUP BY piece
       |), withc2 AS (
       |  SELECT k.piece, k.cnt1_raw, coalesce(c.cnt, 0) AS cnt2_raw,
       |    CASE WHEN coalesce(c.cnt, 0) > 0 THEN coalesce(c.cnt, 0)
       |         WHEN length(k.piece) = 1 THEN 1 END AS c2s
       |  FROM kept k LEFT JOIN cnt2 c ON c.piece = k.piece
       |)""".stripMargin

  private val textUnigramTrainSql: String =
    s"""WITH RECURSIVE $preludeSql,
       |${dpSql(1, "vocab1")},
       |$emSql,
       |${dpSql(2, "vocab2")},
       |$finishSql
       |SELECT w.piece, CAST(length(w.piece) AS BIGINT) AS piece_len,
       |  s.cnt AS seed_cnt, CAST(w.cnt1_raw AS BIGINT) AS cnt_r1,
       |  CAST(w.cnt2_raw AS BIGINT) AS cnt_r2,
       |  CASE WHEN w.c2s IS NOT NULL THEN
       |    CAST(round(1000.0 * ln(w.c2s)) - round(1000.0 * ln(t.t)) AS BIGINT)
       |  END AS score_milli
       |FROM withc2 w
       |JOIN spc s ON s.piece = w.piece
       |CROSS JOIN (SELECT sum(c2s) AS t FROM withc2 WHERE c2s IS NOT NULL) t
       |ORDER BY w.piece""".stripMargin

  private val textUnigramEncodeSql: String =
    s"""WITH RECURSIVE $preludeSql,
       |${dpSql(1, "vocab1")},
       |$emSql,
       |${dpSql(2, "vocab2")},
       |wt AS (
       |  SELECT word,
       |    CAST(array_length(string_split(trim(p0), ' ')) AS BIGINT) AS m
       |  FROM rec2 WHERE pos = len
       |)
       |SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(length(d.word)) AS BIGINT) AS n_chars,
       |  CAST(sum(wt.m) AS BIGINT) AS n_unigram_tokens,
       |  CAST((10000 * sum(wt.m)) // count(*) AS BIGINT) AS fertility_bp
       |FROM dtoks d JOIN wt ON d.word = wt.word
       |WHERE length(d.word) > 0
       |GROUP BY d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  val all: Seq[Q] = Seq(
    Q("text_unigram_train", textUnigramTrain, Some(textUnigramTrainSql)),
    Q("text_unigram_encode", textUnigramEncode, Some(textUnigramEncodeSql))
  )
}
