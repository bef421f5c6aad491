package graft.operators

import graft.{Q, Rounds, Tables}
import graft.functions.TextFunctions.{wsTokens, wsTokensSql}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** BPE TOKENIZER TRAINING as pure relational algebra (Sennrich et al. 2016):
  * learn the first R merge rules from the corpus itself — per round, count
  * adjacent symbol pairs over all word types (weighted by word frequency),
  * merge the most frequent pair everywhere with correct LEFTMOST-GREEDY
  * non-overlapping semantics, repeat. The output is the merge table
  * (round, pair, count-at-merge-time, corpus symbol count after) — i.e. the
  * actual artifact a tokenizer trainer produces.
  *
  * Every stage is data-parallel relational algebra partitioned by word
  * type: pair counting is a hash-aggregate, the winning pair is a 1-row
  * broadcast (never driver state), and the merge rewrite is two
  * self-equi-joins on (word, pos). Leftmost-greedy overlap resolution — the
  * part naive SQL gets wrong for runs like "aaaa" — groups consecutive
  * candidate positions by the pos − row_number() run trick and keeps the
  * odd-indexed candidate of each run. Word-type cardinality (not corpus
  * token count) bounds every relation, the same property that makes real
  * BPE trainers feasible; each round's sequence relation is cut
  * (graft.Rounds) so R rounds cost R scans, not a 2^R plan.
  *
  * Fully oracled: integer counts end-to-end (no floats anywhere), ties on
  * the winning pair break (count desc, pair lexicographic) under binary
  * string order in both engines; the DuckDB oracle unrolls all R rounds as
  * generated CTEs.
  */
object BpeTrain {

  private val rounds = 4

  def textBpeTrain(s: SparkSession, d: String): DataFrame =
    bpeTrainOn(Tables.documents(s, d).select("doc_id", "text"), rounds)

  /** Training output: the merge table plus the fully-merged word-type
    * symbol sequence (word, freq, pos, sym) — the artifact ENCODE applies
    * back to document token streams. */
  private[graft] final case class BpeResult(stats: DataFrame, finalSeq: DataFrame)

  /** BPE core over any (doc_id, text) relation — spec-drivable. */
  private[graft] def bpeTrainOn(docs: DataFrame, r: Int): DataFrame =
    bpeRun(docs, r).stats

  private[graft] def bpeRun(docs: DataFrame, r: Int): BpeResult = {
    val toks = docs
      .select(explode(wsTokens(col("text"))).as("word"))
    val wc = toks.groupBy("word").agg(count(lit(1)).as("freq"))
    // initial symbol sequence: one row per (word type, char position)
    val init = wc
      .select(col("word"), col("freq"),
        posexplode(sequence(lit(1), length(col("word")))).as(Seq("ignored", "i")))
      .select(col("word"), col("freq"), (col("i") - 1).cast("long").as("pos"),
        expr("substring(word, i, 1)").as("sym"))

    val wp = Window.partitionBy("word").orderBy("pos")
    // each round's winning pair, kept for that round's stat row
    val bests = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val seqs = Rounds.fixed("bpe", r, init) { (seq, _) =>
      val withNext = seq.withColumn("nsym", lead("sym", 1).over(wp))
      // localCheckpoint (1 row): the winning pair is consumed three times —
      // the broadcast below, this round's stat row, and (without the cut)
      // the final stats action would RE-RUN the whole pair-count aggregate
      // once per round; checkpointing pays one tiny eager job now and makes
      // every later consumer a leaf read (r17 — stats recompute was ~2 of
      // the family's 56 single-task stages per round).
      val best = withNext.filter(col("nsym").isNotNull)
        .groupBy("sym", "nsym").agg(sum("freq").as("bcnt"))
        .orderBy(col("bcnt").desc, col("sym").asc, col("nsym").asc)
        .limit(1)
        .select(col("sym").as("ba"), col("nsym").as("bb"), col("bcnt"))
        .localCheckpoint()
      bests += best
      val cand = withNext.crossJoin(broadcast(best))
        .withColumn("iscand",
          col("nsym").isNotNull && col("sym") === col("ba") && col("nsym") === col("bb"))
      // Leftmost-greedy in ONE window pass (r17 — replaces the candidate
      // relation + two (word,pos) self-joins the merge used to pay per
      // round): consecutive candidate positions form runs (only possible
      // when ba = bb); the merge keeps the 1st, 3rd, … candidate of each
      // run. A candidate's 1-based index within its run is pos minus the
      // last non-candidate position before it (runs are consecutive), so
      // "real" (= actually merged) is just a parity test on that running
      // max — same (word)-keyed window, no join — and the consumed right
      // half is lag(real): drop a row whose predecessor merged.
      val wBefore = wp.rowsBetween(Window.unboundedPreceding, -1)
      cand
        .withColumn("lnc",
          max(when(!col("iscand"), col("pos"))).over(wBefore))
        .withColumn("real",
          col("iscand") && (col("pos") - coalesce(col("lnc"), lit(-1L))) % 2 === 1)
        .withColumn("dropPrev", lag("real", 1, false).over(wp))
        .filter(!col("dropPrev"))
        .select(col("word"), col("freq"), col("pos").as("oldpos"),
          when(col("real"), concat(col("ba"), col("bb")))
            .otherwise(col("sym")).as("sym"))
        .withColumn("pos",
          (row_number().over(Window.partitionBy("word").orderBy("oldpos")) - 1)
            .cast("long"))
        .select("word", "freq", "pos", "sym")
    }
    val stats = bests.zip(seqs.tail).zipWithIndex.map { case ((best, merged), i) =>
      best.crossJoin(merged.agg(sum("freq").as("n_symbols_after")))
        .select(lit(i + 1L).as("round"), col("ba").as("sym_a"),
          col("bb").as("sym_b"), col("bcnt").as("pair_count"),
          col("n_symbols_after"))
    }.reduce(_ unionByName _)
    BpeResult(stats.orderBy("round"), seqs.last)
  }

  /** Shared DuckDB CTE text for one merge round (p/best/cand/real/m/s
    * chain, no stat row) — composed by BOTH the train oracle (which adds
    * per-round stat CTEs) and the encode oracle (which only needs the
    * final sequence s{R+1}). AS MATERIALIZED on every CTE a later CTE
    * reads more than once: DuckDB inlines plain CTEs, so the unrolled
    * rounds re-expand each other and spill gigabytes at sf0.01. */
  private def roundCoreSql(r: Int): String = {
      val prev = s"s$r"
      s"""p$r AS MATERIALIZED (
         |  SELECT word, freq, pos, sym,
         |    lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nsym
         |  FROM $prev
         |), best$r AS MATERIALIZED (
         |  SELECT sym AS ba, nsym AS bb, CAST(cnt AS BIGINT) AS bcnt FROM (
         |    SELECT sym, nsym, sum(freq) AS cnt FROM p$r WHERE nsym IS NOT NULL
         |    GROUP BY sym, nsym
         |  ) ORDER BY cnt DESC, sym, nsym LIMIT 1
         |), cand$r AS MATERIALIZED (
         |  SELECT p.word, p.freq, p.pos, p.sym, b.ba, b.bb,
         |    (p.nsym IS NOT NULL AND p.sym = b.ba AND p.nsym = b.bb) AS iscand
         |  FROM p$r p CROSS JOIN best$r b
         |), real$r AS MATERIALIZED (
         |  SELECT word, pos FROM (
         |    SELECT word, pos,
         |      row_number() OVER (PARTITION BY word, grp ORDER BY pos) AS k
         |    FROM (
         |      SELECT word, pos,
         |        pos - row_number() OVER (PARTITION BY word ORDER BY pos) AS grp
         |      FROM cand$r WHERE iscand
         |    )
         |  ) WHERE k % 2 = 1
         |), m$r AS (
         |  SELECT c.word, c.freq, c.pos AS oldpos,
         |    CASE WHEN ra.pos IS NOT NULL THEN c.ba || c.bb ELSE c.sym END AS sym
         |  FROM cand$r c
         |  LEFT JOIN real$r ra ON ra.word = c.word AND ra.pos = c.pos
         |  LEFT JOIN real$r rb ON rb.word = c.word AND rb.pos = c.pos - 1
         |  WHERE rb.pos IS NULL
         |), s${r + 1} AS MATERIALIZED (
         |  SELECT word, freq,
         |    CAST(row_number() OVER (PARTITION BY word ORDER BY oldpos) - 1
         |      AS BIGINT) AS pos,
         |    sym
         |  FROM m$r
         |)""".stripMargin
  }

  private def statSql(r: Int): String =
    s"""stat$r AS (
       |  SELECT CAST($r AS BIGINT) AS round, b.ba AS sym_a, b.bb AS sym_b,
       |    b.bcnt AS pair_count,
       |    (SELECT CAST(sum(freq) AS BIGINT) FROM s${r + 1}) AS n_symbols_after
       |  FROM best$r b
       |)""".stripMargin

  /** Shared prelude: word-type counts and the initial per-char sequence.
    * `docToks` additionally keeps doc_id-grain tokens for the encode
    * oracle; the word-type path reads through it so both oracles tokenize
    * identically. */
  private val preludeSql: String =
    s"""dtoks AS (
       |  SELECT doc_id, unnest(${wsTokensSql("text")}) AS word FROM documents
       |), toks AS (
       |  SELECT word FROM dtoks
       |), wc AS (
       |  SELECT word, count(*) AS freq FROM toks GROUP BY word
       |), s1 AS MATERIALIZED (
       |  SELECT word, freq, CAST(i - 1 AS BIGINT) AS pos, substr(word, i, 1) AS sym
       |  FROM (SELECT word, freq, unnest(generate_series(1, length(word))) AS i
       |        FROM wc)
       |)""".stripMargin

  private val textBpeTrainSql: String = {
    val roundCtes = (1 to rounds)
      .map(r => roundCoreSql(r) + ",\n" + statSql(r)).mkString(",\n")
    val unions = (1 to rounds).map(r => s"SELECT * FROM stat$r").mkString("\nUNION ALL ")
    s"""WITH $preludeSql,
       |$roundCtes
       |$unions
       |ORDER BY round""".stripMargin
  }

  // ---------------------------------------------------------------------
  // text_bpe_encode — APPLY the learned merge table to tokenize the whole
  // corpus (training learns 4 merges; real pipelines then ENCODE every
  // document under them — this is the corpus-scale application pass). Per
  // document: whitespace words, characters, BPE token count under the
  // learned vocab, and fertility (BPE tokens per word, basis points) —
  // the number a tokenizer-budget planner actually consumes — plus the
  // same document's token count under the regex proxy
  // (text_bpe_token_count) so learned-vs-proxy fertility is auditable
  // side by side.
  //
  // Plan shape: encoding is a WORD-TYPE join, not a per-token rewrite —
  // the merge loop runs on the word-type relation (bounded by vocabulary,
  // not corpus size; the same property that makes training feasible), the
  // per-type symbol count collapses from the final sequence by one
  // hash-aggregate, and the corpus-sized work is a single equi-join of the
  // doc→word token stream against that word-type table (broadcastable
  // when the vocab is small; AQE skew-splits the hot stopword keys
  // otherwise) followed by one per-doc aggregate. Exact integers
  // everywhere; fertility via integer div.
  //
  // At 100 TB: train once on a sample / checkpoint the merge table, then
  // this encode pass streams the corpus through one join+aggregate — no
  // iteration touches corpus-grain data.
  // ---------------------------------------------------------------------
  def textBpeEncode(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val fin = bpeRun(docs, rounds).finalSeq
    val wordTok = fin.groupBy("word").agg(count(lit(1)).as("n_sym"))
    val docToks = docs
      .select(col("doc_id"),
        explode(wsTokens(col("text"))).as("word"))
    docToks.join(wordTok, "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("word")).cast("long")).as("n_chars"),
        sum("n_sym").as("n_bpe_tokens"))
      .join(docs.select(col("doc_id"),
        size(regexp_extract_all(lower(col("text")),
          lit("[a-z]+|[0-9]|[^a-z0-9\\s]+"), lit(0)))
          .cast("long").as("n_proxy_tokens")), "doc_id")
      .select(col("doc_id"), col("n_words"), col("n_chars"),
        col("n_bpe_tokens"),
        expr("(10000 * n_bpe_tokens) div n_words").as("fertility_bp"),
        col("n_proxy_tokens"),
        expr("(10000 * n_proxy_tokens) div n_words").as("proxy_fertility_bp"))
      .orderBy("doc_id")
  }

  private val textBpeEncodeSql: String = {
    val roundCtes = (1 to rounds).map(roundCoreSql).mkString(",\n")
    s"""WITH $preludeSql,
       |$roundCtes,
       |wt AS (
       |  SELECT word, CAST(count(*) AS BIGINT) AS n_sym
       |  FROM s${rounds + 1} GROUP BY word
       |), enc AS (
       |  SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |    CAST(sum(length(d.word)) AS BIGINT) AS n_chars,
       |    CAST(sum(wt.n_sym) AS BIGINT) AS n_bpe_tokens
       |  FROM dtoks d JOIN wt ON d.word = wt.word
       |  WHERE length(d.word) > 0
       |  GROUP BY d.doc_id
       |), prox AS (
       |  SELECT doc_id, CAST(array_length(regexp_extract_all(lower(text),
       |    '[a-z]+|[0-9]|[^a-z0-9\\s]+')) AS BIGINT) AS n_proxy_tokens
       |  FROM documents
       |)
       |SELECT e.doc_id, e.n_words, e.n_chars, e.n_bpe_tokens,
       |  CAST((10000 * e.n_bpe_tokens) // e.n_words AS BIGINT) AS fertility_bp,
       |  p.n_proxy_tokens,
       |  CAST((10000 * p.n_proxy_tokens) // e.n_words AS BIGINT)
       |    AS proxy_fertility_bp
       |FROM enc e JOIN prox p ON e.doc_id = p.doc_id
       |ORDER BY e.doc_id""".stripMargin
  }

  val all: Seq[Q] = Seq(
    Q("text_bpe_train", textBpeTrain, Some(textBpeTrainSql)),
    Q("text_bpe_encode", textBpeEncode, Some(textBpeEncodeSql))
  )
}
