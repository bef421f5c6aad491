package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import graft.functions.TextFunctions._

/** The COMPOSED LLM-pretraining curation pipeline — the engine's headline
  * end-to-end statement, the `corpus_pipeline_e2e` idea applied to the
  * library's own LLM-data surface. Where the reference's corpus build is
  * five pandas scripts materializing CSVs between stages
  * (sheaswauger/dissertation-data-pipeline build_master_corpus.py +
  * scripts/legislation/normalize_corpus.py), a pretraining curation run is
  * the same shape at 1000× the stakes: ingest → dedup → quality-filter →
  * decontaminate → mix → pack. Here the whole chain is ONE lazy Catalyst
  * DAG, each stage reusing the EXACT operator semantics oracled
  * individually elsewhere:
  *
  *   1. intake        — corrupt-tolerant JSONL ingest through
  *                      [[graft.sources.Quarantine.ingest]] (planted
  *                      truncation on doc_id % 13 == 0; the quarantine
  *                      channel must catch every corrupt line and recover
  *                      its doc_id from the raw payload);
  *   2. exact_dedup   — md5 content-hash keep-min-doc_id (`dedup_exact`);
  *   3. neardup_lsh   — keep-first near-dup drop over the PERSISTED
  *                      32-way-bucketed shingle + MinHash-signature layout
  *                      ([[Dedup.stagedShingleRead]]/[[Dedup.stagedSignatures]],
  *                      the daily-pipeline scale path), pairs from
  *                      [[Dedup.lshVerifiedPairs]] (8×4 banding + exact
  *                      Jaccard ≥ 0.5), a doc drops iff it has a verified
  *                      neighbor with a smaller doc_id;
  *   4. quality_filter— the fixed-order C4/Gopher cascade
  *                      [[TextAnalysis.filterReason]] (`text_filter_chain`);
  *   5. decontaminated— `text_contamination` semantics: the doc_id % 100
  *                      == 0 slice is the benchmark (excluded from
  *                      training outright), and a survivor sharing ≥ 3
  *                      distinct 3-gram shingles with any benchmark doc is
  *                      dropped;
  *   6. token_budget  — `corpus_mix_weights` 3×-capped mixture over the
  *                      survivors' per-source token masses, then
  *                      `corpus_token_budget` largest-remainder
  *                      apportionment of a 1M-token budget over the capped
  *                      expected masses (Σ alloc = budget EXACTLY);
  *   7. packed        — `text_pack_sequences` per-language next-fit
  *                      512-token packing of the survivor corpus
  *                      (Σ seq_tokens must equal stage-5 tokens —
  *                      conservation).
  *
  * Output: the per-stage funnel (stage_id, stage, n_docs, n_tokens,
  * detail). `detail` is content-binding per stage: stage 1 = Σ doc_id
  * recovered from the QUARANTINED raw payloads, stages 2-5 = Σ doc_id
  * dropped at that stage, stage 6 = Σ allocated tokens (= the budget iff
  * the apportionment is exact), stage 7 = count of overflowing sequences.
  * The DuckDB oracle chains the same already-oracled SQL fragments, so the
  * hash match proves the COMPOSITION (including JSONL roundtrip
  * losslessness — md5-exact dedup and token counts run on the re-parsed
  * text), not just the parts.
  *
  * Scale shape: one text scan of the fixture (codegen'd from_json), one
  * md5 window shuffle, semi-joins against the bucketed staged
  * shingle/signature tables on their bucket key, the banded LSH self-join
  * (never all-pairs), a heap-gated broadcast benchmark-shingle join
  * (shuffled-hash past the gate), and a handful of
  * metadata-sized funnel aggregates. The ledger cached for the funnel
  * passes is narrow (ids + counters + flags, no text) and stays cached
  * after materialization so the returned lazy DataFrame is re-runnable —
  * the clearCache-between-calls contract documented on
  * `Dedup.dedupIncrementalStaged` applies here too. */
object LlmPretrain {

  private val tokenBudget = 1000000L
  private val seqBudget = 512L

  private val docSchema = new StructType()
    .add("doc_id", LongType).add("lang", StringType)
    .add("source", StringType).add("text", StringType)

  /** Stage a JSONL fixture of documents with DETERMINISTIC planted
    * corruption: doc_id % 13 == 0 → final byte truncated (not JSON at
    * all), everything else clean — the `Quarantine.stageCorruptJsonl`
    * scheme on the documents table, so the oracle can state the intake
    * split arithmetically. */
  private[graft] def stageCorruptDocsJsonl(s: SparkSession, d: String): String =
    graft.sources.Staging.ensureFixture("docs_q", d) { staged =>
      val clean = to_json(struct(
        col("doc_id"), col("lang"), col("source"), col("text")))
      Tables.documents(s, d)
        .select(
          when(col("doc_id") % 13 === 0, clean.substr(lit(1), length(clean) - 1))
            .otherwise(clean).as("out"))
        .write.mode(SaveMode.Overwrite).text(staged)
    }

  def llmPretrainE2e(s: SparkSession, d: String): DataFrame = {
    // ---- stage 1: corrupt-tolerant intake ------------------------------
    val split = graft.sources.Quarantine.ingest(
      s, stageCorruptDocsJsonl(s, d), docSchema)
    // quarantine audit: recover each quarantined line's doc_id from the
    // raw payload (truncation clips the tail; the id sits at the head)
    val qDetail = split.quarantine
      .select(regexp_extract(col("raw"), "\"doc_id\":(\\d+)", 1)
        .cast("long").as("qid"))
      .agg(coalesce(sum("qid"), lit(0L)).as("q_sum"))
    // ---- per-doc ledger: counters + stage flags ------------------------
    val wMd5 = Window.partitionBy(md5(col("text")))
    val cnt = split.good
      .select(col("doc_id"), col("lang"), col("source"), col("text"),
        wordCount(col("text")).as("n_tokens"),
        length(col("text")).cast("long").as("len_chars"),
        alphaCount(lower(col("text"))).as("n_alpha"),
        punctCount(col("text")).cast("long").as("n_punct"),
        nonSpaceCount(col("text")).as("n_nonspace"))
      .withColumn("exact_keeper",
        col("doc_id") === min("doc_id").over(wMd5))
      .withColumn("reason", TextAnalysis.filterReason)
      .drop("text", "len_chars", "n_alpha", "n_punct", "n_nonspace")
    // ---- stage 3: LSH keep-first over the persisted index --------------
    val s2ids = cnt.filter(col("exact_keeper")).select("doc_id")
    // UNCACHED staged-table reads: the shingle relation is corpus-grain,
    // and pinning it in memory is exactly the pattern the daily dedup
    // path dropped — each consumer re-reads the persisted bucketed
    // layout (a bounded number of sequential scans beats a corpus-sized
    // cache at 100 TB)
    val shAll = s.table(Dedup.stagedShingles(s, d))
    val sh2 = shAll.join(s2ids, Seq("doc_id"), "left_semi")
    val sig2 = s.table(Dedup.stagedSignatures(s, d))
      .join(s2ids, Seq("doc_id"), "left_semi")
    val nearDrops = Dedup.lshVerifiedPairs(sh2, sig2)
      .select(col("doc_b").as("doc_id")).distinct()
      .withColumn("neardup_drop", lit(true))
    // ---- stage 5: benchmark decontamination ----------------------------
    val in3 = col("exact_keeper") && !col("neardup_drop")
    val in4 = in3 && col("reason") === "keep"
    val withNear = cnt
      .join(nearDrops, Seq("doc_id"), "left")
      .withColumn("neardup_drop", coalesce(col("neardup_drop"), lit(false)))
    val s4ids = withNear.filter(in4 && col("doc_id") % 100 =!= 0)
      .select("doc_id")
    val bench = shAll.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("benchmark_id"), col("shingle"))
    // the benchmark relation is ~1% of CORPUS shingle rows — linear in the
    // corpus, so a forced broadcast() would eventually hit the 8 GB
    // broadcast cap / driver heap. Gate it on the same heap-derived
    // threshold as the wedge family (rows here are two longs, the same
    // width class as packed edges); past the gate, a shuffled-hash join
    // builds on the benchmark side instead (never sort-merge — the corpus
    // side streams). The count is a pure function of the static dataset,
    // memoized per JVM.
    val benchRows = graft.sources.Staging.memoizedCount(
      "llm_bench_shingles", d, "documents.parquet")(bench.count())
    val benchSide =
      if (benchRows < Graph.gateFor(Runtime.getRuntime.maxMemory))
        broadcast(bench)
      else bench.hint("shuffle_hash")
    val contam = sh2.join(s4ids, Seq("doc_id"), "left_semi")
      .join(benchSide, "shingle")
      .groupBy("doc_id", "benchmark_id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 3)
      .select("doc_id").distinct()
      .withColumn("contaminated", lit(true))
    val ledger = withNear
      .join(contam, Seq("doc_id"), "left")
      .withColumn("contaminated", coalesce(col("contaminated"), lit(false)))
      .cache()
    val in5 = in4 && col("doc_id") % 100 =!= 0 && !col("contaminated")
    // ---- funnel rows 1-5: ONE aggregate over the cached ledger ---------
    def n(c: Column) = sum(when(c, 1L).otherwise(0L))
    def t(c: Column) = coalesce(sum(when(c, col("n_tokens"))), lit(0L))
    def dropSum(c: Column) = coalesce(sum(when(c, col("doc_id"))), lit(0L))
    val a = ledger.agg(
      n(lit(true)).as("n1"), t(lit(true)).as("t1"),
      n(col("exact_keeper")).as("n2"), t(col("exact_keeper")).as("t2"),
      dropSum(!col("exact_keeper")).as("d2"),
      n(in3).as("n3"), t(in3).as("t3"),
      dropSum(col("exact_keeper") && col("neardup_drop")).as("d3"),
      n(in4).as("n4"), t(in4).as("t4"),
      dropSum(in3 && col("reason") =!= "keep").as("d4"),
      n(in5).as("n5"), t(in5).as("t5"),
      dropSum(in4 && !in5).as("d5"))
    def st(id: Long, name: String, nd: Column, nt: Column, det: Column) =
      struct(lit(id).as("stage_id"), lit(name).as("stage"),
        nd.as("n_docs"), nt.as("n_tokens"), det.as("detail"))
    val rows15 = a.crossJoin(qDetail)
      .select(explode(array(
        st(1L, "intake", col("n1"), col("t1"), col("q_sum")),
        st(2L, "exact_dedup", col("n2"), col("t2"), col("d2")),
        st(3L, "neardup_lsh", col("n3"), col("t3"), col("d3")),
        st(4L, "quality_filter", col("n4"), col("t4"), col("d4")),
        st(5L, "decontaminated", col("n5"), col("t5"), col("d5")))).as("r"))
      .select("r.*")
    // ---- stage 6: capped mixture + largest-remainder apportionment -----
    val s5 = ledger.filter(in5).select("doc_id", "lang", "source", "n_tokens")
    val perSrc = s5.groupBy("source").agg(sum("n_tokens").as("src_tokens"))
    val tot = broadcast(perSrc.agg(sum("src_tokens").as("t_tok"),
      count(lit(1)).as("n_sources")))
    val expd = perSrc.crossJoin(tot)
      .withColumn("weight_bp",
        least(expr("(t_tok * 10000) div (n_sources * src_tokens)"), lit(30000L)))
      .withColumn("expected", expr("(src_tokens * weight_bp) div 10000"))
    val etot = broadcast(expd.agg(sum("expected").as("e_tok")))
    val wr = Window.orderBy(col("rem").desc, col("source").asc)
    val quotas = expd.crossJoin(etot)
      .withColumn("quota", expr(s"($tokenBudget * expected) div e_tok"))
      .withColumn("rem", expr(s"($tokenBudget * expected) % e_tok"))
      .withColumn("rk", row_number().over(wr).cast("long"))
    val leftover = broadcast(quotas.agg(
      (lit(tokenBudget) - sum("quota")).as("lefto")))
    val row6 = quotas.crossJoin(leftover)
      .agg(count(lit(1)).as("n_docs"), sum("expected").as("n_tokens"),
        sum(col("quota") +
          when(col("rk") <= col("lefto"), 1L).otherwise(0L)).as("detail"))
      .select(lit(6L).as("stage_id"), lit("token_budget").as("stage"),
        col("n_docs"), col("n_tokens"), col("detail"))
    // ---- stage 7: next-fit sequence packing accounting -----------------
    val wPack = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val row7 = s5
      .withColumn("cum", sum("n_tokens").over(wPack))
      .withColumn("seq_id", expr(s"(cum - n_tokens) div $seqBudget"))
      .groupBy("lang", "seq_id").agg(sum("n_tokens").as("seq_tokens"))
      .agg(count(lit(1)).as("n_docs"), sum("seq_tokens").as("n_tokens"),
        sum(when(col("seq_tokens") > seqBudget, 1L).otherwise(0L)).as("detail"))
      .select(lit(7L).as("stage_id"), lit("packed").as("stage"),
        col("n_docs"), col("n_tokens"), col("detail"))
    rows15.unionByName(row6).unionByName(row7).orderBy("stage_id")
  }

  /** Oracle: the same seven stages chained as CTEs over the parquet
    * documents table — intake is the arithmetic view of the planted
    * corruption, dedup/LSH/filter/contamination/budget/packing reuse the
    * fragment SQL oracled individually by `dedup_exact`,
    * `dedup_minhash_lsh` (the unblocked all-pairs truth — the hash match
    * asserts LSH recall exactly as there), `text_filter_chain`,
    * `text_contamination`, `corpus_mix_weights` + `corpus_token_budget`
    * and `text_pack_sequences`. */
  private val llmPretrainE2eSql = {
    s"""WITH intake AS (
       |  SELECT doc_id, lang, source, text FROM documents WHERE doc_id % 13 <> 0
       |), led0 AS (
       |  SELECT doc_id, lang, source, text,
       |    CAST(${wordCountSql("text")} AS BIGINT) AS n_tokens,
       |    length(text) AS len_chars,
       |    length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS n_alpha,
       |    length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
       |    ${nonSpaceCountSql("text")} AS n_nonspace,
       |    doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS exact_keeper
       |  FROM intake
       |), led1 AS (
       |  SELECT *, ${TextAnalysis.filterReasonSql} AS reason
       |  FROM led0
       |), s2 AS (
       |  SELECT doc_id, lang, source, text, n_tokens, reason
       |  FROM led1 WHERE exact_keeper
       |), ${Dedup.shingleCteOver("s2", "2")},
       |sizes2 AS (SELECT doc_id, count(*) AS n_sh FROM sh2 GROUP BY doc_id),
       |inter2 AS (
       |  SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b, count(*) AS n_common
       |  FROM sh2 sa JOIN sh2 sb ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
       |  GROUP BY 1, 2
       |), neardrop AS (
       |  SELECT DISTINCT i.doc_b AS doc_id
       |  FROM inter2 i
       |  JOIN sizes2 za ON za.doc_id = i.doc_a
       |  JOIN sizes2 zb ON zb.doc_id = i.doc_b
       |  WHERE round(i.n_common * 1.0 / (za.n_sh + zb.n_sh - i.n_common), 4) >= 0.5
       |), bdocs AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 100 = 0
       |), ${Dedup.shingleCteOver("bdocs", "B")},
       |led AS (
       |  SELECT l.*, l.doc_id IN (SELECT doc_id FROM neardrop) AS neardup_drop
       |  FROM led1 l
       |), s4 AS (
       |  SELECT doc_id FROM led
       |  WHERE exact_keeper AND NOT neardup_drop AND reason = 'keep'
       |    AND doc_id % 100 <> 0
       |), contam_pairs AS (
       |  SELECT c.doc_id, b.doc_id AS benchmark_id, count(*) AS n_shared
       |  FROM sh2 c
       |  JOIN s4 ON s4.doc_id = c.doc_id
       |  JOIN shB b ON b.shingle = c.shingle
       |  GROUP BY c.doc_id, b.doc_id
       |  HAVING count(*) >= 3
       |), contam AS (SELECT DISTINCT doc_id FROM contam_pairs
       |), s5d AS (
       |  SELECT doc_id, lang, source, n_tokens FROM led
       |  WHERE exact_keeper AND NOT neardup_drop AND reason = 'keep'
       |    AND doc_id % 100 <> 0
       |    AND doc_id NOT IN (SELECT doc_id FROM contam)
       |), ps AS (
       |  SELECT source, CAST(sum(n_tokens) AS BIGINT) AS src_tokens
       |  FROM s5d GROUP BY source
       |), tot AS (
       |  SELECT CAST(sum(src_tokens) AS BIGINT) AS t_tok,
       |    CAST(count(*) AS BIGINT) AS n_sources
       |  FROM ps
       |), expd AS (
       |  SELECT p.source, p.src_tokens,
       |    CAST((p.src_tokens * LEAST((t.t_tok * 10000) // (t.n_sources * p.src_tokens), 30000))
       |      // 10000 AS BIGINT) AS expected
       |  FROM ps p CROSS JOIN tot t
       |), etot AS (SELECT CAST(sum(expected) AS BIGINT) AS e_tok FROM expd
       |), q AS (
       |  SELECT x.source, x.expected,
       |    CAST(($tokenBudget * x.expected) // e.e_tok AS BIGINT) AS quota,
       |    CAST(($tokenBudget * x.expected) % e.e_tok AS BIGINT) AS rem
       |  FROM expd x CROSS JOIN etot e
       |), rkd AS (
       |  SELECT *, CAST(row_number() OVER (ORDER BY rem DESC, source) AS BIGINT) AS rk
       |  FROM q
       |), lo AS (SELECT $tokenBudget - CAST(sum(quota) AS BIGINT) AS lefto FROM q
       |), pc AS (
       |  SELECT lang, doc_id, n_tokens,
       |    sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM s5d
       |), seqs AS (
       |  SELECT lang, (cum - n_tokens) // $seqBudget AS seq_id,
       |    CAST(sum(n_tokens) AS BIGINT) AS seq_tokens
       |  FROM pc GROUP BY 1, 2
       |)
       |SELECT * FROM (
       |  SELECT CAST(1 AS BIGINT) AS stage_id, 'intake' AS stage,
       |    CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(COALESCE(sum(n_tokens), 0) AS BIGINT) AS n_tokens,
       |    (SELECT CAST(COALESCE(sum(doc_id), 0) AS BIGINT)
       |     FROM documents WHERE doc_id % 13 = 0) AS detail
       |  FROM led
       |  UNION ALL
       |  SELECT CAST(2 AS BIGINT), 'exact_dedup',
       |    CAST(count(*) FILTER (WHERE exact_keeper) AS BIGINT),
       |    CAST(COALESCE(sum(n_tokens) FILTER (WHERE exact_keeper), 0) AS BIGINT),
       |    CAST(COALESCE(sum(doc_id) FILTER (WHERE NOT exact_keeper), 0) AS BIGINT)
       |  FROM led
       |  UNION ALL
       |  SELECT CAST(3 AS BIGINT), 'neardup_lsh',
       |    CAST(count(*) FILTER (WHERE exact_keeper AND NOT neardup_drop) AS BIGINT),
       |    CAST(COALESCE(sum(n_tokens) FILTER (WHERE exact_keeper AND NOT neardup_drop), 0) AS BIGINT),
       |    CAST(COALESCE(sum(doc_id) FILTER (WHERE exact_keeper AND neardup_drop), 0) AS BIGINT)
       |  FROM led
       |  UNION ALL
       |  SELECT CAST(4 AS BIGINT), 'quality_filter',
       |    CAST(count(*) FILTER (WHERE exact_keeper AND NOT neardup_drop AND reason = 'keep') AS BIGINT),
       |    CAST(COALESCE(sum(n_tokens) FILTER (WHERE exact_keeper AND NOT neardup_drop AND reason = 'keep'), 0) AS BIGINT),
       |    CAST(COALESCE(sum(doc_id) FILTER (WHERE exact_keeper AND NOT neardup_drop AND reason <> 'keep'), 0) AS BIGINT)
       |  FROM led
       |  UNION ALL
       |  SELECT CAST(5 AS BIGINT), 'decontaminated',
       |    CAST(count(*) FILTER (WHERE exact_keeper AND NOT neardup_drop AND reason = 'keep'
       |      AND doc_id % 100 <> 0 AND doc_id NOT IN (SELECT doc_id FROM contam)) AS BIGINT),
       |    CAST(COALESCE(sum(n_tokens) FILTER (WHERE exact_keeper AND NOT neardup_drop AND reason = 'keep'
       |      AND doc_id % 100 <> 0 AND doc_id NOT IN (SELECT doc_id FROM contam)), 0) AS BIGINT),
       |    CAST(COALESCE(sum(doc_id) FILTER (WHERE exact_keeper AND NOT neardup_drop AND reason = 'keep'
       |      AND (doc_id % 100 = 0 OR doc_id IN (SELECT doc_id FROM contam))), 0) AS BIGINT)
       |  FROM led
       |  UNION ALL
       |  SELECT CAST(6 AS BIGINT), 'token_budget',
       |    CAST(count(*) AS BIGINT),
       |    CAST(sum(r.expected) AS BIGINT),
       |    CAST(sum(r.quota + CASE WHEN r.rk <= l.lefto THEN 1 ELSE 0 END) AS BIGINT)
       |  FROM rkd r CROSS JOIN lo l
       |  UNION ALL
       |  SELECT CAST(7 AS BIGINT), 'packed',
       |    CAST(count(*) AS BIGINT),
       |    CAST(sum(seq_tokens) AS BIGINT),
       |    CAST(sum(CASE WHEN seq_tokens > $seqBudget THEN 1 ELSE 0 END) AS BIGINT)
       |  FROM seqs
       |)
       |ORDER BY stage_id""".stripMargin
  }

  val all: Seq[Q] = Seq(
    Q("llm_pretrain_e2e", llmPretrainE2e, Some(llmPretrainE2eSql))
  )
}
