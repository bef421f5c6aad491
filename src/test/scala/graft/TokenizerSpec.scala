package graft

import graft.functions.TextFunctions._
import org.apache.spark.sql.functions._

/** The one whitespace-token rule (TextFunctions.wsTokens and the functions
  * built on it) against a plain-Scala model, and the tokenizing queries on
  * documents at the rule's edges: empty, whitespace-only, numeric-only,
  * padded, vertical-tab-separated and shorter than k. */
class TokenizerSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  /** The model: split on runs of Java's `\s` set, drop empty pieces. */
  private def modelTokens(s: String): Seq[String] =
    s.split("[ \t\n\u000B\f\r]+").toSeq.filter(_.nonEmpty)

  private def modelGrams(s: String, k: Int): Seq[String] =
    modelTokens(s).sliding(k).filter(_.size == k).map(_.mkString(" ")).toSeq

  test("wsTokens, wordCount, wordShingles and kgrams match a plain-Scala tokenizer") {
    import org.scalacheck.{Gen, Prop, Test}
    val ws = Gen.oneOf(" ", "\t", "\n", "\u000B", "\f", "\r")
    // U+00A0 is not in Java's `\s`: a no-break space stays inside a token
    val word = Gen.oneOf("a", "bb", "c1", "\u00e9", "x\u00a0y")
    val piece = Gen.frequency(
      3 -> Gen.nonEmptyListOf(ws).map(_.mkString), 4 -> word)
    val text = Gen.choose(0, 9).flatMap(n => Gen.listOfN(n, piece).map(_.mkString))
    val prop = Prop.forAllNoShrink(Gen.listOfN(40, text)) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val rows = docs.select(col("doc_id"), wsTokens(col("text")),
          wordCount(col("text")), wordShingles(col("text"), 2),
          wordShingles(col("text"), 3))
        .collect().map(r => r.getLong(0).toInt -> r).toMap
      val toks = docs.select(col("doc_id"),
        posexplode(wsTokens(col("text"))).as(Seq("pos", "tok")))
      def grams(k: Int) = kgrams(toks, k, "g").collect()
        .groupMap(_.getLong(0).toInt)(_.getString(1))
      val (g2, g3) = (grams(2), grams(3))
      texts.zipWithIndex.forall { case (t, i) =>
        val r = rows(i)
        r.getSeq[String](1) == modelTokens(t) &&
          r.getLong(2) == modelTokens(t).length &&
          r.getSeq[String](3) == modelGrams(t, 2).distinct &&
          r.getSeq[String](4) == modelGrams(t, 3).distinct &&
          g2.getOrElse(i, Array.empty[String]).sorted.toSeq == modelGrams(t, 2).sorted &&
          g3.getOrElse(i, Array.empty[String]).sorted.toSeq == modelGrams(t, 3).sorted
      }
    }
    val result = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(8).withWorkers(1).withInitialSeed(20261020L), prop)
    assert(result.passed, result.status.toString)
  }

  /** Edge documents next to ordinary ones. The empty and the
    * whitespace-only document make up source `blank`, which has no tokens;
    * every other source also holds an ordinary document. */
  private val edgeDocs: Seq[(Long, String)] = Seq(
    1L -> "",
    2L -> " \t\u000B\f\r\n ",
    3L -> "12\n 345 \n6",
    4L -> "  lead and trail words \n",
    5L -> "a\u000Bb",
    6L -> "one",
    7L -> "two words",
    8L -> " a b",
    9L -> "the quick brown fox jumps over the lazy dog",
    10L -> "the lazy dog sleeps while the quick brown fox runs",
    11L -> "a b c d e f g h",
    12L -> "spark join filter window hash stream")

  private def sourceOf(id: Long): String = if (id <= 2) "blank" else s"src${id % 4}"

  private def withDocs(docs: Seq[(Long, String)])(f: String => Unit): Unit = {
    val dir = tempDir("graft_edge_docs").toString
    docs.map { case (id, t) => (id, t, "en", sourceOf(id), t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    f(dir)
  }

  private def withEdgeDocs(f: String => Unit): Unit = withDocs(edgeDocs)(f)

  private def counts(dir: String, text: org.apache.spark.sql.Column): Map[Long, Long] =
    Tables.documents(spark, dir).select(col("doc_id"), wordCount(text))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("edge documents: no empty token reaches the tokenizing queries") {
    withEdgeDocs { dir =>
      import operators.{Corpus, TextAnalysis}
      val ttr = TextAnalysis.textTypeTokenRatio(spark, dir)
      val tokCols = Seq(
        Corpus.corpusTopTokens(spark, dir).select("tok"),
        TextAnalysis.textTfidfTop(spark, dir).select("tok"),
        Tables.documents(spark, dir).select(explode(wsTokens(col("text"))).as("tok")),
        Tables.documents(spark, dir)
          .select(explode(wsTokens(normalizeText(col("text")))).as("tok")))
      tokCols.foreach { df =>
        val toks = df.collect().map(_.getString(0))
        assert(toks.nonEmpty && !toks.contains(""), toks.mkString("|"))
      }
      // a document without tokens has no type/token row at all
      val normCounts = counts(dir, normalizeText(col("text")))
      assert(ttr.collect().map(_.getAs[Long]("doc_id")).toSet ==
        normCounts.filter(_._2 > 0).keySet)
    }
  }

  test("edge documents: per-document token totals equal wordCount") {
    withEdgeDocs { dir =>
      import operators.{Corpus, TextAnalysis}
      val normCounts = counts(dir, normalizeText(col("text")))
      TextAnalysis.textTypeTokenRatio(spark, dir).collect().foreach { r =>
        assert(r.getAs[Long]("n_tokens") == normCounts(r.getAs[Long]("doc_id")))
      }
      val raw = counts(dir, col("text"))
      assert(raw(1L) == 0L && raw(2L) == 0L && raw(5L) == 2L && raw(8L) == 2L)
      val bySource = raw.groupMapReduce { case (id, _) => sourceOf(id) }(_._2)(_ + _)
      Seq(Corpus.corpusTokenBudget(spark, dir), Corpus.corpusMixWeights(spark, dir))
        .foreach { q =>
          val got = q.collect().map(r =>
            r.getAs[String]("source") -> r.getAs[Long]("n_tokens")).toMap
          assert(got == bySource)
        }
    }
  }

  test("a source without tokens: capped mix weight, and no division by zero") {
    import operators.Corpus
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[String]("source") -> r).toMap
    withEdgeDocs { dir =>
      val mix = rows(Corpus.corpusMixWeights(spark, dir))("blank")
      assert(mix.getAs[Long]("n_tokens") == 0L && mix.getAs[Long]("share_bp") == 0L)
      assert(mix.getAs[Long]("weight_bp") == 30000L && mix.getAs[Boolean]("capped"))
      assert(mix.getAs[Long]("expected_tokens") == 0L)
      val budget = rows(Corpus.corpusTokenBudget(spark, dir))
      assert(budget("blank").getAs[Long]("alloc_tokens") == 0L)
      assert(budget.values.map(_.getAs[Long]("alloc_tokens")).sum == 1000000L)
    }
    // a corpus without any token: every share and allocation is NULL
    withDocs(edgeDocs.filter(_._1 <= 2)) { dir =>
      val mix = Corpus.corpusMixWeights(spark, dir).collect().toSeq
      assert(mix.map(_.getAs[Long]("n_docs")) == Seq(2L))
      assert(mix.forall(r => r.isNullAt(r.fieldIndex("share_bp")) &&
        r.getAs[Long]("weight_bp") == 30000L && r.getAs[Long]("expected_tokens") == 0L))
      val budget = Corpus.corpusTokenBudget(spark, dir).collect().toSeq
      assert(budget.size == 1 && Seq("share_bp", "alloc_tokens", "got_extra")
        .forall(c => budget.head.isNullAt(budget.head.fieldIndex(c))))
    }
  }

  test("edge documents: no k-gram or shingle for a document shorter than k") {
    withEdgeDocs { dir =>
      import operators.{Dedup, TextAnalysis}
      val normCounts = counts(dir, normalizeText(col("text")))
      val short3 = normCounts.filter(_._2 < 3).keySet
      val short2 = normCounts.filter(_._2 < 2).keySet
      assert(short3.contains(7L) && short2 == Set(1L, 2L, 3L, 6L))
      def docsOf(df: org.apache.spark.sql.DataFrame) =
        df.select("doc_id").collect().map(_.getLong(0)).toSet
      val shingled = docsOf(Dedup.shinglesOf(Tables.documents(spark, dir)))
      assert(shingled.nonEmpty && (shingled & short3).isEmpty)
      assert((docsOf(TextAnalysis.textNovelty(spark, dir)) & short3).isEmpty)
      val rep = TextAnalysis.textRepetition(spark, dir).collect()
        .map(r => r.getAs[Long]("doc_id") -> Option(r.getAs[String]("top_bigram"))).toMap
      assert(rep.collect { case (id, Some(_)) => id }.toSet ==
        normCounts.filter(_._2 >= 2).keySet)
      val arr = Tables.documents(spark, dir)
        .select(col("doc_id"), size(wordShingles(normalizeText(col("text")), 3)))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      short3.foreach(id => assert(arr(id) == 0, s"doc $id"))
    }
  }
}
