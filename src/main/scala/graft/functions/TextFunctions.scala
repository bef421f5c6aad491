package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Column-level text operations — the reference's per-document Python string
  * munging (sheaswauger/dissertation-data-pipeline
  * scripts/legislation/normalize_corpus.py:117-131 normalize_plain_text,
  * text_processor.py:119-131 search_keywords) re-expressed as compositions of
  * `org.apache.spark.sql.functions._` so every operation stays inside
  * whole-stage codegen — no UDFs, no Python, nothing driver-side.
  *
  * The whitespace-token rule lives here once per engine: `wsTokens` (and the
  * `kgrams` step over its positions) for Spark, and beside each function its
  * DuckDB twin (`…Sql`, a `String => String` SQL builder). Operators take
  * their tokens from these functions and oracles call the twins, so the two
  * engines cannot drift apart site by site. The twins spell whitespace as
  * the explicit class of Java's `\s` — RE2's `\s` omits the vertical tab.
  */
object TextFunctions {

  /** The exact character set Java's regex `\s` matches (no UNICODE flag):
    * space, tab, newline, vertical tab, form feed, carriage return. The
    * translate/trim forms below are defined over this set so they are
    * bit-identical to the regex forms they replaced (r16: the regex
    * char-class scans were the dominant per-row cost of the quality/stats
    * family — translate is a plain table lookup per char, no NFA). */
  private val wsChars = " \t\n\u000B\f\r"

  /** The same set in RE2 escapes, for the DuckDB twins. */
  private val wsSet = raw" \t\n\x0B\f\r"
  private val wsClass = s"[$wsSet]"

  /** Strip leading/trailing whitespace of ALL kinds. SQL `trim()` (Spark and
    * DuckDB alike) removes only spaces — Python's `.strip()`/`.split()`
    * semantics in the reference need tabs/newlines stripped too.
    * Implementation: `trim(BOTH <\s charset> FROM c)` — identical to the
    * previous regexp_replace(c, "^\\s+|\\s+$", "") on every string, ~10×
    * cheaper. */
  def wsTrim(c: Column): Column =
    trim(c, wsChars)

  /** DuckDB twin of [[wsTrim]]. */
  def wsTrimSql(x: String): String =
    raw"regexp_replace($x, '^$wsClass+|$wsClass+$$', '', 'g')"

  /** The reference's normalize_plain_text chain (normalize_corpus.py:117):
    * lowercase → HTML-entity decode → strip numeric-only lines → collapse
    * spaces/tabs → collapse 3+ newlines → trim. */
  def normalizeText(c: Column): Column = {
    val n0 = lower(c)
    // literal entity decodes: replace() (plain substring scan) — identical
    // to regexp_replace on a metachar-free literal pattern, regex-free
    val n1 = replace(n0, lit("&amp;"), lit("&"))
    val n2 = replace(n1, lit("&nbsp;"), lit(" "))
    val n3 = regexp_replace(n2, "(?m)^\\s*\\d+\\s*$", "")
    val n4 = regexp_replace(n3, "[ \\t]+", " ")
    val n5 = regexp_replace(n4, "\\n{3,}", "\n\n")
    wsTrim(n5)
  }

  /** DuckDB twin of [[normalizeText]]: the same chain as global
    * regexp_replace calls, the numeric-line pattern over the Java `\s` set. */
  def normalizeTextSql(x: String): String =
    wsTrimSql(
      "regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(" +
        raw"lower($x), '&amp;', '&', 'g'), '&nbsp;', ' ', 'g'), " +
        raw"'(?m)^$wsClass*\d+$wsClass*$$', '', 'g'), '[ \t]+', ' ', 'g'), " +
        raw"'\n{3,}', e'\n\n', 'g')")

  /** Whitespace tokens: trim, split on `\s+`, no empty tokens — exactly the
    * tokens [[wordCount]] counts. After the trim the only empty token split
    * can yield is the one an empty string splits into; `array_remove` drops
    * it (codegen'd, one pass) so an empty text explodes to no rows. */
  def wsTokens(c: Column): Column =
    array_remove(split(wsTrim(c), "\\s+"), "")

  /** DuckDB twin of [[wsTokens]]: the maximal runs of non-whitespace, which
    * are the trimmed split's tokens without the empty one. */
  def wsTokensSql(x: String): String =
    s"regexp_extract_all($x, '[^$wsSet]+')"

  /** Whitespace-token count (normalize_corpus.py:176 `len(raw_text.split())`)
    * — the size of [[wsTokens]], kept as its own guarded expression. */
  def wordCount(c: Column): Column =
    when(length(wsTrim(c)) === 0, lit(0L))
      .otherwise(size(split(wsTrim(c), "\\s+")).cast("long"))

  /** DuckDB twin of [[wordCount]]. */
  def wordCountSql(x: String): String =
    s"len(${wsTokensSql(x)})"

  /** Count of non-overlapping occurrences of literal `marker` (length-delta
    * trick; exact, codegen'd). DuckDB:
    * (length(x)-length(replace(x,m,'')))/length(m) — double on both sides. */
  def occurrences(c: Column, marker: String): Column =
    (length(c) - length(regexp_replace(c, java.util.regex.Pattern.quote(marker), ""))) /
      lit(marker.length)

  /** Characters remaining after dropping everything not in [a-z]: counted
    * as length minus length-after-deleting-[a-z] via `translate` (char
    * table lookup) — identical to length(regexp_replace(c, "[^a-z]", ""))
    * at a fraction of the per-char cost. Oracle form stays the regex. */
  def alphaCount(c: Column): Column =
    (length(c) - length(translate(c, "abcdefghijklmnopqrstuvwxyz", "")))
      .cast("long")

  /** Count of sentence punctuation characters (translate form — identical
    * to the regexp_replace char-class count). */
  def punctCount(c: Column): Column =
    length(c) - length(translate(c, ".,!?;:", ""))

  /** Non-whitespace character count (translate over the Java `\s` set —
    * identical to length(regexp_replace(c, "\\s", ""))). */
  def nonSpaceCount(c: Column): Column =
    length(translate(c, wsChars, "")).cast("long")

  /** DuckDB twin of [[nonSpaceCount]]. */
  def nonSpaceCountSql(x: String): String =
    s"length(regexp_replace($x, '$wsClass', '', 'g'))"

  /** The k-gram step (k ≥ 2) over a positioned token relation (doc_id,
    * pos, tok) — a posexplode of [[wsTokens]]: one row (doc_id, `as`) per
    * run of k consecutive tokens, joined by single spaces. A lead window over
    * (doc_id ORDER BY pos) and a null filter on the last lead, so a document
    * with fewer than k tokens has no k-grams. */
  def kgrams(toks: DataFrame, k: Int, as: String): DataFrame = {
    require(k >= 2, s"kgrams needs k >= 2, got $k")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val next = (1 until k).map(i => s"t$i")
    toks
      .select(col("doc_id") +: col("tok") +:
        next.zipWithIndex.map { case (n, i) => lead("tok", i + 1).over(w).as(n) }: _*)
      .filter(col(next.last).isNotNull)
      .select(col("doc_id"), concat_ws(" ", col("tok") +: next.map(col): _*).as(as))
  }

  /** DuckDB twin of [[kgrams]] over a relation `rel` of (doc_id, t) token
    * arrays: a SELECT of (doc_id, `as`), 1-based list indexing. */
  def kgramsSql(rel: String, k: Int, as: String): String = {
    val gram = (0 until k).map(j => if (j == 0) "t[i]" else s"t[i+$j]").mkString(" || ' ' || ")
    s"""SELECT doc_id, $gram AS $as
       |FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - ${k - 1})) AS i
       |      FROM $rel WHERE len(t) >= $k)""".stripMargin
  }

  /** Distinct k-word shingles of [[wsTokens]], as an array column — the one
    * array-form shingle. Empty array when the text has fewer than k tokens.
    * Built from transform + slice over the token array, no UDF. */
  def wordShingles(c: Column, k: Int): Column = {
    val toks = wsTokens(c)
    val n = size(toks)
    array_distinct(
      when(n < k, array().cast("array<string>"))
        .otherwise(transform(
          sequence(lit(0), n - lit(k)),
          i => concat_ws(" ", slice(toks, i + 1, lit(k))))))
  }
}
