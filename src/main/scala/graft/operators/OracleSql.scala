package graft.operators

/** SQL fragments shared by the DuckDB oracles. */
private[graft] object OracleSql {

  /** The integer value of the first `n` hex digits of `hex`, an SQL
    * expression yielding lowercase hex (an md5, or a substr of one). Decoded
    * digit by digit with strpos because DuckDB has no portable hex-to-int
    * cast for prefixes up to 15 digits; parenthesized, so it composes. */
  def hexPrefix(hex: String, n: Int): String =
    (1 to n).map { i =>
      val digit = s"(strpos('0123456789abcdef', substr($hex, $i, 1)) - 1)"
      if (i == n) digit else s"$digit * ${BigInt(16).pow(n - i)}"
    }.mkString("(", " + ", ")")
}
