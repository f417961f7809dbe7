package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis building blocks for the large-scale training-data pipeline
  * (builder brief): tokenization, shingling, MinHash, SimHash, rolling
  * fingerprints. Everything is built from codegen'd built-in functions and
  * higher-order array expressions — no UDFs — and every hash is md5-hex, so
  * the DuckDB oracle can replay the exact computation.
  *
  * Scale notes: token/shingle explosion is linear in corpus bytes and
  * map-side only; MinHash signatures reduce each document to k strings in
  * ONE hash aggregation (k independent `min`s); LSH banding turns near-dup
  * search into an equi-join on (band, bucket) — never an all-pairs product.
  */
object Text {

  /** Whitespace tokens (documents are single-spaced). */
  def tokens(text: Column): Column = split(text, " ")

  /** Word bigram shingles as a DISTINCT set; empty when fewer than 2
    * tokens. Codegen'd (see [[graft.expr.NgramUtil]]) — the interpreted
    * `transform(sequence(...))` spelling was the shingling hot spot.
    */
  val bigramsExpr: String = "word_ngrams(tk, 2, true)"

  /** DuckDB twin of [[bigramsExpr]] (range() is exclusive and never counts
    * down, so no guard needed).
    */
  val bigramsSql: String =
    "list_distinct(list_transform(range(1, len(tk)), i -> concat(tk[i], ' ', tk[i+1])))"

  /** DuckDB word n-gram twin of `word_ngrams(tk, n, distinct)` (1-based
    * list indexing; `range` is exclusive and never counts down, so texts
    * shorter than n tokens yield an empty list in both engines).
    */
  def wordNgramsSql(n: Int, distinct: Boolean): String = {
    val terms = (0 until n)
      .map(k => if (k == 0) "tk[i]" else s"tk[i+$k]").mkString(", ' ', ")
    val lst = s"list_transform(range(1, len(tk) - ${n - 2}), i -> concat($terms))"
    if (distinct) s"list_distinct($lst)" else lst
  }

  /** Char trigrams of a text column (for the language-ID profiles);
    * codegen'd, empty when shorter than 3 chars.
    */
  val charTrigramsExpr: String = "char_ngrams(text, 3, false)"

  val charTrigramsSql: String =
    "list_transform(range(1, length(text) - 1), i -> substr(text, i, 3))"

  /** MinHash family: hash_i(shingle) = md5('<i>|' || shingle); the minimum
    * hex string per document is a valid MinHash (md5 is uniform; hex
    * compare = value compare). Identical in both engines.
    */
  def minhashAggsSql(numHashes: Int): Seq[String] =
    (0 until numHashes).map(i => s"min(md5(concat('$i|', sh))) AS mh$i")

  /** 60-bit integer from the first 15 hex chars of an md5 expression —
    * the DuckDB-side twin of Spark's `conv(substr(h, 1, 15), 16, 10)`
    * (DuckDB has no conv; plain instr/substr arithmetic is valid in both
    * dialects). 16^14 · 15 < 2^63, so the sum is overflow-free.
    */
  def hexPrefixInt60Sql(hex: String): String = hexPrefixIntSql(hex, 15)

  /** Integer from the first `digits` hex chars of `hex` — same
    * instr/substr arithmetic, any width up to 15 (16^14·15 < 2^63).
    */
  def hexPrefixIntSql(hex: String, digits: Int): String = {
    require(digits >= 1 && digits <= 15, "1..15 hex digits fit a BIGINT")
    (0 until digits).map { p =>
      // CAST keeps the small powers BIGINT: a bare 16^7 literal parses as
      // INT in Spark and the digit product overflows under ANSI mode
      val pow = math.pow(16, digits - 1 - p).toLong
      s"(instr('0123456789abcdef', substr($hex, ${p + 1}, 1)) - 1) * CAST($pow AS BIGINT)"
    }.mkString("(", " + ", ")")
  }

  /** 16-bit token hash from the first 4 hex chars of md5 — plain
    * instr/substr arithmetic, valid verbatim in BOTH engines.
    */
  val tokenHash16Sql: String = {
    val digit = (p: Int) => s"(instr('0123456789abcdef', substr(md5(t), $p, 1)) - 1)"
    s"(${digit(1)} * 4096 + ${digit(2)} * 256 + ${digit(3)} * 16 + ${digit(4)})"
  }

  /** SimHash bit-balance aggregates: s_i = Σ_tokens (bit_i(h) ? +1 : -1).
    * `shift` is the dialect's right-shift spelling.
    */
  def simhashBalanceSql(bits: Int, shift: (String, Int) => String): Seq[String] =
    (0 until bits).map { i =>
      s"CAST(sum(CASE WHEN (${shift("h", i)}) % 2 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS s$i"
    }

  /** Assemble the fingerprint from the balances: bit set iff s_i >= 0. */
  def simhashAssembleSql(bits: Int): String =
    (0 until bits).map(i => s"(CASE WHEN s$i >= 0 THEN ${1L << i} ELSE 0 END)")
      .mkString("(", " + ", ")")
}
