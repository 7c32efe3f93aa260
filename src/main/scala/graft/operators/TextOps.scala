package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Shared text primitives for the dedup / text-analysis operator family.
  *
  * Everything here is composed from `org.apache.spark.sql.functions` so the
  * expressions stay inside whole-stage codegen (no UDF boundary), and every
  * primitive has an exact ANSI-SQL twin (see the `*Sql` members) so the
  * DuckDB oracle can reproduce the value bit-for-bit.
  *
  * Hashing design: a shingle/token hash is the first 8 hex chars of md5,
  * read as an unsigned 32-bit integer. md5 is identical everywhere, and
  * the 64-bit arithmetic that follows ((a*h + b) mod P) stays below 2^63
  * so Spark and DuckDB agree exactly.
  */
object TextOps {

  /** Large prime for universal hashing; h < 2^32, a,b < P, P < 2^31 ⇒
    * a*(h mod P) + b < 2^62: no int64 overflow on either engine.
    */
  val HashP: Long = 1000000007L

  /** Deterministic hash-family constants (fixed seed, public formula:
    * splitmix-style constants folded mod P; stability matters, not quality).
    */
  def hashParams(n: Int): Seq[(Long, Long)] =
    (1 to n).map { i =>
      val a = (2862933555777941757L * i + 3037000493L) % (HashP - 1) + 1
      val b = (4294967291L * i + 1442695040888963407L % HashP) % HashP
      (math.abs(a), math.abs(b))
    }

  /** Lowercase, strip non-alphanumerics (keep spaces), collapse whitespace. */
  def normalize(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", " "), " +", " "))

  def normalizeSql(text: String): String =
    s"trim(regexp_replace(regexp_replace(lower($text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"

  /** Whitespace tokens of the normalized text. */
  def tokens(text: Column): Column = split(normalize(text), " ")

  def tokensSql(text: String): String =
    s"string_split(${normalizeSql(text)}, ' ')"

  /** Word n-gram shingles from an ALREADY-MATERIALIZED tokens column.
    *
    * `toks` must be a bound column (e.g. via `.withColumn("toks",
    * tokens(text))`), not an inline `tokens(text)` expression: the lambda
    * below references it ~3n times per row, and Catalyst re-evaluates an
    * inlined subexpression at every reference inside a higher-order
    * function (measured 13x slower when normalize+split is inlined).
    */
  def shinglesFromToks(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)), i =>
        concat_ws(" ", (0 until n).map(k => element_at(toks, i + k)): _*)))
      .otherwise(array())

  /** Word n-gram shingles as space-joined strings; empty array when the
    * document has fewer than n tokens. Convenience form — in hot paths
    * materialize the tokens column first and use [[shinglesFromToks]].
    */
  def shingles(text: Column, n: Int): Column =
    shinglesFromToks(tokens(text), n)

  /** DuckDB twin of [[shingles]]: expects `toks` list column in scope. */
  def shinglesSql(toks: String, n: Int): String = {
    val parts = (0 until n).map(k => s"$toks[i + $k]").mkString(" || ' ' || ")
    s"""CASE WHEN len($toks) >= $n
        THEN [ $parts for i in generate_series(1, len($toks) - ${n - 1}) ]
        ELSE [] END"""
  }

  /** First 8 md5 hex chars as an unsigned 32-bit value in a BIGINT. */
  def hash32(s: Column): Column =
    conv(substring(md5(s), 1, 8), 16, 10).cast("long")

  def hash32Sql(s: String): String =
    s"CAST(concat('0x', substr(md5($s), 1, 8)) AS BIGINT)"

  /** First 15 md5 hex chars as an unsigned 60-bit value in a BIGINT —
    * the wider [[hash32]] for fingerprints whose individual BITS are
    * the payload (SimHash): 60 bits stays positive in a signed 64-bit
    * long on BOTH engines (16 chars could overflow DuckDB's BIGINT
    * cast), and 60 = 4 × 15 splits evenly into four SimHash bands.
    */
  def hash60(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  def hash60Sql(s: String): String =
    s"CAST(concat('0x', substr(md5($s), 1, 15)) AS BIGINT)"

  /** i-th universal hash of a 32-bit value, as SQL:
    * (a_i*(h mod P) + b_i) mod P.
    */
  def universalHashSql(h: String, a: Long, b: Long): String =
    s"(($a * ($h % $HashP) + $b) % $HashP)"

  // ------------------------------------------------------------------
  // JVM twins of the primitives above, for typed map/mapPartitions
  // operators. Bit-identical to the Column forms: same regexes (Java
  // regex, as Spark's regexp_replace uses), same md5-prefix hash.
  // ------------------------------------------------------------------

  private val NonAlnumRe = java.util.regex.Pattern.compile("[^a-z0-9 ]")
  private val MultiSpaceRe = java.util.regex.Pattern.compile(" +")

  /** JVM twin of [[normalize]]. */
  def normalizeStr(s: String): String =
    MultiSpaceRe.matcher(
      NonAlnumRe.matcher(s.toLowerCase(java.util.Locale.ROOT)).replaceAll(" "))
      .replaceAll(" ").trim

  /** JVM twin of `hash32(md5(...))`: first 4 md5 bytes as an unsigned
    * 32-bit value (== first 8 hex chars parsed base-16).
    */
  def hash32Str(md: java.security.MessageDigest, s: String): Long = {
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  /** JVM twin of [[hash60]]: first 7 md5 bytes plus the high nibble of
    * byte 7 (== first 15 hex chars parsed base-16).
    */
  def hash60Str(md: java.security.MessageDigest, s: String): Long = {
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    (v << 4) | ((d(7) >> 4) & 0xfL)
  }

  /** Sorted distinct hashes of the word-n-gram shingles of `text` — the
    * JVM twin of `array_sort(array_distinct(transform(shingles(text,n),
    * hash32)))`. Empty when the document has fewer than n tokens.
    */
  def shingleHashSet(
      md: java.security.MessageDigest, text: String, n: Int): Array[Long] = {
    val toks = normalizeStr(text).split(" ", -1)
    if (toks.length < n) Array.emptyLongArray
    else {
      val set = scala.collection.mutable.SortedSet.empty[Long]
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i + n <= toks.length) {
        sb.setLength(0)
        var k = 0
        while (k < n) {
          if (k > 0) sb.append(' ')
          sb.append(toks(i + k))
          k += 1
        }
        set += hash32Str(md, sb.toString)
        i += 1
      }
      set.toArray
    }
  }
}
