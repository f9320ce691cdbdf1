package graft.oracle

/** The SQL algebra every DuckDB oracle is written in, defined once: 64-bit
  * hashing over HUGEINT and the dan2 word shape.
  *
  * Unsigned 64-bit values live in HUGEINT, xor() is native, >>> k is // 2^k,
  * and (a*b) mod 2^64 splits a into 32-bit halves so the 128-bit product never
  * overflows: a*b mod 2^64 = (a_lo*b + ((a_hi*b_lo) mod 2^32)*2^32) mod 2^64.
  */
object Sql {

  val M64 = "18446744073709551616" // 2^64

  def u64(x: Long): String = java.lang.Long.toUnsignedString(x)

  def umul64(t: String, c: Long): String =
    s"(($t) % 4294967296 * ${u64(c)} + (($t) // 4294967296 * ${u64(c & 0xffffffffL)} % 4294967296) * 4294967296) % $M64::HUGEINT"

  /** FNV-1a over a string expression (== Hashing.fnv1a64, unsigned in
    * HUGEINT), continuing from `seed` (the offset basis by default).
    */
  def fnvSql(col: String, seed: String = "14695981039346656037::HUGEINT"): String =
    s"""list_reduce(list_prepend($seed,
       |    list_transform(string_split($col,''), c -> ord(c)::HUGEINT)),
       |  (h, c) -> ${umul64("xor(h, c)", 0x100000001b3L)})""".stripMargin

  /** HUGEINT in [0, 2^64) -> its signed-64 value as BIGINT (Spark LongType). */
  def toSigned(c: String): String =
    s"CAST(CASE WHEN $c >= 9223372036854775808 THEN $c - $M64 ELSE $c END AS BIGINT)"

  // splitmix64 (== Hashing.splitmix64) as four stages over unsigned HUGEINT:
  // add the golden gamma, two xor-shift-multiplies, a final xor-shift.
  def smix1(x: String): String = s"($x + 11400714819323198485) % $M64::HUGEINT"
  def smix2(z: String): String = umul64(s"xor($z, $z // 1073741824)", 0xbf58476d1ce4e5b9L)
  def smix3(z: String): String = umul64(s"xor($z, $z // 134217728)", 0x94d049bb133111ebL)
  def smixOut(z: String): String = s"xor($z, $z // 2147483648)"

  /** splitmix64 as a chain of MATERIALIZED CTEs: `pfx` names the final CTE,
    * holding `keep` and `out` = splitmix64(`in`). Each stage must be its own
    * materialization barrier: DuckDB's optimizer inlines single-use CTE and
    * subquery projections into their consumers, and because the wrap-around
    * multiply references its operand more than once, an 8-deep inlined chain
    * explodes exponentially (a 9k-row filter took 50 s of redundant
    * recomputation before the stages were split).
    */
  def smixCtes(src: String, keep: String, in: String, out: String, pfx: String): String =
    s"""${pfx}a AS MATERIALIZED (SELECT $keep, ${smix1(s"($in)")} AS s1c FROM $src),
       |${pfx}b AS MATERIALIZED (SELECT $keep, ${smix2("s1c")} AS s2c FROM ${pfx}a),
       |${pfx}c AS MATERIALIZED (SELECT $keep, ${smix3("s2c")} AS s3c FROM ${pfx}b),
       |$pfx AS MATERIALIZED (SELECT $keep, ${smixOut("s3c")} AS $out FROM ${pfx}c)""".stripMargin

  /** MinHash universal-hash constants `hashers(i, a, b)`, derived EXACTLY as
    * Hashing.minHash derives them (a_i normalized to its signed value mod
    * 2^61-1, matching mulmod61's signed-product semantics; b_i masked to 61
    * bits).
    */
  val minhashHashers: String = {
    val P = (1L << 61) - 1
    val rows = (0 until 64).map { i =>
      val a = graft.ops.Hashing.splitmix64(0x5eedL + 2L * i) | 1L
      val aModP = { val m = a % P; if (m < 0) m + P else m }
      val b = graft.ops.Hashing.splitmix64(0x5eedL + 2L * i + 1) & P
      s"($i,$aModP::HUGEINT,$b::HUGEINT)"
    }
    s"hashers(i, a, b) AS (VALUES ${rows.mkString(",")})"
  }

  /** A string literal. */
  def str(s: String): String = s"'${s.replace("'", "''")}'"

  /** dan2 character classes of a string expression: d/x/X, '_' counted as x,
    * every other character as itself.
    */
  def dan2Cls(c: String): String =
    s"""list_transform(string_split($c, ''), ch ->
       |        CASE WHEN ch BETWEEN '0' AND '9' THEN 'd'
       |             WHEN (ch BETWEEN 'a' AND 'z') OR ch = '_' THEN 'x'
       |             WHEN ch BETWEEN 'A' AND 'Z' THEN 'X'
       |             ELSE ch END)""".stripMargin

  /** dan2 shape of `c` from its class list in column `cls` (knownLCWords
    * empty, so no 'k' suffix). The run-collapse is an index-aware list_filter,
    * not a list_reduce: DuckDB 1.0.0's list_reduce with a growing-VARCHAR
    * accumulator returns a NEIGHBOR row's reduction when adjacent rows carry
    * lists of different lengths (a 9-token unnest returned 'Umbrella''s shape
    * for 'mentions'); HUGEINT and DOUBLE[] accumulators are unaffected. The
    * '^~' replace mirrors the reference's leading-'~' quirk
    * (WordShapeClassifier.java:236 starts lastM at '~', so a leading '~' run
    * is dropped); words of at most 3 characters take a ':len' suffix.
    */
  def dan2(c: String): String =
    s"""'WT-' || regexp_replace(array_to_string(
       |      list_filter(cls, (ch, j) -> j = 1 OR ch != cls[j-1]), ''), '^~', '') ||
       |    CASE WHEN length($c) <= 3 THEN ':' || length($c) ELSE '' END""".stripMargin

  /** The timex word fix (WordShape.fixWord): a whole month or day name,
    * in any case, becomes lowercase; every other word is unchanged.
    */
  def fixWord(w: String): String = {
    val names = Seq("monday", "tuesday", "wednesday", "thursday", "friday", "saturday", "sunday",
      "january", "february", "march", "april", "may", "june", "july", "august", "september",
      "october", "november", "december")
    s"CASE WHEN lower($w) IN (${names.map(str).mkString(", ")}) THEN lower($w) ELSE $w END"
  }
}
