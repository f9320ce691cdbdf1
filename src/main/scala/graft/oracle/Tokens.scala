package graft.oracle

import graft.SparkEntry
import graft.oracle.Sql.{smixCtes, u64, umul64}
import graft.pipeline.Transcripts

/** The token streams the tagging oracles read. Each is a CTE chain ending in
  * `wrow(doc_id, i, w, n)`: token `w` at 1-based position `i` of a document
  * of `n` tokens.
  */
object Tokens {

  /** The documents table through the engine's token regex (q41-q53). */
  val documents: String =
    s"""tok AS (SELECT doc_id, regexp_extract_all(lower(text), '${SparkEntry.TokPat}') t FROM documents),
       |posn AS (SELECT doc_id, unnest(range(1, len(t)+1)) AS i, t FROM tok),
       |wrow AS (SELECT doc_id, i, t[i] AS w, len(t) AS n FROM posn)""".stripMargin

  /** splitmix64(42 ^ 0x5851f42d4c957f2d): the constant inner stage of the
    * generator's h(seed=42, a, b, c) (Transcripts.scala h()).
    */
  private val S1: Long = graft.ops.Hashing.splitmix64(42L ^ 0x5851f42d4c957f2dL)

  /** h(42, aExpr, ·) with the b·31+c mix supplied pre-combined as `bcExpr`
    * (already reduced mod 2^64): two chained splitmix64 stages around the
    * FNV-prime multiply and the xor folds. The final CTE is named `pfx` and
    * carries `keep` + `out`.
    */
  private def hCtes(src: String, keep: String, aExpr: String, bcExpr: String, out: String, pfx: String): String = {
    val inner = smixCtes(src, keep,
      s"xor(${u64(S1)}::HUGEINT, ${umul64(aExpr, 0x100000001b3L)})", "hmid", s"${pfx}m")
    val outer = smixCtes(s"${pfx}m", keep, s"xor(hmid, $bcExpr)", out, pfx)
    s"$inner,\n$outer"
  }

  private def lst(xs: Seq[String]): String = xs.map(Sql.str).mkString("[", ",", "]")

  /** `pick(xs, r)` = xs[((r >>> 8) % len) + 1] (1-based list literal index);
    * the Scala `.toInt.abs` is a no-op on the non-negative 56-bit value.
    */
  private def pick(xs: Seq[String], r: String): String =
    s"${lst(xs)}[(($r // 256) % ${xs.length})::INT + 1]"

  /** The transcript table's turns (q56-q64), regenerated from the generator's
    * pure splitmix64 formulas, with doc_id = conv·100 + turn_idx. The only
    * table read is `customer`: its row count, 150000·sf, recovers
    * `SparkEntry.nConvs` = max(200, sf·200000) = max(200, count·4/3).
    * Mirrors Transcripts.synth exactly: numTurns (with the (>>>16).toInt
    * 32-bit truncation and Scala abs/% sign semantics), tool-turn skips,
    * template pick, slot expansion (person title / org second-base
    * conditionals, the r>>>3 / r>>>5 sub-draws, the splitmix64(r) second
    * draw for last names and second org bases).
    */
  val transcripts: String = {
    val tplRows = Transcripts.templates.zipWithIndex.flatMap { case (tpl, tid) =>
      var slot = 0
      tpl.zipWithIndex.map { case (t, pos) =>
        val kind = t match { case "P" | "G" | "L" | "D" => t; case _ => "W" }
        val sidx = if (kind != "W") { val s = slot; slot += 1; s } else -1
        val lit = if (kind == "W") t.replace("'", "''") else ""
        s"($tid,$pos,'$kind',$sidx,'$lit')"
      }
    }.mkString(",")
    // b·31+c mixes: numTurns uses (b=-1, c=0) → -31 mod 2^64; the per-turn
    // draws use small non-negative tix·31+c values.
    val hnt = hCtes("cvs", "cid", "cid::HUGEINT", s"${u64(-31L)}::HUGEINT", "hv", "hnt")
    val htl = hCtes("trn0", "cid, tix", "cid::HUGEINT", "(tix * 31 + 777)::HUGEINT", "hv", "htl")
    val hr0 = hCtes("trn", "cid, tix", "cid::HUGEINT", "(tix * 31)::HUGEINT", "r0", "hr0")
    val hsl = hCtes("srows0", "cid, tix, pos, kind, sidx", "cid::HUGEINT",
      "(tix * 31 + 100 + sidx)::HUGEINT", "rs", "hsl")
    val hsl2 = smixCtes("hsl", "cid, tix, pos, kind, rs", "rs", "rs2", "hsl2")
    import Transcripts.{firstNames, lastNames, titles, orgBases, orgSuffixes, locations, weekdays}
    s"""ncv AS (SELECT greatest(200, (SELECT count(*) FROM customer) * 4 // 3) AS n),
       |cvs AS MATERIALIZED (SELECT unnest(range(0, (SELECT n FROM ncv))) AS cid),
       |$hnt,
       |ntr AS (SELECT cid, 2 + (CASE WHEN t32i = -2147483648 THEN t32i ELSE abs(t32i) END % 6) AS ntur FROM (
       |  SELECT cid, (CASE WHEN t32 >= 2147483648 THEN t32 - 4294967296 ELSE t32 END)::BIGINT AS t32i FROM (
       |    SELECT cid, (hv // 65536) % 4294967296 AS t32 FROM hnt))),
       |trn0 AS MATERIALIZED (SELECT cid, unnest(range(0, ntur)) AS tix FROM ntr),
       |$htl,
       |trn AS MATERIALIZED (SELECT cid, tix FROM htl WHERE hv % 16 <> 0),
       |$hr0,
       |tsel AS (SELECT cid, tix, ((r0 // 256) % 16)::INT AS tid FROM hr0),
       |tpl(tid, pos, kind, sidx, lit) AS (VALUES $tplRows),
       |trows AS MATERIALIZED (SELECT t.cid, t.tix, p.pos, p.kind, p.sidx, p.lit
       |  FROM tsel t JOIN tpl p ON p.tid = t.tid),
       |srows0 AS (SELECT cid, tix, pos, kind, sidx FROM trows WHERE kind <> 'W'),
       |$hsl,
       |$hsl2,
       |slotw AS MATERIALIZED (SELECT cid, tix, pos,
       |  CASE kind
       |    WHEN 'P' THEN CASE WHEN rs % 8 = 0
       |      THEN [${pick(titles, "rs // 8")}, ${pick(firstNames, "rs")}, ${pick(lastNames, "rs2")}]
       |      ELSE [${pick(firstNames, "rs")}, ${pick(lastNames, "rs2")}] END
       |    WHEN 'G' THEN CASE WHEN rs % 4 = 0
       |      THEN [${pick(orgBases, "rs")}, ${pick(orgBases, "rs2")}, ${pick(orgSuffixes, "rs // 32")}]
       |      ELSE [${pick(orgBases, "rs")}, ${pick(orgSuffixes, "rs // 32")}] END
       |    WHEN 'L' THEN [${pick(locations, "rs")}]
       |    ELSE [${pick(weekdays, "rs")}] END AS ws
       |  FROM hsl2),
       |litw AS (SELECT cid, tix, pos, [lit] AS ws FROM trows WHERE kind = 'W'),
       |tokl AS (SELECT cid, tix, flatten(list(ws ORDER BY pos)) AS t
       |  FROM (SELECT * FROM slotw UNION ALL SELECT * FROM litw) GROUP BY cid, tix),
       |posn AS (SELECT cid, tix, unnest(range(1, len(t)+1)) AS i, t FROM tokl),
       |wrow AS MATERIALIZED (SELECT cid * 100 + tix AS doc_id, i, t[i] AS w, len(t) AS n FROM posn)""".stripMargin
  }
}
