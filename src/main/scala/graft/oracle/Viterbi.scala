package graft.oracle

import graft.core.Crf

/** Viterbi decoding in SQL over `pots(doc_id, i, n, pot)` (Potentials): a
  * recursive CTE carrying each document's DP score vector and best label
  * paths as lists, one row per position.
  */
object Viterbi {

  /** `CASE` over candidates 0 until n keeping the FIRST maximum: the
    * engine's argmax scans with a strict `>`, so a tie goes to the lower index.
    */
  private def firstMax(n: Int, value: Int => String, result: Int => String): String =
    (0 until n - 1).map { j =>
      s"WHEN ${(j + 1 until n).map(q => s"${value(j)} >= ${value(q)}").mkString(" AND ")} THEN ${result(j)}"
    }.mkString("CASE ", " ", s" ELSE ${result(n - 1)} END")

  /** Product-space Viterbi of the given `order` (the number of previous
    * labels a potential sees) over `labels`, ending in per-token
    * `tags(doc_id, i, w, tag)`. A state is the last `order` labels with the
    * current label as the lowest base-K digit; `pot` is indexed by the state
    * plus K^order times the label that falls out of the window. For each
    * target state, candidate x ascending comes from prior state
    * state / K + K^(order-1)·x through potential state + K^order·x. The
    * initial row reaches only states whose older labels are all the
    * background label (the pre-document pad).
    */
  def decode(labels: Seq[String], order: Int, bg: Int): String = {
    val k = labels.length
    val states = Crf.pow(k, order)
    val top = states / k
    def prior(t: Int, x: Int) = t / k + top * x
    def cand(t: Int, x: Int) = s"(v.scores[${prior(t, x) + 1}] + p.pot[${t + states * x + 1}])"
    val bgPrefix = (1 until order).foldLeft(0)((acc, _) => acc * k + bg)
    val init = (0 until states).map { t =>
      if (t / k == bgPrefix) s"pot[${t + states * bg + 1}]" else "'-infinity'::DOUBLE"
    }.mkString("[", ", ", "]")
    val initPaths = (0 until states).map(t => s"[${t % k}]").mkString("[", ", ", "]")
    val best = (0 until states).map(t => s"greatest(${(0 until k).map(cand(t, _)).mkString(", ")})")
    val paths = (0 until states).map { t =>
      s"(${firstMax(k, cand(t, _), x => s"v.paths[${prior(t, x) + 1}]")} || [${t % k}])"
    }
    val tagCase = labels.init.zipWithIndex.map { case (lab, i) => s"WHEN $i THEN '$lab'" }.mkString(" ")
    s"""vit AS (
       |  SELECT doc_id, i, n, $init AS scores, $initPaths AS paths FROM pots WHERE i = 1
       |  UNION ALL
       |  SELECT p.doc_id, p.i, p.n,
       |    [${best.mkString(",\n     ")}],
       |    [${paths.mkString(",\n     ")}]
       |  FROM vit v JOIN pots p ON p.doc_id = v.doc_id AND p.i = v.i + 1),
       |fin AS (SELECT doc_id, ${firstMax(states, j => s"scores[${j + 1}]", j => s"paths[${j + 1}]")} AS path
       |  FROM vit WHERE i = n),
       |tags AS (SELECT w.doc_id, w.i, w.w,
       |    CASE f.path[w.i] $tagCase ELSE '${labels.last}' END AS tag
       |  FROM wrow w JOIN fin f USING (doc_id))""".stripMargin
  }

  /** q47: 2-best Viterbi over the 3-label hash CRF (KBestSequenceFinder
    * semantics). The recursion carries 18-entry DP lists (flat index =
    * state*2 + rank, state = prevLabel*3 + curLabel over the last two
    * labels) of scores and label paths. Per step and state, the six
    * candidates (3 prepended classes x 2 prev ranks, in that index order —
    * the engine's candidate insertion order) are ranked by score with
    * FIRST-index tie selection (list_position returns the first occurrence),
    * which equals the engine's stable sortBy(-score); absent engine entries
    * are -infinity fillers that can never outrank a real candidate. Lateral
    * column aliases stage the per-state computations; the recursive member
    * wraps them in a subquery so the UNION ALL arity matches. Scores are
    * rounded to 6 dp on both sides.
    */
  val kBest: String = {
    val NI = "'-infinity'::DOUBLE"
    // base (engine pos 0): only states (prev=O, c) carry one real entry
    val baseSc = (0 until 9).flatMap { st =>
      if (st < 3) Seq(s"pot[${st + 1}]", NI) else Seq(NI, NI)
    }.mkString("[", ", ", "]::DOUBLE[]")
    val basePaths = (0 until 9).flatMap { st =>
      if (st < 3) Seq(s"[$st]", "[]") else Seq("[]", "[]")
    }.mkString("[", ", ", "]::INT[][]")
    // per-state lateral aliases in the recursive member's inner select
    val stateAliases = (0 until 9).flatMap { st =>
      val p1 = st / 3; val c = st % 3
      val cands = for (a <- 0 until 3; r <- 0 until 2)
        yield s"vsc[${(a * 3 + p1) * 2 + r + 1}] + pot[${p1 * 3 + c + 1}]"
      def pf(idx: String) = s"((((($idx) - 1) // 2) * 3 + $p1) * 2 + ((($idx) - 1) % 2)) + 1"
      Seq(
        s"${cands.mkString("[", ", ", "]")}::DOUBLE[] cst$st",
        s"list_max(cst$st) v1_$st",
        s"list_position(cst$st, v1_$st) i1_$st",
        s"list_max([CASE WHEN j = i1_$st THEN $NI ELSE cst$st[j] END FOR j IN range(1, 7)]) v2_$st",
        s"list_position([CASE WHEN j = i1_$st THEN $NI ELSE cst$st[j] END FOR j IN range(1, 7)], v2_$st) i2_$st",
        s"vpaths[${pf(s"i1_$st")}] || [$c] pth1_$st",
        s"vpaths[${pf(s"i2_$st")}] || [$c] pth2_$st")
    }.mkString(",\n      ")
    val scNew = (0 until 9).flatMap(st => Seq(s"v1_$st", s"v2_$st")).mkString("[", ", ", "]")
    val pathsNew = (0 until 9).flatMap(st => Seq(s"pth1_$st", s"pth2_$st")).mkString("[", ", ", "]")
    s"""kb AS (
       |  SELECT doc_id, i, n, $baseSc sc, $basePaths paths
       |  FROM pots WHERE i = 1
       |  UNION ALL
       |  SELECT doc_id, i, n, $scNew sc, $pathsNew paths FROM (
       |    SELECT v.doc_id, p.i, p.n, v.sc vsc, v.paths vpaths, p.pot pot,
       |      $stateAliases
       |    FROM kb v JOIN pots p ON p.doc_id = v.doc_id AND p.i = v.i + 1)),
       |kfin AS (SELECT doc_id, sc, paths,
       |    list_max(sc) v1, list_position(sc, list_max(sc)) i1 FROM kb WHERE i = n),
       |ktop AS (SELECT doc_id, paths, i1, v1,
       |    list_max([CASE WHEN j = i1 THEN $NI ELSE sc[j] END FOR j IN range(1, 19)]) v2,
       |    list_position([CASE WHEN j = i1 THEN $NI ELSE sc[j] END FOR j IN range(1, 19)], v2) i2
       |  FROM kfin),
       |kout AS (SELECT doc_id, 1 rnk, paths[i1] path, round(v1, 6) score FROM ktop
       |  UNION ALL SELECT doc_id, 2, paths[i2], round(v2, 6) FROM ktop)
       |SELECT w.doc_id, CAST(k.rnk AS INT) AS rank, CAST(w.i - 1 AS INT) AS pos, w.w AS token,
       |  CASE k.path[w.i] WHEN 0 THEN 'O' WHEN 1 THEN 'LOCATION' ELSE 'PERSON' END AS tag,
       |  k.score
       |FROM wrow w JOIN kout k USING (doc_id)""".stripMargin
  }
}
