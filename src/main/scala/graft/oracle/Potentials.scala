package graft.oracle

import graft.SparkEntry
import graft.ner.NerModel
import graft.oracle.Sql.{dan2, dan2Cls, fixWord, fnvSql, smix1, smix2, smix3, smixOut, str, u64}

/** Per-token CRF potential tables over `wrow`, each a CTE chain ending in
  * `pots(doc_id, i, n, pot)`: `pot` lists the log-potential of every label
  * window, indexed cur + K·prev + K²·prev2 … (1-based). Every factor sums its
  * weights in the order the engine's idsAt iteration adds them, so the sums
  * are bit-exact, and a feature absent from the model adds nothing: the
  * reference's unseen-feature drop (CRFClassifier.java:200-207).
  */
object Potentials {

  /** dan2 character classes of each token: `cls0(doc_id, i, w, n, cls)`. */
  private val classes: String = s"cls0 AS (SELECT doc_id, i, w, n, ${dan2Cls("w")} AS cls FROM wrow)"

  /** dan2 shape of each token and of its predecessor ('' at a document's
    * start): `pshp(doc_id, i, w, n, s, ps)`.
    */
  private val shapes: String =
    s"""$classes,
       |shp AS (SELECT doc_id, i, w, n, ${dan2("w")} AS s FROM cls0),
       |pshp AS (SELECT doc_id, i, w, n, s,
       |    coalesce(lag(s) OVER (PARTITION BY doc_id ORDER BY i), '') AS ps FROM shp)""".stripMargin

  /** The q41 hash CRF (SparkEntry.hashCrfModel): 3 labels, unary features
    * `w-WORD|C` and `s-TYPE|C`, pair features `PSEQ|CpC` and
    * `ps-s-TYPES|CpC`, each weight the EXACT formula of
    * `SparkEntry.hashWeight` (fnv, per-column golden-ratio mix, splitmix64,
    * mapped to [-1, 1)). Sums associate as u = wWORD + wTYPE,
    * tr = wPSEQ + wTYPES, pot = u + tr.
    */
  val hashed: String = {
    val golden = 0x9e3779b97f4a7c15L
    def mixRows(n: Int): String =
      (0 until n).map(c => s"($c,${u64(golden * (c + 1))}::HUGEINT)").mkString(",")
    val pseqRows = (0 until 9)
      .map(c => s"($c,${double(SparkEntry.hashWeight("PSEQ|CpC", c))})").mkString(",")
    s"""$shapes,
       |hbase AS (SELECT doc_id, i, n,
       |    ${fnvSql("w || '-WORD|C'")} hw,
       |    ${fnvSql("s || '-TYPE|C'")} hs,
       |    ${fnvSql("ps || '-' || s || '-TYPES|CpC'")} ht FROM pshp),
       |mixu(col, mx) AS (VALUES ${mixRows(3)}),
       |mixt(col, mx) AS (VALUES ${mixRows(9)}),
       |pseqw(col, pw) AS (VALUES $pseqRows),
       |hx AS (
       |  SELECT doc_id, i, 'u' kind, col, xor(hw, mx) x FROM hbase, mixu
       |  UNION ALL SELECT doc_id, i, 'u', col, xor(hs, mx) FROM hbase, mixu
       |  UNION ALL SELECT doc_id, i, 't', col, xor(ht, mx) FROM hbase, mixt),
       |sm1 AS (SELECT doc_id, i, kind, col, ${smix1("x")} z1 FROM hx),
       |sm2 AS (SELECT doc_id, i, kind, col, ${smix2("z1")} z2 FROM sm1),
       |sm3 AS (SELECT doc_id, i, kind, col, ${smix3("z2")} z3 FROM sm2),
       |wv AS (SELECT doc_id, i, kind, col,
       |    ((${smixOut("z3")} // 2048)::DOUBLE / 9007199254740992.0) * 2.0 - 1.0 wt FROM sm3),
       |uac AS (SELECT doc_id, i, col, sum(wt) u FROM wv WHERE kind = 'u' GROUP BY 1, 2, 3),
       |tac AS (SELECT doc_id, i, col, pq.pw + wt tr FROM wv JOIN pseqw pq USING (col) WHERE kind = 't'),
       |p9 AS (SELECT t.doc_id, t.i, t.col, u.u + t.tr pot
       |  FROM tac t JOIN uac u ON u.doc_id = t.doc_id AND u.i = t.i AND u.col = t.col % 3),
       |pots AS MATERIALIZED (SELECT p9.doc_id, p9.i, any_value(hbase.n) n, list(pot ORDER BY col) pot
       |  FROM p9 JOIN hbase ON hbase.doc_id = p9.doc_id AND hbase.i = p9.i
       |  GROUP BY p9.doc_id, p9.i)""".stripMargin
  }

  /** A double literal. CAST the STRING form: a bare numeric literal is
    * inferred as DECIMAL, and DECIMAL->DOUBLE does not round-trip every
    * shortest-repr double (found via q47's 1-ulp rank-2 tie divergence);
    * string->DOUBLE parsing is correctly rounded.
    */
  private def double(d: Double): String = s"CAST('$d' AS DOUBLE)"

  /** Feature strings by id: the inverse of the model's featureIndex. */
  private def featureNames(m: NerModel): Array[String] = {
    val names = new Array[String](m.featureIndex.size)
    m.featureIndex.forEach((k, v) => names(v.intValue) = k)
    names
  }

  /** (feature, column, weight) rows of the features whose clique suffix is
    * `clique` ("C" or "CpC").
    */
  private def weightRows(m: NerModel, clique: String): String = {
    val names = featureNames(m)
    (for {
      id <- names.indices.iterator if names(id).substring(names(id).lastIndexOf('|') + 1) == clique
      (w, c) <- m.weights(id).iterator.zipWithIndex
    } yield s"(${str(names(id))},$c,${double(w)})").mkString(",")
  }

  /** A model trained on the four SQL-expressible families (TrainedCrf,
    * TrainedTranscriptsCrf): unary u(cur) = w(fixedWord-WORD|C) +
    * w(shape-TYPE|C), pair tr(prev, cur) = w(PSEQ|CpC) +
    * w(prevShape-shape-TYPES|CpC), pot(col) = u(col % K) + tr(col) with
    * col = cur + K·prev (the fullProduct layout), misses coalesced to 0.
    */
  def learned(m: NerModel): String = {
    val k = m.classIndex.length
    def cols(n: Int) = (0 until n).map(c => s"($c)").mkString(",")
    s"""w0(f, c, wt) AS (VALUES ${weightRows(m, "C")}),
       |w1(f, c, wt) AS (VALUES ${weightRows(m, "CpC")}),
       |colsu(col) AS (VALUES ${cols(k)}),
       |colsp(col) AS (VALUES ${cols(k * k)}),
       |$shapes,
       |fxw AS (SELECT doc_id, i, n, s, ps, ${fixWord("w")} AS fw FROM pshp),
       |uac AS (SELECT p.doc_id, p.i, cu.col, coalesce(a.wt, 0) + coalesce(b.wt, 0) AS uu
       |  FROM fxw p CROSS JOIN colsu cu
       |  LEFT JOIN w0 a ON a.f = p.fw || '-WORD|C' AND a.c = cu.col
       |  LEFT JOIN w0 b ON b.f = p.s || '-TYPE|C' AND b.c = cu.col),
       |tac AS (SELECT p.doc_id, p.i, cp.col, coalesce(a.wt, 0) + coalesce(b.wt, 0) AS tr
       |  FROM fxw p CROSS JOIN colsp cp
       |  LEFT JOIN w1 a ON a.f = 'PSEQ|CpC' AND a.c = cp.col
       |  LEFT JOIN w1 b ON b.f = p.ps || '-' || p.s || '-TYPES|CpC' AND b.c = cp.col),
       |pk AS (SELECT t.doc_id, t.i, t.col, u.uu + t.tr AS pot
       |  FROM tac t JOIN uac u ON u.doc_id = t.doc_id AND u.i = t.i AND u.col = t.col % $k),
       |pots AS MATERIALIZED (SELECT pk.doc_id, pk.i, any_value(w.n) AS n,
       |    list(pot ORDER BY col) AS pot
       |  FROM pk JOIN wrow w ON w.doc_id = pk.doc_id AND w.i = pk.i
       |  GROUP BY pk.doc_id, pk.i)""".stripMargin
  }

  /** The default conllNoTags model (q62-q64): every feature family re-derived
    * in SQL — n-grams (noMidNGrams substring enumeration of `<word>`),
    * word/prev/next word pairs, dan2 shapes WITH the knownLCWords 'k'
    * suffix, the shape conjunction templates (PW_CTYPE…PCNTYPE, the
    * length-gated PPW/NNW variants), disjunctive word windows, and the
    * CpC/CpCp2C sequence templates — in the engine's idsAt emission order
    * with first-occurrence dedup. Per-factor sums are DOUBLE[] left folds in
    * emission order, and a label window the model never observed
    * (`useObservedSequencesOnly`) gets -infinity.
    */
  def defaultModel(m: NerModel): String = {
    require(m.layout.windowSize == 3,
      s"the default-model oracle expects a windowSize-3 model, got ${m.layout.windowSize}")
    val k = m.classIndex.length
    val wc = m.layout.weightCol
    val names = featureNames(m)
    // one row per feature: its weight row as a '[…]'::DOUBLE[] cast string
    // (Double.toString round-trips exactly through VARCHAR→DOUBLE[])
    val weights = names.indices
      .map(id => s"(${str(names(id))},'${m.weights(id).mkString("[", ",", "]")}'::DOUBLE[])")
      .mkString(",\n")
    def zeros(n: Int) = Seq.fill(n)("0.0").mkString("[", ",", "]") + "::DOUBLE[]"
    def nCols(grp: Int) = wc(grp).max + 1
    // acc[c] = ((0 + w1[c]) + w2[c]) + … : the association of the engine's
    // per-cell sums (Crf.logPotentials fills four cells a pass over the
    // features, each still s = 0.0; s += w… in feature order)
    def fold(grp: Int): String = {
      val add = (1 to nCols(grp)).map(c => s"a[$c]+b[$c]").mkString("[", ",", "]")
      s"""g${grp}s AS (SELECT doc_id, i,
         |    list_reduce(list_prepend(${zeros(nCols(grp))}, list(warr ORDER BY seq)), (a,b) -> $add::DOUBLE[]) AS g${grp}v
         |  FROM matched WHERE grp = $grp GROUP BY doc_id, i)""".stripMargin
    }
    // enc = cur + K·prev + K²·prev2: the ((g0 + g1) + g2) sum over each
    // group's observed column, or -infinity when any group's window is
    // unobserved (Crf.logPotentials: weightCol(g)(enc % K^(g+1)) < 0)
    val pot = (0 until k * k * k).map { enc =>
      val c0 = wc(0)(enc % k); val c1 = wc(1)(enc % (k * k)); val c2 = wc(2)(enc)
      if (c0 < 0 || c1 < 0 || c2 < 0) "'-infinity'::DOUBLE"
      else s"((g0v[${c0 + 1}] + g1v[${c1 + 1}]) + g2v[${c2 + 1}])"
    }.mkString(",\n    ")
    val klc = m.knownLC.toSeq.sorted.map(str).mkString(", ")
    s"""wv(f, warr) AS (VALUES $weights),
       |$classes,
       |shp AS MATERIALIZED (SELECT doc_id, i, w, n,
       |    concat(${dan2("w")},
       |      CASE WHEN len(list_filter(cls, c -> c NOT IN ('x','X'))) = 0
       |            AND lower(w) IN ($klc) THEN 'k' ELSE '' END) AS s,
       |    ${fixWord("w")} AS fw
       |  FROM cls0),
       |$windows,
       |$features,
       |${fold(0)},
       |${fold(1)},
       |${fold(2)},
       |gall AS (SELECT a.doc_id, a.i, a.n,
       |    coalesce(g0s.g0v, ${zeros(nCols(0))}) AS g0v,
       |    coalesce(g1s.g1v, ${zeros(nCols(1))}) AS g1v,
       |    coalesce(g2s.g2v, ${zeros(nCols(2))}) AS g2v
       |  FROM att a
       |  LEFT JOIN g0s ON g0s.doc_id = a.doc_id AND g0s.i = a.i
       |  LEFT JOIN g1s ON g1s.doc_id = a.doc_id AND g1s.i = a.i
       |  LEFT JOIN g2s ON g2s.doc_id = a.doc_id AND g2s.i = a.i),
       |pots AS MATERIALIZED (SELECT doc_id, i, n, [
       |    $pot] AS pot
       |  FROM gall)""".stripMargin
  }

  /** The ±4 word and ±2 shape windows over `shp`, with the reference's pad
    * semantics (word "" ; shape "null" through get, "" through getString).
    */
  private val windows: String =
    """win AS (SELECT doc_id, i, n, w, s, fw,
      |    lag(fw)     OVER dw AS pfw,  lag(fw, 2)  OVER dw AS p2fw,
      |    lag(fw, 3)  OVER dw AS p3fw, lag(fw, 4)  OVER dw AS p4fw,
      |    lead(fw)    OVER dw AS nfw,  lead(fw, 2) OVER dw AS n2fw,
      |    lead(fw, 3) OVER dw AS n3fw, lead(fw, 4) OVER dw AS n4fw,
      |    lag(s)      OVER dw AS psr,  lag(s, 2)   OVER dw AS p2sr,
      |    lead(s)     OVER dw AS nsr
      |  FROM shp WINDOW dw AS (PARTITION BY doc_id ORDER BY i)),
      |att AS MATERIALIZED (SELECT doc_id, i, n, s AS cs, fw AS cw,
      |    coalesce(pfw, '') pw, coalesce(p2fw, '') p2w,
      |    coalesce(p3fw, '') p3w, coalesce(p4fw, '') p4w,
      |    coalesce(nfw, '') nw, coalesce(n2fw, '') n2w,
      |    coalesce(n3fw, '') n3w, coalesce(n4fw, '') n4w,
      |    coalesce(psr, 'null') psg, coalesce(psr, '') pss,
      |    coalesce(nsr, 'null') nsg, coalesce(p2sr, 'null') p2sg
      |  FROM win)""".stripMargin

  /** Feature emission in `NerFeaturesFast.idsAt` code order (seq), the
    * preset-only hashing path every SQL-checked model encodes through. Group
    * 0: n-grams (i asc, j asc; seq = i·100 + j, word length bounded far below
    * 100), then the fixed conllNoTags templates from seq 10000, then the
    * interleaved DISJN/DISJP width-4 window. Groups 1-2: the fixed sequence
    * templates. First-occurrence dedup = min(seq) per feature string.
    */
  private val features: String = {
    def rows(from: Int, exprs: String*) =
      exprs.zipWithIndex.map { case (e, k) => s"(${from + k}, $e)" }.mkString(",\n      ")
    val g0 = rows(10000,
      "cw || '-WORD|C'",
      "pw || '-PW|C'",
      "nw || '-NW|C'",
      "cw || '-' || pw || '-W-PW|C'",
      "cw || '-' || nw || '-W-NW|C'",
      "cs || '-TYPE|C'",
      "psg || '-PTYPE|C'",
      "nsg || '-NTYPE|C'",
      "pw || '...' || cs || '-PW_CTYPE|C'",
      "cs || '...' || nw || '-NW_CTYPE|C'",
      "psg || '...' || cs || '-PCTYPE|C'",
      "cs || '...' || nsg || '-CNTYPE|C'",
      "psg || '...' || cs || '...' || nsg || '-PCNTYPE|C'",
      "CASE WHEN length(pw) <= 3 THEN p2w || '...' || cs || '-PPW_CTYPE|C' END",
      "CASE WHEN length(nw) <= 3 THEN n2w || '...' || cs || '-NNW_CTYPE|C' END",
      "nw  || '-DISJN|C'", "pw  || '-DISJP|C'",
      "n2w || '-DISJN|C'", "p2w || '-DISJP|C'",
      "n3w || '-DISJN|C'", "p3w || '-DISJP|C'",
      "n4w || '-DISJN|C'", "p4w || '-DISJP|C'")
    val g1 = rows(1,
      "'PSEQ|CpC'",
      "cw || '-PSEQW|CpC'",
      "pw || '-' || cw || '-PSEQW2|CpC'",
      "pw || '-PSEQpW|CpC'",
      "'-PSEQpDS|CpC'",
      "'-PSEQcDS|CpC'",
      "'--PSEQpcDS|CpC'",
      "pss || '-PSEQpS|CpC'",
      "cs || '-PSEQcS|CpC'",
      "pss || '-' || cs || '-PSEQpcS|CpC'",
      "pss || '-' || cs || '-TYPES|CpC'",
      "cs || '-TPS2|CpC'",
      "nsg || '-TNS1|CpC'")
    val g2 = rows(1,
      "'PPSEQ|CpCp2C'",
      "p2sg || '-' || psg || '-' || cs || '-TYPETYPES|CpCp2C'")
    s"""ngr AS (SELECT doc_id, i, u.sq AS seq, u.f AS f FROM (
       |    SELECT doc_id, i, unnest(flatten([[struct_pack(
       |        sq := ii * 100 + jj,
       |        f  := '#' || substring(wn, ii + 1, jj - ii) || '#|C')
       |      FOR jj IN range(ii + 2, length(wn) + 1) IF ii = 0 OR jj = length(wn)]
       |      FOR ii IN range(0, length(wn))])) AS u
       |    FROM (SELECT doc_id, i, '<' || cw || '>' AS wn FROM att))),
       |feats AS (
       |  SELECT doc_id, i, 0 AS grp, seq, f FROM ngr
       |  UNION ALL
       |  SELECT doc_id, i, 0, t.sq, t.f FROM att,
       |    LATERAL (SELECT * FROM (VALUES
       |      $g0) v(sq, f)) t
       |  UNION ALL
       |  SELECT doc_id, i, 1, t.sq, t.f FROM att,
       |    LATERAL (SELECT * FROM (VALUES
       |      $g1) v(sq, f)) t
       |  UNION ALL
       |  SELECT doc_id, i, 2, t.sq, t.f FROM att,
       |    LATERAL (SELECT * FROM (VALUES
       |      $g2) v(sq, f)) t),
       |fdd AS MATERIALIZED (SELECT doc_id, i, grp, f, min(seq) AS seq
       |  FROM feats WHERE f IS NOT NULL GROUP BY doc_id, i, grp, f),
       |matched AS MATERIALIZED (SELECT d.doc_id, d.i, d.grp, d.seq, wv.warr
       |  FROM fdd d JOIN wv ON wv.f = d.f)""".stripMargin
  }
}
