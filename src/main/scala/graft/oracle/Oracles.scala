package graft.oracle

import graft.{KgQueries, TrainedCrf, TrainedTranscriptsCrf}
import graft.SparkEntry.TokPat
import graft.ner.{NerModel, NerModels}
import graft.ops.Similarity
import graft.oracle.Kg._
import graft.oracle.Sql._

/** The DuckDB oracle of every SQL-expressible query, keyed by query name
  * (`SparkEntry.oracleSql`). Conventions for parity: counts CAST to BIGINT,
  * inexact float aggregates rounded, group keys rendered as strings where
  * engines differ on temporal types.
  */
object Oracles {

  /** A tagging oracle's prefix: `WITH RECURSIVE`, a token stream (Tokens),
    * its potentials (Potentials) and the Viterbi decode to `tags`. `order` is
    * the number of previous labels the potentials see.
    */
  private def tagged(tokens: String, pots: String, labels: Seq[String], order: Int, bg: Int): String =
    s"WITH RECURSIVE\n$tokens,\n$pots,\n${Viterbi.decode(labels, order, bg)}"

  /** Tag prefix of a model trained on the four SQL-expressible families,
    * whose potentials are pair tables (order 1). */
  private def learned(tokens: String, m: NerModel): String =
    tagged(tokens, Potentials.learned(m), m.classIndex.toIndexedSeq, 1, m.backgroundIndex)

  /** A gated KG family's tag prefix and corpus; none for the rows-only
    * production family. The trained-weight prefixes embed the in-memory
    * weights of the memoized TrainedCrf / TrainedTranscriptsCrf models
    * (trained on first use) and of the on-disk default model.
    */
  def kgPrefix(family: KgQueries.Family): Option[(String, Corpus)] = family match {
    case KgQueries.Production => None
    case KgQueries.HashDocs => Some((hashTags, Docs))
    case KgQueries.TrainedDocs => Some((learned(Tokens.documents, TrainedCrf.model()), Docs))
    case KgQueries.TrainedTurns => Some((learned(Tokens.transcripts, TrainedTranscriptsCrf.model()), Turns))
    case KgQueries.DefaultTurns =>
      val m = NerModel.load(NerModels.defaultPath)
      Some((tagged(Tokens.transcripts, Potentials.defaultModel(m), m.classIndex.toIndexedSeq,
        m.layout.windowSize - 1, m.backgroundIndex), Turns))
  }

  private def hashTags = tagged(Tokens.documents, Potentials.hashed, Seq("O", "LOCATION", "PERSON"), 1, 0)

  /** All 53 oracles: the relational and text ones, q47, and one per gated
    * entry of the KgQueries table.
    */
  def sql: Map[String, String] = {
    val prefixes = KgQueries.table.map(_._2).distinct.map(f => f -> kgPrefix(f)).toMap
    val kgOracles = KgQueries.table.flatMap { case (name, family, stage) =>
      prefixes(family).map { case (tags, corpus) => name -> compose(tags, corpus, stage) }
    }
    relational ++ kgOracles + ("q47_crf_kbest" -> s"$hashTags,\n${Viterbi.kBest}")
  }

  private val shinglesCte =
    s"""tok AS (SELECT doc_id, regexp_extract_all(lower(text), '$TokPat') t FROM documents),
       |g AS (SELECT doc_id, list_distinct([array_to_string(t[i:i+2], ' ') FOR i IN range(1, len(t)-1)]) sh FROM tok WHERE len(t) >= 3),
       |e AS (SELECT doc_id, s FROM (
       |  SELECT doc_id, s, count(*) OVER (PARTITION BY s) freq
       |  FROM (SELECT doc_id, unnest(sh) s FROM g)) WHERE freq <= 200),
       |sz AS (SELECT doc_id, len(sh) nsh FROM g),
       |i AS (SELECT a.doc_id d1, b.doc_id d2, count(*) inter FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
       |pairs AS (SELECT d1 AS doc_id_1, d2 AS doc_id_2, round(inter * 1.0 / (x.nsh + y.nsh - inter), 4) AS jaccard
       |  FROM i JOIN sz x ON i.d1 = x.doc_id JOIN sz y ON i.d2 = y.doc_id
       |  WHERE round(inter * 1.0 / (x.nsh + y.nsh - inter), 4) >= 0.5)""".stripMargin
  /** Distinct word n-gram shingle STRINGS of lower(text) over whitespace
    * tokens, with the <n-token singleton rule (== Hashing.wordShingles'
    * pre-hash shingle set). CTEs: toks, sh.
    */
  private def wordShinglesCtes(n: Int): String =
    s"""toks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '') t FROM documents),
       |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(t) >= $n
       |  THEN [array_to_string(t[i:i+${n - 1}], ' ') FOR i IN range(1, len(t)-${n - 2})]
       |  ELSE [array_to_string(t, ' ')] END) shingles FROM toks)""".stripMargin
  private val powersCte =
    "powers(b, pw) AS (VALUES " +
      (0 until 64).map(b => s"($b,${u64(1L << b)}::HUGEINT)").mkString(",") + ")"
  /** Per-doc 64-bit SimHash (== Hashing.simHash over wordShingles(lower, n)):
    * fnv each shingle, splitmix64 staged (sm1-sm3, hs), per-bit majority vote.
    * CTEs: toks, sh, shx, sm1..sm3, hs, powers, bits, sim.
    */
  private def simhashCtes(n: Int): String =
    s"""${wordShinglesCtes(n)},
       |shx AS (SELECT doc_id, ${fnvSql("s")} x FROM (SELECT doc_id, unnest(shingles) s FROM sh)),
       |sm1 AS (SELECT doc_id, ${smix1("x")} z1 FROM shx),
       |sm2 AS (SELECT doc_id, ${smix2("z1")} z2 FROM sm1),
       |sm3 AS (SELECT doc_id, ${smix3("z2")} z3 FROM sm2),
       |hs AS (SELECT doc_id, ${smixOut("z3")} h FROM sm3),
       |$powersCte,
       |bits AS (SELECT doc_id, b, sum(((h // pw) % 2)::BIGINT) ones, count(*) nsh
       |  FROM hs CROSS JOIN powers GROUP BY doc_id, b),
       |sim AS (SELECT doc_id, sum(CASE WHEN 2*ones > nsh THEN pw ELSE 0::HUGEINT END) sim
       |  FROM bits JOIN powers USING (b) GROUP BY doc_id)""".stripMargin
  /** Full IVF-Flat oracle (q26): the ENTIRE pipeline — splitmix64 seeding of
    * the 16 initial centroids, FIVE unrolled Lloyd iterations (assignment by
    * squared L2 with (dist, centroid) tie order; per-cluster mean via a
    * sorted-by-vec_id left fold, bit-identical to the operator's
    * flatMapSortedGroups fold; empty cells keep their centroid), final
    * assignment, nProbe=4 probing, and exact cosine rerank — reproduced in
    * ONE DuckDB statement. Round 2 recorded this as "iterative — no
    * single-statement SQL oracle possible"; unrolling the fixed iteration
    * count makes it possible, and it certifies the k-means itself, not just
    * the rerank.
    */
  private val ivfOracleSql: String = {
    val dim = 64
    def dist(v: String, w: String) =
      s"list_reduce([($v[i]-$w[i])*($v[i]-$w[i]) FOR i IN range(1,${dim + 1})], (x,y)->x+y)"
    def cos(a: String, b: String) =
      s"round(list_dot_product($a,$b) / (sqrt(list_dot_product($a,$a)) * sqrt(list_dot_product($b,$b))), 6)"
    val sm = // splitmix64 over vec_id, unsigned stages in HUGEINT
      s"""esm AS (SELECT vec_id, de, ${smixOut("z3")} smu FROM (
         |  SELECT vec_id, de, ${smix3("z2")} z3 FROM (
         |    SELECT vec_id, de, ${smix2("z1")} z2 FROM (
         |      SELECT vec_id, de, ${smix1("vec_id::HUGEINT")} z1 FROM e))))""".stripMargin
    def lloyd(k: Int) =
      s"""a$k AS (SELECT vec_id, de, ci FROM (
         |  SELECT e.vec_id, e.de, c.ci,
         |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${dist("e.de", "c.w")}, c.ci) rn
         |  FROM e CROSS JOIN c${k - 1} c) WHERE rn = 1),
         |s$k AS (SELECT ci, list_reduce(list(de ORDER BY vec_id), (a,b) -> [a[i]+b[i] FOR i IN range(1,${dim + 1})]) s, count(*) n
         |  FROM a$k GROUP BY ci),
         |c$k AS (SELECT p.ci, CASE WHEN s.ci IS NULL THEN p.w ELSE [s.s[i]/s.n FOR i IN range(1,${dim + 1})] END w
         |  FROM c0 p LEFT JOIN s$k s ON p.ci = s.ci)""".stripMargin
    val iters = 5
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) de FROM embeddings),
       |$sm,
       |c0 AS (SELECT row_number() OVER (ORDER BY sms) - 1 ci, de w FROM (
       |  SELECT ${toSigned("smu")} sms, de FROM esm ORDER BY 1 LIMIT 16)),
       |${(1 to iters).map(lloyd).mkString(",\n")},
       |af AS (SELECT vec_id, de, ci FROM (
       |  SELECT e.vec_id, e.de, c.ci,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${dist("e.de", "c.w")}, c.ci) rn
       |  FROM e CROSS JOIN c$iters c) WHERE rn = 1),
       |probe AS (SELECT vec_id qid, de qde, ci FROM (
       |  SELECT e.vec_id, e.de, c.ci,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${dist("e.de", "c.w")}, c.ci) rn
       |  FROM (SELECT * FROM e WHERE vec_id % 50 = 0) e CROSS JOIN c$iters c) WHERE rn <= 4),
       |cand AS (SELECT p.qid, a.vec_id, ${cos("p.qde", "a.de")} sim
       |  FROM af a JOIN probe p ON a.ci = p.ci AND a.vec_id != p.qid),
       |ranked AS (SELECT qid query_id, vec_id neighbor_id, sim,
       |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) rank FROM cand)
       |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, sim FROM ranked WHERE rank <= 5""".stripMargin
  }

  /** RHP hyperplane constants for the q23 oracle, derived by the SAME
    * function the operator uses (Similarity.rhpWeight; Java Double.toString
    * round-trips exactly through DuckDB's parser).
    */
  private val rhpHyperCte: String = {
    val rows = for (t <- 0 until 16; b <- 0 until 6) yield {
      val w = (0 until 64).map(i => Similarity.rhpWeight(0xb175L + 7919L * t, b, i).toString)
      s"($t,$b,[${w.mkString(",")}]::DOUBLE[])"
    }
    s"hyper(t, b, w) AS (VALUES ${rows.mkString(",")})"
  }

  private val relational: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        | round(sum(l_extendedprice), 2) AS sum_base,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc,
        | max(l_extendedprice) AS max_price, CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q02_revenue_by_nation" ->
      """SELECT r_name, n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        | CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2 ORDER BY revenue DESC, n_name""".stripMargin,
    "q03_top_orders_per_customer" ->
      """SELECT o_custkey, CAST(rank AS INT) AS rank, o_orderkey, o_totalprice FROM (
        | SELECT o_custkey, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rank
        | FROM orders) WHERE rank <= 3""".stripMargin,
    "q04_running_supplier_revenue" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        | round(sum(l_extendedprice) OVER (PARTITION BY l_suppkey
        |   ORDER BY l_shipdate, l_orderkey, l_linenumber
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_revenue
        |FROM lineitem""".stripMargin,
    "q05_customer_activity" ->
      """SELECT c_mktsegment,
        | CAST(sum(CASE WHEN has_order THEN 1 ELSE 0 END) AS BIGINT) AS n_active,
        | CAST(sum(CASE WHEN has_order THEN 0 ELSE 1 END) AS BIGINT) AS n_inactive
        |FROM (SELECT c_mktsegment,
        |  EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) AS has_order FROM customer)
        |GROUP BY 1""".stripMargin,
    "q06_rollup_status" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        | coalesce(l_linestatus, 'ALL') AS linestatus,
        | CAST(count(*) AS BIGINT) AS n, sum(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "q07_setops_custkeys" ->
      """SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1995
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996""".stripMargin,
    "q08_sessionize_events" ->
      """SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions,
        | CAST(count(*) AS BIGINT) AS n_events
        |FROM (SELECT user_id,
        |  CASE WHEN prev_ts IS NULL OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END AS new_session
        | FROM (SELECT user_id, ts,
        |   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts FROM events))
        |GROUP BY 1""".stripMargin,
    "q09_json_props" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(k) AS BIGINT) AS sum_k, CAST(min(k) AS BIGINT) AS min_k,
        | CAST(max(k) AS BIGINT) AS max_k
        |FROM (SELECT event_type, CAST(regexp_extract(props, '([0-9]+)', 1) AS BIGINT) AS k FROM events)
        |GROUP BY 1""".stripMargin,
    "q10_daily_events" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
        | CAST(count(*) AS BIGINT) AS n, round(sum(value), 2) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q11_tokens" ->
      s"""SELECT doc_id, unnest(regexp_extract_all(lower(text), '$TokPat')) AS token FROM documents""",
    "q12_token_stats" ->
      s"""SELECT doc_id,
         | CAST(len(tk) AS INT) AS n_tokens,
         | CAST(len(list_filter(tk, x -> regexp_full_match(x, '[a-z]+'))) AS INT) AS n_alpha,
         | CAST(length(text) AS INT) AS n_chars,
         | CAST(coalesce(list_sum(list_transform(tk, x -> length(x))), 0) AS BIGINT) AS sum_token_len
         |FROM (SELECT doc_id, text, regexp_extract_all(lower(text), '$TokPat') tk FROM documents)""".stripMargin,
    "q13_quality" ->
      s"""SELECT doc_id, CAST(len(tk) AS INT) AS n_tokens,
         | round(n_stop / greatest(n_tok, 1.0), 4) AS stopword_ratio,
         | round(n_punct / greatest(n_tok, 1.0), 4) AS punct_ratio,
         | round(greatest(0.0, least(n_tok / 50.0, 1.0) * (1.0 - n_punct / greatest(n_tok, 1.0))
         |   * (0.5 + least(n_stop / greatest(n_tok, 1.0) * 2.5, 0.5))), 4) AS quality
         |FROM (SELECT doc_id, tk, CAST(len(tk) AS DOUBLE) n_tok,
         |  CAST(len(list_filter(tk, x -> list_contains(['the','a','an','of','and','or','to','in','is','it','on','for','with','as','at','by','this','that'], x))) AS DOUBLE) n_stop,
         |  CAST(len(list_filter(tk, x -> regexp_full_match(x, '[^a-z0-9]'))) AS DOUBLE) n_punct
         | FROM (SELECT doc_id, regexp_extract_all(lower(text), '$TokPat') tk FROM documents))""".stripMargin,
    "q14_lang_id" ->
      s"""SELECT doc_id, hits_de, hits_en, hits_es, hits_fr,
         | CASE WHEN hits_de = mx AND mx > 0 THEN 'de'
         |      WHEN hits_en = mx AND mx > 0 THEN 'en'
         |      WHEN hits_es = mx AND mx > 0 THEN 'es'
         |      WHEN hits_fr = mx AND mx > 0 THEN 'fr'
         |      ELSE 'und' END AS pred_lang
         |FROM (SELECT doc_id, hits_de, hits_en, hits_es, hits_fr,
         |  greatest(hits_de, hits_en, hits_es, hits_fr) AS mx FROM (
         |  SELECT doc_id,
         |   CAST(len(list_filter(tk, x -> list_contains(['der','die','und','das','ist','nicht','ein','mit','auf','zu'], x))) AS INT) AS hits_de,
         |   CAST(len(list_filter(tk, x -> list_contains(['the','and','of','to','in','is','you','that','it','for'], x))) AS INT) AS hits_en,
         |   CAST(len(list_filter(tk, x -> list_contains(['el','la','de','que','y','los','se','un','por','con'], x))) AS INT) AS hits_es,
         |   CAST(len(list_filter(tk, x -> list_contains(['le','la','les','et','des','est','un','une','dans','pour'], x))) AS INT) AS hits_fr
         |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '$TokPat') tk FROM documents)))""".stripMargin,
    "q15_dict_tag" ->
      s"""WITH gazette(word, tag) AS (VALUES ('join','OP'),('merge','OP'),('filter','OP'),
         |  ('scan','OP'),('spark','SYS'),('customer','ENT'),('table','ENT'))
         |SELECT doc_id, word, tag
         |FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '$TokPat')) AS word FROM documents)
         |JOIN gazette USING (word)""".stripMargin,
    "q16_dedup_exact" ->
      """SELECT doc_id, md5(lower(text)) AS dup_key,
        | min(doc_id) OVER (PARTITION BY md5(lower(text))) AS keep_doc_id,
        | count(*) OVER (PARTITION BY md5(lower(text))) AS group_size,
        | doc_id = min(doc_id) OVER (PARTITION BY md5(lower(text))) AS keep
        |FROM documents""".stripMargin,
    "q17_dedup_prefix" ->
      s"""SELECT doc_id, dup_key, keep_doc_id, group_size FROM (
         | SELECT doc_id, dup_key,
         |  min(doc_id) OVER (PARTITION BY dup_key) AS keep_doc_id,
         |  count(*) OVER (PARTITION BY dup_key) AS group_size
         | FROM (SELECT doc_id,
         |   md5(array_to_string(list_slice(regexp_extract_all(lower(text), '$TokPat'), 1, 2), ' ')) AS dup_key
         |  FROM documents))
         |WHERE group_size > 1""".stripMargin,
    "q18_jaccard_pairs" ->
      s"""WITH $shinglesCte
         |SELECT doc_id_1, doc_id_2, jaccard FROM pairs""".stripMargin,
    "q19_dup_components" ->
      s"""WITH RECURSIVE $shinglesCte,
         |ed AS (SELECT doc_id_1 a, doc_id_2 b FROM pairs UNION SELECT doc_id_2, doc_id_1 FROM pairs),
         |walk(src, node) AS (
         |  SELECT a, a FROM ed
         |  UNION
         |  SELECT w.src, ed.b FROM walk w JOIN ed ON w.node = ed.a)
         |SELECT src AS id, min(node) AS component FROM walk GROUP BY 1""".stripMargin,
    // Full MinHash-LSH pipeline reproduced independently in SQL: shingle ->
    // fnv -> 64 universal-hash minima (mod 2^61-1) -> 16 banded FNV keys ->
    // bucket join -> exact-jaccard verify. A hash-green row here certifies
    // the whole sketch path (signatures, banding, candidate join), not just
    // the verify stage.
    "q20_dedup_minhash" ->
      s"""WITH $minhashHashers,
         |${wordShinglesCtes(3)},
         |shx AS (SELECT doc_id, ${fnvSql("s")} % 2305843009213693952 xm
         |  FROM (SELECT doc_id, unnest(shingles) s FROM sh)),
         |sig AS (SELECT doc_id, i, min((a * xm % 2305843009213693951 + b) % 2305843009213693951) v
         |  FROM shx CROSS JOIN hashers GROUP BY doc_id, i),
         |bk AS (SELECT doc_id, i // 4 band,
         |    list_reduce(list_prepend(xor(14695981039346656037::HUGEINT, (i // 4)::HUGEINT),
         |                             list(v ORDER BY i)),
         |                (h, s) -> ${umul64("xor(h, s)", 0x100000001b3L)}) bkey
         |  FROM sig GROUP BY doc_id, i // 4),
         |cand AS (SELECT DISTINCT a.doc_id d1, b.doc_id d2 FROM bk a JOIN bk b
         |  ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |jac AS (SELECT d1 doc_id_1, d2 doc_id_2,
         |    round(len(list_intersect(x.shingles, y.shingles)) * 1.0 /
         |          (len(x.shingles) + len(y.shingles) - len(list_intersect(x.shingles, y.shingles))), 4) jaccard
         |  FROM cand JOIN sh x ON d1 = x.doc_id JOIN sh y ON d2 = y.doc_id)
         |SELECT doc_id_1, doc_id_2, jaccard FROM jac WHERE jaccard >= 0.5""".stripMargin,
    // SimHash reproduced in SQL (fnv -> splitmix64 -> bit votes), 16-bit
    // chunk-key candidate join, exact Hamming verify.
    "q21_dedup_simhash" ->
      s"""WITH ${simhashCtes(2)},
         |chunks(c, dv) AS (VALUES ${(0 until 4).map(c => s"($c,${u64(1L << (16 * c))}::HUGEINT)").mkString(",")}),
         |keyed AS (SELECT doc_id, sim, c, (sim // dv) % 65536 ck FROM sim CROSS JOIN chunks),
         |cand AS (SELECT DISTINCT a.doc_id d1, b.doc_id d2, a.sim s1, b.sim s2
         |  FROM keyed a JOIN keyed b ON a.c = b.c AND a.ck = b.ck AND a.doc_id < b.doc_id),
         |ham AS (SELECT d1 doc_id_1, d2 doc_id_2,
         |    bit_count(xor(${toSigned("s1")}, ${toSigned("s2")})) hamming FROM cand)
         |SELECT doc_id_1, doc_id_2, CAST(hamming AS INT) AS hamming FROM ham WHERE hamming <= 8""".stripMargin,
    // The multimodal generator's metadata formulas reproduced in SQL:
    // seed = fnv1a64(text) XOR doc_id, then splitmix64 (staged unsigned
    // arithmetic, lane `a` = the dims/sample-count seed per media branch,
    // lane `b` = the video frame-count seed). The Spark side decodes the
    // REAL encoded payloads, so hash-green certifies the encode->decode
    // round trip of every dimension/frame/sample count.
    "q54_multimodal_meta" ->
      s"""WITH f AS (SELECT doc_id, xor(${fnvSql("text")}, doc_id::HUGEINT) seed FROM documents),
         |inp AS (SELECT doc_id,
         |    CASE doc_id % 3 WHEN 0 THEN seed WHEN 1 THEN xor(seed, ${0xa0d10L})
         |      ELSE xor(seed, ${0x8000000L}) END px,
         |    xor(seed, ${0x71de0L}) vf FROM f),
         |z1 AS (SELECT doc_id, ${smix1("px")} a,
         |    ${smix1("vf")} b FROM inp),
         |z2 AS (SELECT doc_id, ${smix2("a")} a,
         |    ${smix2("b")} b FROM z1),
         |z3 AS (SELECT doc_id, ${smix3("a")} a,
         |    ${smix3("b")} b FROM z2),
         |hs AS (SELECT doc_id, ${smixOut("a")} a, ${smixOut("b")} b FROM z3)
         |SELECT doc_id,
         |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
         |  CAST(CASE WHEN doc_id % 3 = 1 THEN 8000 ELSE 8 + (a // 256) % 17 END AS INT) AS width,
         |  CAST(CASE WHEN doc_id % 3 = 1 THEN 1 ELSE 8 + (a // 65536) % 13 END AS INT) AS height,
         |  CAST(CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 64 + (a // 256) % 441
         |    ELSE 2 + abs(${toSigned("b")} % 5) END AS INT) AS n_frames
         |FROM hs""".stripMargin,
    // Rolling base-31 fingerprint + simhash, both mod-2^64 in SQL.
    "q37_fingerprints" ->
      s"""WITH ${simhashCtes(3)},
         |fp AS (SELECT doc_id, list_reduce(
         |    list_prepend(0::HUGEINT, list_transform(string_split(text,''), c -> ord(c)::HUGEINT)),
         |    (h, c) -> (h * 31 + c) % $M64::HUGEINT) f
         |  FROM documents)
         |SELECT doc_id, ${toSigned("f")} AS fingerprint, ${toSigned("sim")} AS simhash
         |FROM fp JOIN sim USING (doc_id)""".stripMargin,
    "q22_knn_brute" ->
      """SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, sim FROM (
        | SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
        |  round(list_dot_product(q.de, e.de) / (sqrt(list_dot_product(q.de, q.de)) * sqrt(list_dot_product(e.de, e.de))), 6) AS sim,
        |  row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |    round(list_dot_product(q.de, e.de) / (sqrt(list_dot_product(q.de, q.de)) * sqrt(list_dot_product(e.de, e.de))), 6) DESC,
        |    e.vec_id) AS rank
        | FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) de FROM embeddings WHERE vec_id % 50 = 0) q
        | JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) de FROM embeddings) e ON e.vec_id != q.vec_id)
        |WHERE rank <= 5""".stripMargin,
    // Full multi-table RHP-LSH ANN reproduced in SQL: embedded hyperplane
    // constants -> sign-bit signatures -> per-table bucket join -> exact
    // cosine rerank. Hash-green here certifies signatures, bucketing AND the
    // rerank, not just row counts.
    "q23_knn_lsh" ->
      s"""WITH $rhpHyperCte,
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) de FROM embeddings),
         |sigs AS (SELECT vec_id, t, sum(CASE WHEN list_dot_product(de, w) > 0 THEN (1 << b) ELSE 0 END) sig
         |  FROM e CROSS JOIN hyper GROUP BY vec_id, t),
         |q AS (SELECT vec_id qid, t, sig FROM sigs WHERE vec_id % 50 = 0),
         |cand AS (SELECT DISTINCT s.vec_id vid, q.qid FROM sigs s
         |  JOIN q ON s.t = q.t AND s.sig = q.sig AND s.vec_id != q.qid),
         |scored AS (SELECT qid query_id, vid neighbor_id,
         |    round(list_dot_product(a.de, b.de) / (sqrt(list_dot_product(a.de, a.de)) * sqrt(list_dot_product(b.de, b.de))), 6) sim
         |  FROM cand JOIN e a ON qid = a.vec_id JOIN e b ON vid = b.vec_id),
         |ranked AS (SELECT query_id, neighbor_id, sim,
         |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) rank FROM scored)
         |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, sim FROM ranked WHERE rank <= 5""".stripMargin,
    "q26_knn_ivf" -> ivfOracleSql,
    "q24_embed_pairs" ->
      """SELECT vec_id_1, vec_id_2, sim FROM (
        | SELECT a.vec_id AS vec_id_1, b.vec_id AS vec_id_2,
        |  round(list_dot_product(a.de, b.de) / (sqrt(list_dot_product(a.de, a.de)) * sqrt(list_dot_product(b.de, b.de))), 6) AS sim
        | FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) de FROM embeddings) a
        | JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) de FROM embeddings) b ON a.vec_id < b.vec_id)
        |WHERE sim >= 0.4""".stripMargin,
    "q25_windowed_events" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS window_start, event_type,
        | CAST(count(*) AS BIGINT) AS n, round(sum(value), 4) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q38_shape_histogram" ->
      s"""WITH toks AS (SELECT unnest(regexp_extract_all(lower(text), '$TokPat')) tok FROM documents),
         |clsd AS (SELECT tok, ${dan2Cls("tok")} AS cls FROM toks),
         |shapes AS (SELECT ${dan2("tok")} AS shape FROM clsd)
         |SELECT shape, CAST(count(*) AS BIGINT) AS n FROM shapes GROUP BY 1 ORDER BY n DESC, shape""".stripMargin,
    // record iterators: the synthesized corpus is documents in doc_id order,
    // so a correct file round trip reproduces the table exactly
    "q39_delimited_records" ->
      """SELECT CAST(row_number() OVER (ORDER BY doc_id) - 1 AS INT) AS record_idx,
        | text AS record FROM documents""".stripMargin,
    "q40_xml_records" ->
      """SELECT CAST(row_number() OVER (ORDER BY doc_id) - 1 AS INT) AS record_idx,
        | text AS record FROM documents""".stripMargin
  )
}
