package graft.oracle

import graft.kg.TripleRules
import graft.oracle.Sql.{fnvSql, toSigned, umul64}

/** The KG stages after tagging, as CTE tails over `tags(doc_id, i, w, tag)`,
  * and the one composer that joins a tag prefix, a span tail and a final
  * stage into an oracle.
  */
object Kg {

  /** Where the tagged tokens came from: it decides how character offsets are
    * rebuilt (`spans`, which also defines `offs(doc_id, i, w, b)`) and which
    * key columns identify a document.
    */
  final case class Corpus(spans: String, keys: String, spanKeys: String)

  /** The documents corpus: tokens joined by single spaces. The span fold is
    * classifyToCharacterOffsets' label-change segmentation
    * (AbstractSequenceClassifier.java:487-512): consecutive EQUAL
    * non-background labels merge, any label change splits, including between
    * two entity types.
    */
  val Docs: Corpus = Corpus(
    s"""offs AS MATERIALIZED (SELECT doc_id, i, w, tag,
       |    CAST(coalesce(sum(length(w) + 1) OVER (PARTITION BY doc_id ORDER BY i
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT) AS b
       |  FROM tags),
       |runs AS (SELECT doc_id, i, w, tag, b,
       |    i - row_number() OVER (PARTITION BY doc_id, tag ORDER BY i) AS grp
       |  FROM offs WHERE tag != 'O'),
       |spans AS MATERIALIZED (SELECT doc_id, tag AS etype,
       |    CAST(min(b) AS INT) AS begin_char,
       |    CAST(max(b + length(w)) AS INT) AS end_char,
       |    array_to_string(list(w ORDER BY i), ' ') AS surface
       |  FROM runs GROUP BY doc_id, tag, grp)""".stripMargin,
    "doc_id", "doc_id")

  private val turnKeys =
    """'conv' || lpad((doc_id // 100)::VARCHAR, 8, '0') AS conv_id,
      |  (doc_id % 100)::INT AS turn_idx""".stripMargin

  /** The transcript turns: the detokenizer's rendering (PTB bracket/quote
    * tokens back to their 1-char forms) and spacing rules
    * (Transcripts.detokenize) replayed as a running sum. The engine reads
    * these offsets from the real tokenizer's invertible spans, so agreement
    * certifies the tokenizer's offset math too. Surfaces are cut from the
    * re-rendered turn text exactly like the engine's text.substring.
    */
  val Turns: Corpus = Corpus(
    s"""rend AS (SELECT doc_id, i, w, tag,
       |    CASE w WHEN '-LRB-' THEN '(' WHEN '-RRB-' THEN ')' WHEN '-LSB-' THEN '['
       |           WHEN '-RSB-' THEN ']' WHEN '``' THEN '"' WHEN '''''' THEN '"' ELSE w END AS rw,
       |    CASE WHEN i = 1 THEN 0
       |         WHEN w IN ('.', ',', '?', '!', ';', ':', '''''', '-RRB-', '-RSB-', 'n''t')
       |           OR w LIKE '''%' THEN 0
       |         WHEN lag(w) OVER (PARTITION BY doc_id ORDER BY i) IN ('``', '-LRB-', '-LSB-') THEN 0
       |         ELSE 1 END AS sp
       |  FROM tags),
       |offs AS MATERIALIZED (SELECT doc_id, i, w, tag, length(rw) AS rl, sp,
       |    CAST(sum(length(rw) + sp) OVER (PARTITION BY doc_id ORDER BY i
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - length(rw) AS INT) AS b
       |  FROM rend),
       |txts AS (SELECT doc_id, string_agg(repeat(' ', sp) || rw, '' ORDER BY i) AS txt
       |  FROM rend GROUP BY doc_id),
       |runs AS (SELECT doc_id, i, tag, b, rl,
       |    i - row_number() OVER (PARTITION BY doc_id, tag ORDER BY i) AS grp
       |  FROM offs WHERE tag != 'O'),
       |spans AS MATERIALIZED (SELECT r.doc_id, r.tag AS etype,
       |    CAST(min(r.b) AS INT) AS begin_char, CAST(max(r.b + r.rl) AS INT) AS end_char,
       |    substring(any_value(t.txt), min(r.b) + 1, max(r.b + r.rl) - min(r.b)) AS surface
       |  FROM runs r JOIN txts t USING (doc_id) GROUP BY r.doc_id, r.tag, r.grp)""".stripMargin,
    turnKeys, s"$turnKeys, CAST(0 AS INT) AS sent_idx")

  /** TripleRules.fromSentence over `spans` + `offs`: ADJACENT mention pairs
    * in textual order; the first token strictly between them that is a
    * trigger for the (subjType, objType) pair selects the predicate, else
    * CO_OCCURS. The trigger table is generated from the same Scala map.
    */
  private val triples: String = {
    val trigRows = TripleRules.triggers.toSeq.sortBy(_.toString).map {
      case ((w, st, ot), pred) => s"('$w','$st','$ot','$pred')"
    }.mkString(",")
    s"""ordered AS (SELECT doc_id, etype, begin_char, end_char, surface,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY begin_char) rn FROM spans),
       |mpairs AS MATERIALIZED (SELECT a.doc_id, a.rn, a.etype atyp, a.end_char aec, a.surface asur,
       |    b.etype btyp, b.begin_char bbc, b.surface bsur
       |  FROM ordered a JOIN ordered b ON a.doc_id = b.doc_id AND b.rn = a.rn + 1),
       |trig(word, st, ot, pred) AS (VALUES $trigRows),
       |hits AS (SELECT p.doc_id, p.rn, t.pred, o.i
       |  FROM mpairs p
       |  JOIN offs o ON o.doc_id = p.doc_id AND o.b >= p.aec AND o.b < p.bbc
       |  JOIN trig t ON lower(o.w) = t.word AND p.atyp = t.st AND p.btyp = t.ot),
       |firsthit AS (SELECT doc_id, rn, pred FROM (
       |  SELECT doc_id, rn, pred, row_number() OVER (PARTITION BY doc_id, rn ORDER BY i) k
       |  FROM hits) WHERE k = 1),
       |trips AS MATERIALIZED (SELECT p.doc_id, p.asur AS subj, p.atyp AS subj_type,
       |  coalesce(f.pred, 'CO_OCCURS') AS pred, p.bsur AS obj, p.btyp AS obj_type
       |FROM mpairs p LEFT JOIN firsthit f ON f.doc_id = p.doc_id AND f.rn = p.rn)""".stripMargin
  }

  /** The FULL EntityLink.link pipeline over `spans`: normalize (lowercase +
    * person-title strip), surface_id = fnv(etype + NUL + surface) (the NUL
    * step is one extra prime multiply, xor-with-0 being identity),
    * 3-char-shingle MinHash (32 hashes, the SAME seed-0x5eed universal
    * hashers as the q20 oracle), 8-band/4-row band keys, the 64-surface
    * bucket cap, candidate pairs with SIGNED sid ordering, exact
    * 64-bit-shingle Jaccard >= 0.55 (or equal norms), the q19-style recursive
    * transitive closure with min-id components, and the highest-mention-count
    * (ties: lexicographic) canonical representative. Ends in `linkedo`.
    */
  private val link: String = {
    val P = "2305843009213693951" // 2^61 - 1
    val P61 = "2305843009213693952" // 2^61
    val sidExpr = fnvSql("surface", seed = umul64(s"(${fnvSql("etype")})", 0x100000001b3L))
    s"""surf AS (SELECT etype, surface, CAST(count(*) AS BIGINT) n_mentions
       |  FROM spans GROUP BY 1, 2),
       |snorm AS (SELECT etype, surface, n_mentions,
       |    CASE WHEN etype = 'PERSON' AND sp > 1 AND list_contains(
       |        ['dr.','mr.','ms.','mrs.','prof.','sen.','miss','sir'], substr(ls, 1, sp - 1))
       |      THEN substr(ls, sp + 1) ELSE ls END AS norm
       |  FROM (SELECT etype, surface, n_mentions, lower(surface) ls,
       |          strpos(lower(surface), ' ') sp FROM surf)),
       |sids AS MATERIALIZED (SELECT etype, surface, n_mentions, norm,
       |    ${toSigned(s"($sidExpr)")} AS sid FROM snorm),
       |shing AS (SELECT sid, etype, norm, unnest(CASE WHEN length(norm) >= 3
       |    THEN list_distinct([norm[i:i+2] FOR i IN range(1, length(norm)-1)])
       |    ELSE [norm] END) sh FROM sids),
       |shd AS MATERIALIZED (SELECT DISTINCT sid, etype, ${fnvSql("sh")} hx FROM shing),
       |${Sql.minhashHashers},
       |msig AS (SELECT sid, i, min((a * (hx % $P61) % $P + b) % $P) v
       |  FROM shd CROSS JOIN hashers WHERE i < 32 GROUP BY sid, i),
       |mbk AS (SELECT s.sid, s.etype, s.norm, i // 4 band,
       |    list_reduce(list_prepend(xor(14695981039346656037::HUGEINT, (i // 4)::HUGEINT),
       |                             list(v ORDER BY i)),
       |                (h, x) -> ${umul64("xor(h, x)", 0x100000001b3L)}) bkey
       |  FROM msig m JOIN sids s ON s.sid = m.sid GROUP BY s.sid, s.etype, s.norm, i // 4),
       |mbc AS MATERIALIZED (SELECT sid, etype, norm, band, bkey FROM (
       |  SELECT sid, etype, norm, band, bkey,
       |    count(*) OVER (PARTITION BY etype, band, bkey) bsz FROM mbk) WHERE bsz <= 64),
       |mcand AS MATERIALIZED (SELECT DISTINCT a.sid s1, b.sid s2, a.norm n1, b.norm n2
       |  FROM mbc a JOIN mbc b ON a.etype = b.etype AND a.band = b.band
       |    AND a.bkey = b.bkey AND a.sid < b.sid),
       |msz AS (SELECT sid, count(*) sz FROM shd GROUP BY sid),
       |mint AS (SELECT c.s1, c.s2, count(*) iv FROM mcand c
       |  JOIN shd x ON x.sid = c.s1 JOIN shd y ON y.sid = c.s2 AND y.hx = x.hx
       |  GROUP BY c.s1, c.s2),
       |medge AS MATERIALIZED (SELECT c.s1, c.s2 FROM mcand c
       |  JOIN msz za ON za.sid = c.s1 JOIN msz zb ON zb.sid = c.s2
       |  LEFT JOIN mint i ON i.s1 = c.s1 AND i.s2 = c.s2
       |  WHERE c.n1 = c.n2 OR
       |    CAST(coalesce(i.iv, 0) AS DOUBLE) / (za.sz + zb.sz - coalesce(i.iv, 0)) >= 0.55),
       |med2 AS MATERIALIZED (SELECT s1 a, s2 b FROM medge UNION SELECT s2, s1 FROM medge),
       |mwalk(src, node) AS (
       |  SELECT a, a FROM med2
       |  UNION
       |  SELECT w.src, med2.b FROM mwalk w JOIN med2 ON w.node = med2.a),
       |mcomp AS (SELECT src id, min(node) component FROM mwalk GROUP BY 1),
       |massign AS (SELECT s.etype, s.surface, s.sid surface_id, s.n_mentions,
       |    coalesce(c.component, s.sid) entity_id
       |  FROM sids s LEFT JOIN mcomp c ON c.id = s.sid),
       |linkedo AS MATERIALIZED (SELECT etype, surface, surface_id, n_mentions, entity_id,
       |  first_value(surface) OVER (PARTITION BY entity_id
       |    ORDER BY n_mentions DESC, surface ASC) canonical_surface
       |FROM massign)""".stripMargin
  }

  /** The stage an oracle ends in, with the engine query shape it checks. */
  sealed trait Stage
  /** Per-token tags. */
  case object Tags extends Stage
  /** Mention spans (Tagger.spansOfSentence). */
  case object Spans extends Stage
  /** (subj, pred, obj) triples (TripleRules.fromSentence). */
  case object Triples extends Stage
  /** The surface map (EntityLink.link). */
  case object Link extends Stage
  /** Node rollup (GraphMaterializer.rollupNodes): per-entity aggregation
    * with the max-struct canonical pick. */
  case object Nodes extends Stage
  /** Weighted edges: triples joined to the surface map on both endpoints. */
  case object Edges extends Stage

  /** One oracle: the tag prefix `tags` (a `WITH RECURSIVE` chain ending in
    * `tags`), then the CTE tails `stage` needs, then its final SELECT.
    */
  def compose(tags: String, corpus: Corpus, stage: Stage): String = {
    val (tails, select) = stage match {
      case Tags => (Nil,
        s"SELECT ${corpus.keys}, CAST(i - 1 AS INT) AS pos, w AS token, tag FROM tags")
      case Spans => (Seq(corpus.spans),
        s"SELECT ${corpus.spanKeys}, etype, begin_char, end_char, surface FROM spans")
      case Triples => (Seq(corpus.spans, triples),
        s"SELECT ${corpus.keys}, subj, subj_type, pred, obj, obj_type FROM trips")
      case Link => (Seq(corpus.spans, link),
        "SELECT etype, surface, surface_id, n_mentions, entity_id, canonical_surface FROM linkedo")
      case Nodes => (Seq(corpus.spans, link),
        """SELECT entity_id, etype, CAST(sum(n_mentions) AS BIGINT) AS n_mentions,
          |  (max(struct_pack(c := n_mentions, s := canonical_surface))).s AS canonical_surface,
          |  CAST(count(*) AS BIGINT) AS n_surfaces
          |FROM linkedo GROUP BY 1, 2""".stripMargin)
      case Edges => (Seq(corpus.spans, triples, link),
        """SELECT sm1.entity_id AS subj_id, t.pred, sm2.entity_id AS obj_id,
          |  CAST(count(*) AS BIGINT) AS weight
          |FROM trips t
          |JOIN linkedo sm1 ON sm1.etype = t.subj_type AND sm1.surface = t.subj
          |JOIN linkedo sm2 ON sm2.etype = t.obj_type AND sm2.surface = t.obj
          |GROUP BY 1, 2, 3""".stripMargin)
    }
    (tags +: tails).mkString(",\n") + "\n" + select
  }
}
