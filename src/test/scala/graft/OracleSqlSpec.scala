package graft

import graft.oracle.{Kg, Oracles}
import graft.pipeline.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** The oracle gate's surface. check_oracles.py runs the oracles it is given
  * and checks the other queries for rows only, so a dropped oracle entry
  * would pass silently as a rows-only query; this spec pins the key set.
  */
class OracleSqlSpec extends AnyFunSuite {

  test("oracleSql has 53 entries, each naming a query; exactly 8 queries are rows-only") {
    SparkTestSession.spark // the trained-weight models train in (and are memoized for) this session
    val oracles = SparkEntry.oracleSql
    assert(oracles.size == 53)
    assert(oracles.keySet.subsetOf(SparkEntry.queries.keySet),
      s"oracles without a query: ${oracles.keySet -- SparkEntry.queries.keySet}")
    assert(SparkEntry.queries.keySet -- oracles.keySet == Set("q30_ner_tags", "q31_mentions",
      "q32_triples", "q33_entity_link", "q34_graph_nodes", "q35_graph_edges",
      "q36_multimodal_decode", "q55_search_graph"))
  }

  test("every KG oracle is its table entry's stage, with the columns of the engine query of that name") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    // the documents corpus reads `documents`; the turns are generated
    val dir = java.nio.file.Files.createTempDirectory("graft_kg_stages").toString
    Seq((1L, "Spark joins the customer table"), (2L, "a fast scan of the row data"))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val oracles = SparkEntry.oracleSql
    val names = KgQueries.table.map(_._1)
    assert(names.distinct.length == names.length)
    val prefixes = KgQueries.table.map(_._2).distinct.map(f => f -> Oracles.kgPrefix(f)).toMap
    for ((name, family, stage) <- KgQueries.table) prefixes(family) match {
      case None => assert(!oracles.contains(name), s"$name is rows-only")
      case Some((tags, corpus)) =>
        assert(oracles(name) == Kg.compose(tags, corpus, stage), name)
        val engine = SparkEntry.queries(name)(spark, dir).columns.toSeq
        assert(engine == selected(oracles(name)), s"$name ($family, $stage)")
    }
  }

  /** The output column names of a statement's last top-level SELECT. */
  private def selected(sql: String): Seq[String] = {
    val body = sql.substring(sql.lastIndexOf("\nSELECT ") + 8)
    val items = Seq.newBuilder[String]
    var depth = 0; var quoted = false; var start = 0; var i = 0; var end = -1
    while (end < 0 && i < body.length) {
      body(i) match {
        case '\'' => quoted = !quoted
        case '(' if !quoted => depth += 1
        case ')' if !quoted => depth -= 1
        case ',' if !quoted && depth == 0 => items += body.substring(start, i); start = i + 1
        case c if !quoted && depth == 0 && c.isWhitespace && body.startsWith("FROM ", i + 1) => end = i
        case _ =>
      }
      i += 1
    }
    (items.result() :+ body.substring(start, end)).map { item =>
      val t = item.trim
      val as = t.lastIndexOf(" AS ")
      if (as >= 0 && t.indexOf(')', as) < 0) t.substring(as + 4).trim else t.split('.').last
    }
  }
}
