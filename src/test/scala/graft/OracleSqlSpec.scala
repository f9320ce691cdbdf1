package graft

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
}
