package graft

import graft.pipeline.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions: the properties that make these operators
  * hold at 100 TB are visible in `.explain`, so they are pinned here —
  * broadcast joins for dimension tables, column pruning into the parquet
  * scan, and zero shuffles in the tagging path.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q02: dimension joins are broadcast, fact side streams") {
    val p = plan("q02_revenue_by_nation")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    // nation/region must NOT arrive via a shuffled join
    assert(!p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"))
  }

  test("q12: scan reads only the needed columns (column pruning)") {
    spark.catalog.clearCache() // another suite may have cached this table
    val p = SparkEntry.queries("q12_token_stats")(spark, sf)
      .queryExecution.executedPlan.toString
    val readSchema = "ReadSchema: struct<doc_id:bigint,text:string"
    assert(p.contains(readSchema), s"expected pruned ReadSchema, got: ${p.linesIterator.filter(_.contains("ReadSchema")).mkString}")
    assert(!p.contains("lang"), "lang/source/n_chars should be pruned from the scan")
  }

  test("q01: aggregation is partial (map-side combine) before the exchange") {
    val p = plan("q01_pricing_summary")
    // partial_sum markers appear under HashAggregate before Exchange
    assert(p.contains("partial_sum") || p.contains("partial_count"), p.take(2000))
  }

  test("tagging path (q31 mentions) has NO shuffle") {
    val df = SparkEntry.queries("q31_mentions")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"tagging must be shuffle-free, got:\n${p.take(3000)}")
  }

  test("q22 knn: query side is broadcast (no corpus shuffle)") {
    val p = plan("q22_knn_brute")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p.take(2000))
  }

  // The bucket pair loops (BucketPairs): one exchange by the bucket keys
  // with an explicit partition count (REPARTITION_BY_NUM, which AQE does not
  // coalesce into one task at small sizes), pairs made inside MapPartitions,
  // and no join of the bucket relation with itself (a self-join or a
  // broadcast cartesian materializes every candidate pair through join
  // machinery, in one probe task at these sizes).
  Seq(
    ("q24 blocked pairs: tile-partitioned pair loop, no broadcast cartesian", "q24_embed_pairs", Seq("tile")),
    ("q18 jaccard pairs: shingle-partitioned pair loop, no self-join", "q18_jaccard_pairs", Seq("sh")),
    ("q20 minhash pairs: band-partitioned pair loop, no self-join", "q20_dedup_minhash", Seq("band", "key")),
    ("q21 simhash pairs: chunk-partitioned pair loop, no self-join", "q21_dedup_simhash", Seq("chunk", "key"))
  ).foreach { case (name, query, keys) =>
    test(name) {
      val p = plan(query)
      val exchange = keys.map(k => s"$k#\\d+L?").mkString("hashpartitioning\\(", ", ", ", \\d+\\), REPARTITION_BY_NUM")
      assert(exchange.r.findFirstIn(p).isDefined, s"no $exchange in\n${p.take(3000)}")
      assert(p.contains("MapPartitions"), p.take(3000))
      for (join <- Seq("SortMergeJoin", "BroadcastNestedLoopJoin", "CartesianProduct"))
        assert(!p.contains(join), p.take(3000))
    }
  }

  test("q23 lsh: no Scala UDF in the plan (native graft_rhp_signatures)") {
    // round-2 finding: the signature keys came from a per-row Scala UDF,
    // breaking the engine's codegen standard. The native expression must
    // appear instead.
    val p = plan("q23_knn_lsh")
    assert(!p.contains("UDF"), p.take(3000))
    assert(p.toLowerCase.contains("graft_rhp"), p.take(3000))
  }

  test("q15 dict tag: gazette join is broadcast") {
    val p = plan("q15_dict_tag")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("whole-stage codegen covers the aggregation pipeline") {
    // q12's higher-order array functions don't participate in codegen (known
    // Spark limitation); the relational agg pipeline must. Codegen spans only
    // appear in the FINAL adaptive plan, so execute first.
    val df = SparkEntry.queries("q01_pricing_summary")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // codegen stages render as "*(n) Operator" in the plan string
    assert(p.contains("*(") , p.take(2000))
  }
}
