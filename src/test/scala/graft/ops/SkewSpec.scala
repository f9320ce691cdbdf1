package graft.ops

import graft.kg.EntityLink
import graft.pipeline.{Mention, SparkTestSession}
import org.scalatest.funsuite.AnyFunSuite

/** Skew-stress fixtures (SURVEY.md M6): one pathologically hot entity and one
  * pathologically long conversation must not break correctness or blow a
  * single task.
  */
class SkewSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("entity linking survives a hot entity (50% of mentions) with capped buckets") {
    // 20k mentions of one surface + a tail of distinct surfaces
    val hot = (0 until 20000).map(i => Mention(s"c$i", 0, 0, "ORGANIZATION", 0, 9, "Acme Corp"))
    val tail = (0 until 2000).map(i => Mention(s"c$i", 1, 0, "ORGANIZATION", 0, 5, s"Org${i % 500}"))
    val linked = EntityLink.link((hot ++ tail).toDS())
    val byAcme = linked.where($"surface" === "Acme Corp").collect()
    assert(byAcme.length == 1)
    assert(byAcme.head.getAs[Long]("n_mentions") == 20000)
    // hot surface collapses to ONE vocabulary row before any pairwise work —
    // the mention-count skew never reaches the join
    assert(linked.count() == 501)
  }

  test("a pathologically long conversation tags without blowup (per-turn docs)") {
    val turns = (0 until 1000).map { t =>
      graft.pipeline.Turn("bigconv", t, "user", "Alice Johnson works at Acme Corp. in Berlin .", null,
        new java.sql.Timestamp(1700000000000L + t))
    }
    val model = graft.ner.NerModels.default(spark)
    val mentions = graft.ner.Tagger.mentions(turns.toDS(), model)
    assert(mentions.count() == 3000) // 3 mentions per turn
  }
}
