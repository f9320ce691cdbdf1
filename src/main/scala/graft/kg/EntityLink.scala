package graft.kg

import graft.ops.{BucketPairs, Hashing}
import graft.pipeline.Mention
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Entity linking + surface-form canonicalization (north rule): MinHash-LSH
  * blocking over character-shingled normalized surfaces, exact-Jaccard
  * verification of the candidate pairs, then connected components to form
  * canonical entity clusters.
  *
  * Scale design:
  *  - blocking works on DISTINCT (etype, surface) pairs, not raw mentions —
  *    the groupBy collapses the 10^12-turn mention stream to the vocabulary
  *    of surface forms before any pairwise work.
  *  - candidate pairs come from each (etype, band, bandKey) bucket's run of
  *    surfaces (BucketPairs); a bucket of more than `MaxBucketSize` surfaces
  *    (stop-word-like) is dropped whole, so a hot key costs O(cap) memory and
  *    no pairs.
  *  - clustering uses ConnectedComponents (log-round star contraction).
  */
object EntityLink {

  private val ShingleSize = 3
  private val NumHashes = 32
  private val Bands = 8 // rows = NumHashes / Bands = 4
  private val MinJaccard = 0.55
  private val MaxBucketSize = 64

  private val titleTokens = Set("dr.", "mr.", "ms.", "mrs.", "prof.", "sen.", "miss", "sir")

  /** Normalized surface: lowercase; strip a leading title token for persons. */
  def normalize(etype: String, surface: String): String = {
    val lower = surface.toLowerCase
    if (etype == "PERSON") {
      val sp = lower.indexOf(' ')
      if (sp > 0 && titleTokens.contains(lower.substring(0, sp))) lower.substring(sp + 1) else lower
    } else lower
  }

  /** Distinct surface vocabulary with mention counts.
    * Output: (etype, surface, norm, n_mentions, surface_id).
    */
  def surfaces(mentions: Dataset[Mention]): DataFrame = {
    val spark = mentions.sparkSession
    import spark.implicits._
    val norm = udf((t: String, s: String) => normalize(t, s))
    val sid = udf((t: String, s: String) => Hashing.fnv1a64(t + "\u0000" + s))
    mentions.groupBy($"etype", $"surface").agg(count(lit(1)).as("n_mentions"))
      .withColumn("norm", norm($"etype", $"surface"))
      .withColumn("surface_id", sid($"etype", $"surface"))
  }

  /** Similarity edges between surface ids of the same entity type: pairs
    * sharing a (etype, band, key) bucket whose Jaccard reaches MinJaccard.
    */
  def similarityEdges(surfaces: DataFrame): Dataset[(Long, Long)] = {
    val spark = surfaces.sparkSession
    import spark.implicits._
    val rows = NumHashes / Bands
    // one row per (etype, band, bandKey, surface_id, norm)
    val banded = surfaces.select($"etype", $"surface_id", $"norm").as[(String, Long, String)]
      .flatMap { case (etype, sid, norm) =>
        val sig = Hashing.minHash(Hashing.charShingles(norm, ShingleSize), NumHashes)
        Hashing.bandKeys(sig, Bands, rows).iterator.zipWithIndex.map { case (bk, b) =>
          (etype, b, bk, sid, norm)
        }
      }.toDF("etype", "band", "key", "sid", "norm")
    val jac = udf((a: String, b: String) =>
      Hashing.jaccard(Hashing.charShingles(a, ShingleSize), Hashing.charShingles(b, ShingleSize)))
    BucketPairs(banded, Seq("etype", "band", "key"), MaxBucketSize)(
        (r: (String, Int, Long, Long, String)) => (r._1, r._2, r._3)) { run =>
      BucketPairs.pairs(run)(_._4).map { case (a, b) => (a._4, b._4, a._5, b._5) }
    }.toDF("sid1", "sid2", "norm1", "norm2").distinct()
      .where(jac($"norm1", $"norm2") >= MinJaccard || $"norm1" === $"norm2")
      .select($"sid1".as("_1"), $"sid2".as("_2")).as[(Long, Long)]
  }

  /** Full linking: mentions → (surface_id → canonical entity) assignment.
    * Canonical surface of a cluster = highest-mention-count member
    * (ties: lexicographically smallest surface).
    * Output: (etype, surface, surface_id, n_mentions, entity_id, canonical_surface).
    */
  def link(mentions: Dataset[Mention]): DataFrame = {
    val spark = mentions.sparkSession
    import spark.implicits._
    // localCheckpoint, not cache(): one eager scan of the mention stream, no
    // entry left in the cacheManager after link() (round-1 review finding);
    // blocks are freed by the ContextCleaner when the result is dropped.
    val surf = surfaces(mentions).localCheckpoint()
    val edges = similarityEdges(surf)
    val cc = ConnectedComponents.run(edges) // (id, component)
    val assigned = surf.join(cc.withColumnRenamed("id", "surface_id"), Seq("surface_id"), "left")
      .withColumn("entity_id", coalesce($"component", $"surface_id"))
      .drop("component")
    // canonical representative per entity
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"entity_id")
      .orderBy($"n_mentions".desc, $"surface".asc)
    assigned
      .withColumn("canonical_surface", first($"surface").over(w))
      .select($"etype", $"surface", $"surface_id", $"n_mentions", $"entity_id", $"canonical_surface")
  }
}
