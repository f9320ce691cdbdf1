package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Brute-force cosine top-k is the exactness baseline (pure column algebra:
  * zip_with + aggregate, codegen'd, no UDF); the LSH-bucketed variant is the
  * scale path — at 10^9+ vectors the cross product is replaced by a
  * bucket-equi-join that touches only candidate pairs. Recall of the LSH path
  * vs brute force is asserted in SimilaritySpec.
  */
object Similarity {

  /** Cosine similarity between two float-array columns, computed in double
    * with a fixed left-to-right fold so the result is bit-deterministic and
    * reproducible by the DuckDB oracle. Backed by the native codegen'd
    * GraftCosine expression (callers must register graft functions once per
    * session — every operator below does); fold order is identical to the
    * previous zip_with+aggregate formulation, but the higher-order-function
    * route interpreted its lambda per element with boxing (~30us/pair at
    * dim=64 — it dominated round-1's q24 at 64s), while this is ~0.1us.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.graft_cosine(a, b)

  /** Brute-force top-k cosine neighbors for the query subset
    * `vec_id % queryMod == 0`. The query side is broadcast (it is tiny by
    * construction); the big side streams — one pass, no shuffle of the corpus.
    */
  def bruteForceTopK(embeddings: DataFrame, k: Int = 5, queryMod: Int = 50): DataFrame = {
    graft.functions.GraftFunctions.register(embeddings.sparkSession)
    val q = embeddings.where(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    // fan: the corpus side of the BNLJ is otherwise ONE scan task (single
    // parquet split), serializing every query x corpus cosine (guide §2.5)
    val joined = Par.fan(embeddings.select(col("vec_id"), col("embedding")))
      .join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("sim", round(cosine(col("q_emb"), col("embedding")), 6))
      .select(col("query_id"), col("vec_id"), col("sim")) // shuffle 24B rows, not arrays
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("vec_id").asc)
    joined.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"), col("sim"))
  }

  /** Random-hyperplane LSH signature (sign bits of dot products with
    * `nBits` deterministic pseudo-random hyperplanes).
    */
  /** Deterministic pseudo-random hyperplane weight for (seed, bit, dim),
    * in (-1, 1). Public so the DuckDB oracle embeds the IDENTICAL constants.
    */
  def rhpWeight(seed: Long, b: Int, i: Int): Double = {
    val h = Hashing.splitmix64(seed ^ (b.toLong << 32) ^ i.toLong)
    (h >> 11).toDouble / (1L << 52).toDouble
  }

  def rhpSignature(emb: Array[Float], nBits: Int, seed: Long = 0xb175L): Long = {
    var sig = 0L
    var b = 0
    while (b < nBits) {
      var dot = 0.0
      var i = 0
      while (i < emb.length) {
        dot += emb(i) * rhpWeight(seed, b, i)
        i += 1
      }
      if (dot > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  /** ANN top-k via multi-table RHP-LSH (Indyk-Motwani style): `nTables`
    * independent `bitsPerTable`-bit signatures; a vector is a candidate for a
    * query if they share the FULL key in ANY table. Exact cosine + rank on the
    * candidates only. Output schema matches bruteForceTopK so recall can be
    * measured by joining the two. Recall/candidate-budget tradeoff is governed
    * by (nTables, bitsPerTable); with near-random corpora (top-k cosine ~0.33
    * in the synthetic embeddings) no sublinear method recalls well — the
    * planted-neighbor test in SimilaritySpec measures the honest regime.
    */
  def lshTopK(embeddings: DataFrame, k: Int = 5, queryMod: Int = 50,
      nTables: Int = 16, bitsPerTable: Int = 6): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    graft.functions.GraftFunctions.registerRhp(spark, nTables, bitsPerTable)
    // native codegen'd signature expression (was a per-row Scala UDF —
    // round-2 review finding: it broke the engine's codegen standard)
    // fan: signature computation + candidate probe are otherwise one task
    val chunked = Par.fan(embeddings.select(col("vec_id"), col("embedding")))
      .select(col("vec_id"), col("embedding"),
        posexplode(graft.functions.GraftFunctions
          .graft_rhp_signatures(col("embedding"), nTables, bitsPerTable))) // (pos=table, col=key)
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "key")
    val q = chunked.where(col("vec_id") % queryMod === 0)
      .select(col("chunk"), col("key"), col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    // sim BEFORE the distinct: it is a pure function of the pair, so every
    // duplicate candidate row carries the identical value and the dedup +
    // window shuffles move (qid, vid, sim) instead of two float[dim] arrays
    // (the old shape forced a SortAggregate over array columns — guide §2.3)
    val cand = chunked.join(broadcast(q), Seq("chunk", "key"))
      .where(col("vec_id") =!= col("query_id"))
      .withColumn("sim", round(cosine(col("q_emb"), col("embedding")), 6))
      .select(col("query_id"), col("vec_id"), col("sim"))
      .dropDuplicates("query_id", "vec_id")
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("vec_id").asc)
    cand.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"), col("sim"))
  }

  /** IVF (inverted-file) ANN top-k: a k-means coarse quantizer partitions the
    * corpus into posting lists; each query probes its `nProbe` nearest
    * centroids and exact-reranks only those lists — the classic
    * Jegou/Douze/Schmid IVF-Flat scheme, fully deterministic here (seeded
    * pseudo-random init, fixed Lloyd iteration count).
    *
    * Scale shape: training touches the corpus `kmeansIters` times with a
    * map + tiny groupBy (centroids collect to the driver: nCentroids x dim
    * doubles); the search is ONE equi-join on cluster id (candidates =
    * corpus/nCentroids x nProbe per query on balanced clusters) with the
    * query side broadcast. Unlike RHP-LSH, recall does not depend on random
    * hyperplane luck for clustered data — near-duplicates land in the same
    * cell. Output schema matches bruteForceTopK for recall measurement.
    */
  def ivfTopK(embeddings: DataFrame, k: Int = 5, queryMod: Int = 50,
      nCentroids: Int = 16, nProbe: Int = 4, kmeansIters: Int = 5): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val vecs = embeddings.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].cache()

    def dist2(a: Array[Float], c: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length && i < c.length) { val d = a(i) - c(i); s += d * d; i += 1 }
      s
    }
    def nearest(a: Array[Float], cs: Array[Array[Double]]): Int = {
      var best = 0; var bd = Double.MaxValue; var ci = 0
      while (ci < cs.length) { val d = dist2(a, cs(ci)); if (d < bd) { bd = d; best = ci }; ci += 1 }
      best
    }

    // deterministic init: the nCentroids vectors with the smallest splitmix64(vec_id)
    var centroids: Array[Array[Double]] = vecs
      .map { case (id, e) => (Hashing.splitmix64(id), e) }
      .orderBy(col("_1")).limit(nCentroids)
      .collect().map(_._2.map(_.toDouble))
    // Lloyd iterations: distributed assign, driver-side tiny centroid update.
    // Per-cluster sums fold in ASCENDING vec_id order (flatMapSortedGroups),
    // not reduceByKey's partition-dependent tree order: float summation is
    // non-associative, so the sorted fold is what makes the whole operator
    // bit-identical at any parallelism (the README invariant) — and lets the
    // q26 DuckDB oracle reproduce all five iterations exactly.
    for (_ <- 1 to kmeansIters) {
      val bc = spark.sparkContext.broadcast(centroids)
      val sums: Map[Int, (Array[Double], Long)] = vecs
        .map { case (id, e) => (nearest(e, bc.value), id, e) }
        .groupByKey(_._1)
        .flatMapSortedGroups(col("_2").asc) { (ci, it) =>
          var n = 0L
          var s: Array[Double] = null
          it.foreach { case (_, _, e) =>
            if (s == null) s = new Array[Double](e.length)
            var i = 0
            while (i < e.length) { s(i) += e(i).toDouble; i += 1 }
            n += 1
          }
          Iterator.single((ci, s.toSeq, n))
        }
        .collect().map { case (ci, s, n) => ci -> (s.toArray, n) }.toMap
      centroids = centroids.indices.map { ci =>
        sums.get(ci) match {
          case Some((s, n)) => s.map(_ / n)
          case None => centroids(ci) // empty cell keeps its centroid
        }
      }.toArray
      bc.destroy()
    }

    val bc = spark.sparkContext.broadcast(centroids)
    val assigned = vecs.map { case (id, e) => (id, e, nearest(e, bc.value)) }
      .toDF("vec_id", "embedding", "cluster")
    // queries probe their nProbe nearest cells
    val probes = vecs.filter(_._1 % queryMod == 0)
      .flatMap { case (id, e) =>
        val cs = bc.value
        cs.indices.sortBy(ci => dist2(e, cs(ci))).take(nProbe).map(ci => (id, e, ci))
      }.toDF("query_id", "q_emb", "cluster")
    val cand = assigned.join(broadcast(probes), Seq("cluster"))
      .where(col("vec_id") =!= col("query_id"))
      .withColumn("sim", round(cosine(col("q_emb"), col("embedding")), 6))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("vec_id").asc)
    val out = cand.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"), col("sim"))
      .localCheckpoint() // materialize before dropping the corpus cache
    vecs.unpersist(blocking = false)
    out
  }

  /** Spark's Round(double, 6): HALF_UP over BigDecimal.valueOf, NaN/Inf pass
    * through — replicated so closure-side sims stay bit-identical to the
    * previous `round(col, 6)` column (and to the DuckDB oracle).
    */
  private[ops] def round6(d: Double): Double =
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) d
    else java.math.BigDecimal.valueOf(d).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** All pairs with cosine >= tau, computed EXACTLY via a blocked tile
    * pair loop (the scale path for exact low-threshold all-pairs, where no
    * LSH family reaches recall 1.0 — at tau=0.4 the qualifying pairs sit at
    * ~66 deg, indistinguishable from the random-pair bulk by any sketch).
    *
    * Scheme: vectors are hashed into B blocks; the unordered block pairs
    * (i <= j) index B(B+1)/2 "tiles". A vector of block b is routed to tiles
    * (b, b..B-1) as LEFT and to tiles (0..b-1, b) as RIGHT; every vector pair
    * meets in EXACTLY one tile (min-block, max-block), diagonal tiles dedup
    * by id order. The routed stream is shuffled by tile and each tile's
    * pairs are computed in one loop (BucketPairs, no cap): O(n^2/p) compute
    * spread over all executors, per-task memory O(n/B), replication factor
    * (B+1)/2, no driver materialization, no BroadcastNestedLoopJoin
    * (asserted by PlanSpec). Pick B ~ sqrt(2 x total cores) so every core
    * gets a tile.
    */
  def cosinePairsBlocked(embeddings: DataFrame, tau: Double, nBlocks: Int = 16): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val B = nBlocks
    val base = Par.fan(embeddings.select(col("vec_id"), col("embedding")))
      .select(col("vec_id"), col("embedding"), pmod(hash(col("vec_id")), lit(B)).as("b"))
      .as[(Long, Array[Float], Int)]
    // vector of block b serves tile (i,j), i<=j: as LEFT when b==i, as RIGHT
    // when b==j; the diagonal tile (b,b) gets one LEFT copy serving both sides
    val routed = base.flatMap { case (id, e, b) =>
      Iterator.range(b, B).map(j => (b * B + j, true, id, e)) ++
        Iterator.range(0, b).map(i => (i * B + b, false, id, e))
    }.toDF("tile", "is_l", "vec_id", "embedding")
    BucketPairs(routed, Seq("tile"))((r: (Int, Boolean, Long, Array[Float])) => r._1)(tilePairs(B, tau))
      .toDF("vec_id_1", "vec_id_2", "sim")
  }

  /** The pairs of one tile's run of routed (tile, is_left, vec_id,
    * embedding) rows with cosine >= tau. Norms are computed once per vector,
    * and the BigDecimal round is gated to near-threshold pairs (round can
    * raise a sim by < 5e-7, so raw < tau - 1e-6 can never round to >= tau).
    */
  private def tilePairs(B: Int, tau: Double)(
      rows: ArrayBuffer[(Int, Boolean, Long, Array[Float])]): Iterator[(Long, Long, Double)] = {
    val tile = rows.head._1
    val diag = tile / B == tile % B
    val lefts = rows.filter(r => r._2 || diag)
    val rights = if (diag) lefts else rows.filter(!_._2)
    val ln = lefts.map(r => math.sqrt(normSq(r._4)))
    val rn = if (diag) ln else rights.map(r => math.sqrt(normSq(r._4)))
    for {
      i <- lefts.indices.iterator
      j <- rights.indices.iterator
      if !diag || lefts(i)._3 < rights(j)._3
      raw = dot(lefts(i)._4, rights(j)._4) / (ln(i) * rn(j))
      if raw >= tau - 1e-6 // NaN (zero vector) compares false, like round+filter
      sim = round6(raw)
      if sim >= tau
    } yield (math.min(lefts(i)._3, rights(j)._3), math.max(lefts(i)._3, rights(j)._3), sim)
  }

  /** Same fold order as GraftCosine.compute's dot loop (common prefix). */
  private def dot(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  /** Same fold order as GraftCosine.compute's norm loops. */
  private def normSq(a: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val v = a(i).toDouble; s += v * v; i += 1 }
    s
  }
}
