package graft.kg

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative DataFrame connected components via alternating large-star /
  * small-star rounds (Kiveris et al., "Connected Components in MapReduce and
  * Beyond", SoCC 2014 — public algorithm; converges in O(log n) rounds vs
  * O(diameter) for naive label propagation).
  *
  * Scale design: both rounds are expressed as groupBy(min) + self-join —
  * NO collect_list, so a hot node with millions of neighbors never
  * materializes its adjacency in one task; AQE skew-join splitting handles
  * the join-side skew. Lineage is cut with localCheckpoint every round to
  * keep the plan from growing superlinearly across iterations.
  */
object ConnectedComponents {

  /** Edge-count ceiling for the driver-local union-find fast path (r6).
    * Vocabulary-derived graphs (entity-link surface similarity, small-corpus
    * dup graphs) are a few hundred to a few thousand edges, yet each
    * large/small-star round costs several shuffle stages + an eager
    * localCheckpoint + a signature job — measured 2-5 s of pure round
    * overhead for graphs whose union-find takes microseconds. 1M edges
    * (16 MB of longs) is the same driver-size class as the engine's existing
    * vocabulary/dictionary collects (r5 audit); above it the log-round
    * distributed path runs unchanged.
    */
  private val DefaultLocalMaxEdges = 1000000L

  /** @param edges (src, dst) pairs, any orientation, self-loops ok.
    * @param localMaxEdges override of the local-path ceiling (tests pass -1
    *        to force the distributed star-contraction path).
    * @return DataFrame(id: Long, component: Long) where component is the
    *         minimum node id reachable from id; covers every endpoint.
    */
  def run(edges: Dataset[(Long, Long)], maxIter: Int = 20,
      localMaxEdges: Long = DefaultLocalMaxEdges): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._

    // ONE eager scan of the (possibly expensive) input pipeline; both `e` and
    // `allNodes` derive from the materialized copy. localCheckpoint instead of
    // cache(): nothing registers in the cacheManager (callers can't leak a
    // cached relation — round-1 review finding) and the ContextCleaner frees
    // the blocks once the returned result becomes unreachable.
    val raw = edges.toDF("u", "v").localCheckpoint()
    if (localMaxEdges >= 0) {
      // size gate and collect in one bounded probe (one job, a single task
      // that stops after `cap` rows): a graph that fits arrives whole
      val cap = math.min(localMaxEdges, Int.MaxValue - 1L).toInt + 1
      val probe = raw.coalesce(1).limit(cap).as[(Long, Long)].collect()
      if (probe.length < cap) return runLocal(spark, probe)
    }
    var e: DataFrame = raw
      .where($"u" =!= $"v")
      .select(least($"u", $"v").as("v"), greatest($"u", $"v").as("u"))
      .distinct()
    val allNodes = raw.select(explode(array($"u", $"v")).as("id")).distinct()

    var iter = 0
    var converged = false
    var prevSig: (Long, Long) = (-1L, -1L)
    while (iter < maxIter && !converged) {
      // large-star: for each u, m = min(N(u) ∪ {u}); emit (v, m) for v > u
      val sym = e.select($"u", $"v").union(e.select($"v".as("u"), $"u".as("v")))
      val mins = sym.groupBy($"u").agg(least(min($"v"), first($"u")).as("m"))
      val large = sym.join(mins, "u")
        .where($"v" > $"u")
        .select($"v".as("u"), $"m".as("v"))
        .distinct()
      // small-star: orient (u = max, v = min); m = min(N(u) ∪ {u}) = min(v);
      // emit (v, m) and (u, m)
      val oriented = large.select(greatest($"u", $"v").as("u"), least($"u", $"v").as("v"))
        .where($"u" =!= $"v")
      val mins2 = oriented.groupBy($"u").agg(min($"v").as("m"))
      val small = oriented.join(mins2, "u")
        .select(explode(array(struct($"v".as("a"), $"m".as("b")), struct($"u".as("a"), $"m".as("b")))).as("e"))
        .select(least($"e.a", $"e.b").as("v"), greatest($"e.a", $"e.b").as("u"))
        .where($"u" =!= $"v")
        .distinct()
        .localCheckpoint()
      val sig = small.agg(count(lit(1)), coalesce(sum(hash($"u", $"v").cast("long")), lit(0L)))
        .as[(Long, Long)].head()
      converged = sig == prevSig
      prevSig = sig
      e = small
      iter += 1
    }
    // after convergence e is a forest of stars (u -> root=v)
    val assigned = e.select($"u".as("id"), $"v".as("component"))
    allNodes.join(assigned, Seq("id"), "left")
      .select($"id", coalesce($"component", $"id").as("component"))
  }

  /** Driver-local union-find over a collected edge list — OUTPUT-IDENTICAL
    * to the star-contraction path: one row per distinct endpoint, component =
    * minimum reachable node id (hanging the larger root under the smaller
    * keeps every root the min id of its component). KgSpec pins the
    * local-vs-distributed agreement; q19/q44/q64 hash-gate it against the
    * oracle's recursive closure.
    */
  private def runLocal(spark: SparkSession, es: Array[(Long, Long)]): DataFrame = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x0: Long): Long = {
      var x = x0
      while (parent(x) != x) {
        val gp = parent(parent(x)) // path halving
        parent(x) = gp
        x = gp
      }
      x
    }
    for ((u, v) <- es) {
      if (!parent.contains(u)) parent(u) = u
      if (!parent.contains(v)) parent(v) = v
      val ru = find(u); val rv = find(v)
      if (ru != rv) {
        if (ru < rv) parent(rv) = ru else parent(ru) = rv
      }
    }
    val out = parent.keys.toArray.map(id => (id, find(id)))
    spark.createDataFrame(out.toIndexedSeq).toDF("id", "component")
  }
}
