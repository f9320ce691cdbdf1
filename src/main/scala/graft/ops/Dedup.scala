package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, from exact through
  * near-dup. Scale notes per operator are inline; the common theme: collapse
  * to keys/signatures FIRST (map-side, no data movement), shuffle only the
  * small derived relations, and pair candidates within buckets
  * (BucketPairs) instead of through self-joins.
  */
object Dedup {

  /** Exact dedup on a normalized content key (md5 of lowercased text).
    * One hash-aggregate (single shuffle of (key, doc_id) pairs — not the
    * documents). Output: one row per document with its keep/drop verdict so
    * the result is a filter mask usable downstream.
    */
  def exact(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("dup_key"))
    docs.select(col("doc_id"), md5(lower(col("text"))).as("dup_key"))
      .withColumn("keep_doc_id", min(col("doc_id")).over(w))
      .withColumn("group_size", count(lit(1)).over(w))
      .select(col("doc_id"), col("dup_key"), col("keep_doc_id"), col("group_size"),
        (col("doc_id") === col("keep_doc_id")).as("keep"))
  }

  /** Near-exact dedup on a prefix key: md5 of the first `k` word tokens of the
    * lowercased text (catches boilerplate with varying tails).
    */
  def prefixKey(docs: DataFrame, k: Int = 6): DataFrame = {
    val toks = TextAnalysis.tokensCol(lower(col("text")))
    val key = md5(concat_ws(" ", slice(toks, 1, k)))
    val w = Window.partitionBy(col("dup_key"))
    docs.select(col("doc_id"), key.as("dup_key"))
      .withColumn("keep_doc_id", min(col("doc_id")).over(w))
      .withColumn("group_size", count(lit(1)).over(w))
      .where(col("group_size") > 1)
      .select(col("doc_id"), col("dup_key"), col("keep_doc_id"), col("group_size"))
  }

  /** Exact n-gram Jaccard pairs >= tau (this is also the reference for the
    * MinHash path). Blocking: only pairs sharing at least one shingle are
    * generated, from each shingle's posting list; `maxShingleFreq` drops
    * stop-shingles that would otherwise produce quadratic hot-key blowup
    * (the skew lever at 100 TB).
    */
  def ngramJaccardPairs(docs: DataFrame, n: Int = 3, tau: Double = 0.5,
      maxShingleFreq: Int = 200): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // Distinct word n-gram shingles per doc via the native codegen'd
    // expression (empty array for docs with < n tokens). fan: the shingle
    // pass is otherwise ONE scan task (single parquet split).
    val grams = graft.ops.Par.fan(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        graft.functions.GraftFunctions.graft_shingles(col("text"), n).as("shingles"))
    // Candidate pairs come from each shingle's posting list (BucketPairs).
    // Shingles are distinct per doc, so a list's length is the shingle's
    // document frequency and the cap drops stop-shingles. Each posting entry
    // carries its doc's shingle count, so the Jaccard denominator is at hand
    // when the intersections are counted.
    // explode_outer + isNotNull is row-identical to explode (element arrays
    // carry no nulls), but a plain explode makes InferFiltersFromGenerate
    // push `size(graft_shingles(text)) > 0` into the single-task scan, which
    // evaluates the shingle expression twice more per doc before the fan.
    val postings = grams
      .select(col("doc_id"), size(col("shingles")).as("n_sh"), explode_outer(col("shingles")).as("sh"))
      .where(col("sh").isNotNull)
      .select(col("sh"), col("doc_id"), col("n_sh"))
    val pairs = BucketPairs(postings, Seq("sh"), maxShingleFreq)((r: (String, Long, Int)) => r._1) { run =>
      BucketPairs.pairs(run)(_._2).map { case (a, b) => (a._2, a._3, b._2, b._3) }
    }.toDF("doc_id_1", "n1", "doc_id_2", "n2")
    pairs.groupBy(col("doc_id_1"), col("doc_id_2"), col("n1"), col("n2"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (col("n1") + col("n2") - col("inter")).cast("double"), 4))
      .where(col("jaccard") >= tau)
      .select(col("doc_id_1"), col("doc_id_2"), col("jaccard"))
  }

  /** MinHash + LSH banding near-dup pairs: signatures map-side, candidate
    * pairs from each (band, key) bucket's run of docs (BucketPairs, no cap),
    * verified with exact Jaccard. The scale path: cost is O(docs * k) for
    * signatures + candidate buckets, never all-pairs. Verified against
    * `ngramJaccardPairs` in DedupSpec.
    */
  def minHashPairs(docs: DataFrame, n: Int = 3, numHashes: Int = 64, bands: Int = 16,
      tau: Double = 0.5): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rows = numHashes / bands
    // fan: the shingle+minhash pass is otherwise ONE scan task (single
    // parquet split — guide §2.5). localCheckpoint, not cache(): 3 consumers
    // (banding + both verify-join sides) replay pinned blocks, and nothing
    // stays registered in the cacheManager after the query (round-2 review
    // finding; blocks are freed by the ContextCleaner when the result is
    // dropped)
    val withSh = graft.ops.Par.fan(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), lower(col("text")).as("t"))
      .as[(Long, String)]
      .map { case (id, t) => (id, Hashing.wordShingles(t, n).toArray) }
      .toDF("doc_id", "shingles")
      .where(size(col("shingles")) > 0)
      .localCheckpoint()
    val banded = withSh.as[(Long, Array[Long])].flatMap { case (id, sh) =>
      val sig = Hashing.minHash(sh, numHashes)
      Hashing.bandKeys(sig, bands, rows).iterator.zipWithIndex.map { case (k, b) => (id, b, k) }
    }.toDF("doc_id", "band", "key")
    val cand = BucketPairs(banded.select(col("band"), col("key"), col("doc_id")), Seq("band", "key"))(
        (r: (Int, Long, Long)) => (r._1, r._2)) { run =>
      BucketPairs.pairs(run)(_._3).map { case (a, b) => (a._3, b._3) }
    }.toDF("doc_id_1", "doc_id_2").distinct()
    cand
      .join(withSh.withColumnRenamed("doc_id", "doc_id_1").withColumnRenamed("shingles", "sh1"), "doc_id_1")
      .join(withSh.withColumnRenamed("doc_id", "doc_id_2").withColumnRenamed("shingles", "sh2"), "doc_id_2")
      .select(col("doc_id_1"), col("doc_id_2"), col("sh1"), col("sh2"))
      .as[(Long, Long, Array[Long], Array[Long])]
      .map { case (d1, d2, sh1, sh2) =>
        (d1, d2, Hashing.jaccard(sh1.toSet, sh2.toSet))
      }
      .toDF("doc_id_1", "doc_id_2", "jaccard")
      // HALF_UP column round (not math.rint/half-even) so a tie at the 4th
      // decimal rounds identically to the DuckDB oracle's round()
      .withColumn("jaccard", round(col("jaccard"), 4))
      .where(col("jaccard") >= tau)
  }

  /** SimHash near-dup pairs: 64-bit sketch, candidates share one of four
    * 16-bit chunks (finds all pairs within Hamming distance 3 whenever the
    * differing bits fall in <= 3 chunks; exact Hamming check verifies).
    */
  def simHashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // fan: the shingle+simhash pass is otherwise ONE scan task (guide §2.5).
    // Read once, by the bucket pairing, so it is not pinned.
    val sigs = graft.ops.Par.fan(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), lower(col("text")).as("t"))
      .as[(Long, String)]
      .map { case (id, t) => (id, Hashing.simHash(Hashing.wordShingles(t, 2))) }
      .toDF("doc_id", "sim")
    val chunked = sigs.as[(Long, Long)].flatMap { case (id, s) =>
      (0 until 4).iterator.map(c => (id, s, c, (s >>> (c * 16)) & 0xffffL))
    }.toDF("doc_id", "sim", "chunk", "key")
    // The exact Hamming check runs inside the pair loop (java bitCount ==
    // bit_count, a pure pair function, so filter-then-distinct ==
    // distinct-then-filter): the dedup exchange carries only true near-dup
    // pairs instead of every bucket pair.
    BucketPairs(chunked.select(col("chunk"), col("key"), col("doc_id"), col("sim")), Seq("chunk", "key"))(
        (r: (Int, Long, Long, Long)) => (r._1, r._2)) { run =>
      BucketPairs.pairs(run)(_._3).collect {
        case (a, b) if java.lang.Long.bitCount(a._4 ^ b._4) <= maxHamming => (a._3, b._3, a._4, b._4)
      }
    }.toDF("doc_id_1", "doc_id_2", "s1", "s2")
      .distinct()
      .withColumn("hamming", bit_count(col("s1").bitwiseXOR(col("s2"))))
      .where(col("hamming") <= maxHamming)
      .select(col("doc_id_1"), col("doc_id_2"), col("hamming"))
  }
}
