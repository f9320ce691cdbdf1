package graft.ops

import graft.pipeline.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class HashingSpec extends AnyFunSuite {
  test("minhash similarity estimates jaccard") {
    val rng = new scala.util.Random(5)
    for (_ <- 1 to 10) {
      val base = Set.fill(200)(rng.nextLong())
      val keep = base.filter(_ => rng.nextDouble() < 0.7)
      val b = keep ++ Set.fill(60)(rng.nextLong())
      val trueJ = Hashing.jaccard(base, b)
      val sa = Hashing.minHash(base, 128)
      val sb = Hashing.minHash(b, 128)
      val est = sa.zip(sb).count { case (x, y) => x == y }.toDouble / 128
      assert(math.abs(est - trueJ) < 0.15, s"est=$est true=$trueJ")
    }
  }

  test("simhash of similar sets has small hamming distance") {
    val rng = new scala.util.Random(9)
    val base = Set.fill(300)(rng.nextLong())
    val near = base.take(290).toSet ++ Set.fill(10)(rng.nextLong())
    val far = Set.fill(300)(rng.nextLong())
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(Hashing.simHash(base), Hashing.simHash(near)) < 12)
    assert(ham(Hashing.simHash(base), Hashing.simHash(far)) > 30)
    assert(Hashing.simHash(base) == Hashing.simHash(base)) // deterministic
  }

  test("shingles and fingerprints are deterministic") {
    assert(Hashing.charShingles("alice johnson", 3) == Hashing.charShingles("alice johnson", 3))
    assert(Hashing.wordShingles("a b c d", 2).size == 3)
    assert(Hashing.rollingFingerprint("abc") == ('a' * 31L + 'b') * 31L + 'c')
  }
}

class DedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sfDir = "/root/testdata/sf0.001"
  lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet").cache()

  test("exact dedup marks exactly one keeper per group and covers all docs") {
    val res = Dedup.exact(docs).cache()
    assert(res.count() == docs.count())
    val bad = res.groupBy("dup_key")
      .agg(sum(when(col("keep"), 1).otherwise(0)).as("keepers"))
      .where(col("keepers") =!= 1).count()
    assert(bad == 0)
  }

  test("minhash pairs match exact ngram-jaccard pairs at tau=0.5") {
    val tau = 0.5
    val exact = Dedup.ngramJaccardPairs(docs, n = 3, tau = tau, maxShingleFreq = 10000)
      .select("doc_id_1", "doc_id_2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = Dedup.minHashPairs(docs, n = 3, tau = tau)
      .select("doc_id_1", "doc_id_2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // minhash candidates are verified with exact jaccard -> precision 1.0
    assert(mh.subsetOf(exact), s"false positives: ${mh -- exact}")
    // recall: banding (16 bands x 4 rows) at j>=0.5 catches nearly all
    if (exact.nonEmpty) {
      val recall = (mh intersect exact).size.toDouble / exact.size
      info(s"minhash recall=$recall over ${exact.size} true pairs")
      assert(recall >= 0.9, s"recall $recall")
    } else info("no pairs above tau at this sf (both sides empty)")
  }

  test("ngram jaccard survives docs shorter than n tokens (round-1 crash)") {
    // sequence(1, size-(n-1)) steps DOWNWARD for size<n and slice(_,0,_)
    // threw INVALID_PARAMETER_VALUE.START; short docs must yield no shingles.
    import spark.implicits._
    val mixed = Seq(
      (1L, ""), (2L, "one"), (3L, "two words"), (4L, "exactly three tokens"),
      (5L, "alpha beta gamma delta epsilon zeta"),
      (6L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(mixed, n = 3, tau = 0.5).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((5L, 6L)))
    assert(pairs.head.getDouble(2) == 1.0)
  }

  test("shingle frequency cap drops hot-shingle pairs deterministically") {
    import spark.implicits._
    // 5 docs share one boilerplate trigram; with the cap below 5 the hot
    // shingle contributes no candidate pairs, so only the true near-dups
    // (sharing rarer shingles) surface.
    val docs = (0 until 5).map(i => (i.toLong, s"common stop shingle unique$i tail$i"))
      .toDF("doc_id", "text")
    val uncapped = Dedup.ngramJaccardPairs(docs, n = 3, tau = 0.1, maxShingleFreq = 100)
    val capped = Dedup.ngramJaccardPairs(docs, n = 3, tau = 0.1, maxShingleFreq = 4)
    assert(uncapped.count() == 10) // all pairs share the hot shingle
    assert(capped.count() == 0)    // cap removes the quadratic fan-out
  }

  test("simhash pairs are symmetric-free and hamming-bounded") {
    val res = Dedup.simHashPairs(docs, maxHamming = 10).collect()
    assert(res.forall(r => r.getLong(0) < r.getLong(1)))
    assert(res.forall(r => r.getAs[Number]("hamming").intValue <= 10))
  }

  test("dedup entry points leave no cached relations behind (no cacheManager leak)") {
    // round-2 review finding: minHashPairs/simHashPairs used .cache() with no
    // unpersist; the localCheckpoint replacements register NOTHING
    spark.catalog.clearCache()
    val fresh = spark.read.parquet(s"$sfDir/documents.parquet")
    Dedup.minHashPairs(fresh, n = 3, tau = 0.5).collect()
    assert(spark.sharedState.cacheManager.isEmpty, "minHashPairs leaked a cached relation")
    Dedup.simHashPairs(fresh, maxHamming = 8).collect()
    assert(spark.sharedState.cacheManager.isEmpty, "simHashPairs leaked a cached relation")
    Dedup.ngramJaccardPairs(fresh, n = 3, tau = 0.5).collect()
    assert(spark.sharedState.cacheManager.isEmpty, "ngramJaccardPairs leaked a cached relation")
  }
}

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sfDir = "/root/testdata/sf0.001"
  lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").cache()

  /** All pairs with cosine >= tau, as a broadcast nested-loop join: the
    * brute-force reference for `Similarity.cosinePairsBlocked` (it puts one
    * whole side in driver and executor memory, so it runs at test sizes only).
    */
  private def cosinePairs(embeddings: org.apache.spark.sql.DataFrame, tau: Double) = {
    graft.functions.GraftFunctions.register(embeddings.sparkSession)
    val l = embeddings.select(col("vec_id").as("vec_id_1"), col("embedding").as("e1"))
    val r = embeddings.select(col("vec_id").as("vec_id_2"), col("embedding").as("e2"))
    l.join(broadcast(r), col("vec_id_1") < col("vec_id_2"))
      .withColumn("sim", round(Similarity.cosine(col("e1"), col("e2")), 6))
      .where(col("sim") >= tau)
      .select(col("vec_id_1"), col("vec_id_2"), col("sim"))
  }

  test("brute-force top-k: k rows per query, ranks 1..k, sims descending") {
    val res = Similarity.bruteForceTopK(emb, k = 5, queryMod = 50).cache()
    val q = emb.where(col("vec_id") % 50 === 0).count()
    assert(res.count() == q * 5)
    val perQuery = res.groupBy("query_id").agg(
      collect_list(struct(col("rank"), col("sim"))).as("l")).collect()
    for (r <- perQuery) {
      val l = r.getSeq[org.apache.spark.sql.Row](1).sortBy(_.getInt(0))
      assert(l.map(_.getInt(0)) == (1 to l.size))
      val sims = l.map(_.getDouble(1))
      assert(sims == sims.sorted.reverse)
    }
  }

  test("LSH finds planted near-duplicates (the honest ANN regime)") {
    import spark.implicits._
    // plant: for each query vector (id % 50 == 0), a perturbed copy at id+100000
    val rows = emb.select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])].collect()
    val rng = new scala.util.Random(3)
    val planted = rows.filter(_._1 % 50 == 0).map { case (id, e) =>
      (id + 100000L, e.map(v => v + (rng.nextGaussian() * 0.05).toFloat))
    }
    val all = (rows ++ planted).toSeq.toDF("vec_id", "embedding")
    val lsh = Similarity.lshTopK(all, k = 1, queryMod = 50)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    val hits = planted.count { case (pid, _) => lsh.get(pid - 100000L).contains(pid) }
    val recall = hits.toDouble / planted.length
    info(s"planted-neighbor recall@1 = $recall over ${planted.length} queries")
    assert(recall >= 0.9, s"recall $recall")
  }

  test("blocked exact pairs == brute-force pairs (rows AND sims), any block count") {
    val brute = cosinePairs(emb, tau = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    for (b <- Seq(3, 16)) {
      val blocked = Similarity.cosinePairsBlocked(emb, tau = 0.4, nBlocks = b)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(blocked == brute, s"nBlocks=$b: missing=${brute -- blocked} extra=${blocked -- brute}")
    }
  }

  test("native graft_cosine is bit-identical to the zip_with/aggregate fold") {
    // the DuckDB oracle reproduces the old Catalyst fold exactly; the native
    // expression must not perturb a single ulp
    val oldCosine = {
      val a = col("e1"); val b = col("e2")
      val dot = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v)
      val na = sqrt(aggregate(a, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double")))
      val nb = sqrt(aggregate(b, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double")))
      dot / (na * nb)
    }
    val pairs = emb.limit(40).select(col("embedding").as("e1"), lit(1).as("k"))
      .join(emb.limit(40).select(col("embedding").as("e2"), lit(1).as("k")), "k")
    graft.functions.GraftFunctions.register(spark)
    val diffs = pairs
      .select(oldCosine.as("old"), Similarity.cosine(col("e1"), col("e2")).as("new"))
      .where(col("old") =!= col("new")) // bitwise-exact double equality
      .count()
    assert(diffs == 0)
  }

  test("IVF finds planted near-duplicates; deterministic across runs") {
    import spark.implicits._
    val rows = emb.select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])].collect()
    val rng = new scala.util.Random(17)
    val planted = rows.filter(_._1 % 50 == 0).map { case (id, e) =>
      (id + 100000L, e.map(v => v + (rng.nextGaussian() * 0.05).toFloat))
    }
    val all = (rows ++ planted).toSeq.toDF("vec_id", "embedding")
    val ivf = Similarity.ivfTopK(all, k = 1, queryMod = 50)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    val hits = planted.count { case (pid, _) => ivf.get(pid - 100000L).contains(pid) }
    val recall = hits.toDouble / planted.length
    info(s"IVF planted-neighbor recall@1 = $recall over ${planted.length} queries")
    assert(recall >= 0.9, s"recall $recall")
    // determinism: seeded init + fixed Lloyd rounds -> identical output
    val a = Similarity.ivfTopK(emb, k = 5, queryMod = 50)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val b = Similarity.ivfTopK(emb, k = 5, queryMod = 50)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(a == b)
    // k rows per query
    assert(a.groupBy(_._1).forall(_._2.size == 5))
  }

  test("LSH recall vs brute force on near-random data (report-only bar)") {
    val brute = Similarity.bruteForceTopK(emb, k = 5, queryMod = 50)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(emb, k = 5, queryMod = 50)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (lsh intersect brute).size.toDouble / brute.size
    info(s"LSH ANN recall@5 on random-like corpus = $recall")
    assert(recall >= 0.3, s"recall $recall below even the random-corpus floor")
  }
}

class MultimodalSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  test("REAL codecs: PNG/WAV/GVID payloads decode deterministically, batch-shape invariant") {
    val media = Multimodal.withPayload(docs)
    val a = Multimodal.decode(media, batchSize = 7).collect().sortBy(_.doc_id)
    val b = Multimodal.decode(media, batchSize = 64).collect().sortBy(_.doc_id)
    assert(a.length == docs.count())
    assert(a.map(_.doc_id).toSeq == b.map(_.doc_id).toSeq)
    // batch size must not change results
    assert(a.zip(b).forall { case (x, y) =>
      x.width == y.width && x.height == y.height && x.n_frames == y.n_frames &&
        x.feature.toSeq == y.feature.toSeq })
    assert(a.forall(r => r.feature.length == 8 && r.n_bytes > 0))
    val images = a.filter(_.media_type == "image")
    val audios = a.filter(_.media_type == "audio")
    val videos = a.filter(_.media_type == "video")
    assert(images.nonEmpty && audios.nonEmpty && videos.nonEmpty)
    // image: real PNG decode — dims in the generator's range, luma in [0,1]
    assert(images.forall(r => r.width >= 8 && r.width <= 24 && r.height >= 8 && r.height <= 20
      && r.n_frames == 1 && r.feature.forall(f => f >= 0f && f <= 1f)))
    // audio: real WAV container parse — 8kHz mono PCM-16, RMS in [0,1]
    assert(audios.forall(r => r.width == 8000 && r.height == 1 && r.n_frames >= 64
      && r.feature.forall(f => f >= 0f && f <= 1f)))
    // video: frame container — 2..6 frames, frame dims like images
    assert(videos.forall(r => r.n_frames >= 2 && r.n_frames <= 6 && r.width >= 8))
  }

  test("decoders round-trip known synthetic payloads exactly") {
    // image: decode returns the exact dimensions the generator rendered
    val png = Multimodal.synthPng(12345L)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    val dec = Multimodal.decodeImage(Multimodal.MediaRow(1L, "image", png))
    assert(dec.width == img.getWidth && dec.height == img.getHeight)
    // audio: sample count parsed from the data chunk matches the generator
    val wav = Multimodal.synthWav(999L)
    val decA = Multimodal.decodeWav(Multimodal.MediaRow(2L, "audio", wav))
    assert(decA.n_frames == (wav.length - 44) / 2)
    assert(decA.width == 8000 && decA.height == 1)
    // video: frame count round-trips; corrupt magic is rejected loudly
    val vid = Multimodal.synthGvid(777L)
    val decV = Multimodal.decodeVideo(Multimodal.MediaRow(3L, "video", vid))
    assert(decV.n_frames >= 2)
    val corrupt = vid.clone(); corrupt(0) = 'X'.toByte
    intercept[IllegalArgumentException] {
      Multimodal.decodeVideo(Multimodal.MediaRow(4L, "video", corrupt))
    }
  }
}
