package graft.train

import graft.ner.{DistSim, Gazette, NerFeatures}
import graft.pipeline.{SparkTestSession, Transcripts}
import org.scalatest.funsuite.AnyFunSuite

/** Feature-pruning semantics (the memory levers for web-corpus feature counts):
  * removeBackgroundSingletonFeatures (CRFClassifier.java:430-451) and the
  * prune-retrain loop / dropFeaturesBelowThreshold (:140-166,940-946,1102-1105).
  */
class TrainerPruneSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def goldDocs(n: Long) = {
    import spark.implicits._
    Transcripts.synthGold(spark, n, seed = 21L).map(g => LabeledDoc(g.words, g.labels))
  }

  test("removeBackgroundSingletonFeatures: keep iff >=1 entity occurrence or >=2 background") {
    import spark.implicits._
    // hand-built corpus: 'zzqa' occurs ONCE at a background position (drop its
    // C features); 'zzqb' twice at background positions (keep); 'zzqc' once
    // but at an entity position (keep)
    val docs = Seq(
      LabeledDoc(Seq("zzqa", "Alice"), Seq("O", "PERSON")),
      LabeledDoc(Seq("zzqb", "ran"), Seq("O", "O")),
      LabeledDoc(Seq("zzqb", "slept"), Seq("O", "O")),
      LabeledDoc(Seq("zzqc", "Bob"), Seq("PERSON", "PERSON"))).toDS()
    val m = Trainer.train(spark, docs,
      Trainer.Config(maxIterations = 3, removeBackgroundSingletonFeatures = true))
    assert(!m.featureIndex.containsKey("#<zzqa>#|C"), "background singleton must be dropped")
    assert(m.featureIndex.containsKey("#<zzqb>#|C"), "twice-at-background must be kept")
    assert(m.featureIndex.containsKey("#<zzqc>#|C"), "entity occurrence must be kept")
    // neighbor feature of zzqa emitted at the PERSON position survives
    assert(m.featureIndex.containsKey("zzqa-PW|C"))
    // CpC features ARE subject to the rule; CpCp2C (k=2) is NOT (k < 2 only)
    assert(m.featureIndex.containsKey("PPSEQ|CpCp2C"))

    // on a real corpus the dictionary shrinks but accuracy holds
    val base = Trainer.train(spark, goldDocs(150), Trainer.Config(maxIterations = 60))
    val pruned = Trainer.train(spark, goldDocs(150),
      Trainer.Config(maxIterations = 60, removeBackgroundSingletonFeatures = true))
    info(s"dictionary: ${base.numFeatures} -> ${pruned.numFeatures} with background-singleton pruning")
    assert(pruned.numFeatures < base.numFeatures)
    var ok = 0L; var total = 0L
    for (conv <- 5000L until 5100L; t <- 0 until Transcripts.numTurns(21L, conv)
         if !Transcripts.isToolTurn(21L, conv, t)) {
      val (words, labels) = Transcripts.turnTokens(21L, conv, t)
      val got = pruned.tag(words)
      for (i <- words.indices) { if (got(i) == labels(i)) ok += 1; total += 1 }
    }
    info(f"held-out acc with pruning = ${ok.toDouble / total}%.4f over $total tokens")
    assert(ok.toDouble / total >= 0.95)
  }

  test("minibatch SGD optimizer converges to a usable model (SGD-family analogue)") {
    val m = Trainer.train(spark, goldDocs(150),
      Trainer.Config(optimizer = Optimizer.Sgd(80)))
    var ok = 0L; var total = 0L
    for (conv <- 5000L until 5100L; t <- 0 until Transcripts.numTurns(21L, conv)
         if !Transcripts.isToolTurn(21L, conv, t)) {
      val (words, labels) = Transcripts.turnTokens(21L, conv, t)
      val got = m.tag(words)
      for (i <- words.indices) { if (got(i) == labels(i)) ok += 1; total += 1 }
    }
    val acc = ok.toDouble / total
    info(f"SGD held-out token accuracy = $acc%.4f over $total tokens")
    assert(acc >= 0.93, s"acc $acc")
    assertRetrainsIdentically(m, Trainer.Config(optimizer = Optimizer.Sgd(80)))
  }

  /** Seeded samples merged in partition order: training `cfg` again gives
    * `m`'s weights bit for bit. */
  private def assertRetrainsIdentically(m: graft.ner.NerModel, cfg: Trainer.Config): Unit = {
    val m2 = Trainer.train(spark, goldDocs(150), cfg)
    assert((0 until m.numFeatures).forall(f => java.util.Arrays.equals(m.weights(f), m2.weights(f))))
  }

  test("SGDToQN optimizer: stochastic warmup + quasi-Newton polish reaches QN-level accuracy") {
    // SGDToQNMinimizer semantics: SGD passes reach the basin, then L-BFGS
    // finishes from the SGD point with a small iteration budget
    val cfg = Trainer.Config(optimizer = Optimizer.SgdToQn(20), maxIterations = 25)
    val m = Trainer.train(spark, goldDocs(150), cfg)
    var ok = 0L; var total = 0L
    for (conv <- 5000L until 5100L; t <- 0 until Transcripts.numTurns(21L, conv)
         if !Transcripts.isToolTurn(21L, conv, t)) {
      val (words, labels) = Transcripts.turnTokens(21L, conv, t)
      val got = m.tag(words)
      for (i <- words.indices) { if (got(i) == labels(i)) ok += 1; total += 1 }
    }
    val acc = ok.toDouble / total
    info(f"SGDToQN held-out token accuracy = $acc%.4f over $total tokens (20 sgd + 25 qn iters)")
    assert(acc >= 0.97, s"acc $acc")
    assertRetrainsIdentically(m, cfg)
  }

  test("ScaledSGD optimizer: diag-BFGS per-coordinate gains converge to a usable model") {
    val cfg = Trainer.Config(optimizer = Optimizer.ScaledSgd(60))
    val m = Trainer.train(spark, goldDocs(150), cfg)
    var ok = 0L; var total = 0L
    for (conv <- 5000L until 5100L; t <- 0 until Transcripts.numTurns(21L, conv)
         if !Transcripts.isToolTurn(21L, conv, t)) {
      val (words, labels) = Transcripts.turnTokens(21L, conv, t)
      val got = m.tag(words)
      for (i <- words.indices) { if (got(i) == labels(i)) ok += 1; total += 1 }
    }
    val acc = ok.toDouble / total
    info(f"ScaledSGD held-out token accuracy = $acc%.4f over $total tokens")
    assert(acc >= 0.93, s"acc $acc")
    assertRetrainsIdentically(m, cfg)
  }

  test("SMD optimizer: meta-descent with finite-difference H.v converges") {
    val cfg = Trainer.Config(optimizer = Optimizer.Smd(60, 0.3))
    val m = Trainer.train(spark, goldDocs(150), cfg)
    var ok = 0L; var total = 0L
    for (conv <- 5000L until 5100L; t <- 0 until Transcripts.numTurns(21L, conv)
         if !Transcripts.isToolTurn(21L, conv, t)) {
      val (words, labels) = Transcripts.turnTokens(21L, conv, t)
      val got = m.tag(words)
      for (i <- words.indices) { if (got(i) == labels(i)) ok += 1; total += 1 }
    }
    val acc = ok.toDouble / total
    info(f"SMD held-out token accuracy = $acc%.4f over $total tokens")
    assert(acc >= 0.93, s"acc $acc")
    assertRetrainsIdentically(m, cfg)
  }

  test("prune-retrain loop drops low-range features and keeps accuracy") {
    val base = Trainer.train(spark, goldDocs(150), Trainer.Config(maxIterations = 60))
    val pruned = Trainer.train(spark, goldDocs(150),
      Trainer.Config(maxIterations = 60, numTimesPruneFeatures = 1, featureDiffThresh = 0.01))
    info(s"dictionary: ${base.numFeatures} -> ${pruned.numFeatures} after 1 prune-retrain round")
    assert(pruned.numFeatures < base.numFeatures)
    // every surviving weight row has range > thresh in the FIRST round's
    // solution; after retrain rows shift, but the dictionary must only shrink
    var ok = 0L; var total = 0L
    for (conv <- 5000L until 5100L; t <- 0 until Transcripts.numTurns(21L, conv)
         if !Transcripts.isToolTurn(21L, conv, t)) {
      val (words, labels) = Transcripts.turnTokens(21L, conv, t)
      val got = pruned.tag(words)
      for (i <- words.indices) { if (got(i) == labels(i)) ok += 1; total += 1 }
    }
    info(f"held-out acc after prune-retrain = ${ok.toDouble / total}%.4f over $total tokens")
    assert(ok.toDouble / total >= 0.95)
  }

  test("processed-data artifact: retrain from it in a fresh pass, no corpus needed") {
    // the reference's save/load of featurized corpora (CRFClassifier.java:
    // 972-985,1254-1292): featurize once, train again later (any session)
    // straight from the artifact
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_processed_").toString
    val cfg = Trainer.Config(maxIterations = 60, processedDataDir = Some(dir))
    val m1 = Trainer.train(spark, goldDocs(60), cfg)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "meta.gz")))
    // retrain with an EMPTY corpus: only the artifact can be feeding this
    val m2 = Trainer.train(spark, spark.emptyDataset[LabeledDoc], cfg)
    assert(m2.numFeatures == m1.numFeatures)
    for (conv <- 0L until 20L) {
      val (words, _) = Transcripts.turnTokens(8L, conv, 0)
      assert(m2.tag(words).toSeq == m1.tag(words).toSeq, s"conv $conv")
    }
    // an artifact built under different feature flags must be rejected
    intercept[IllegalArgumentException] {
      Trainer.train(spark, spark.emptyDataset[LabeledDoc], cfg.copy(features = cfg.features.copy(useParenMatching = true)))
    }
  }

  test("train-time featurization equals the model's preprocess, attach and encode under a non-default spec") {
    // the Trainer's processed-data artifact stores each document as it was
    // encoded for training; the model's own string path must give the same
    // ids for the same document, in the (reversed) word order the Trainer saw
    import spark.implicits._
    val spec = NerFeatures.Spec(
      gazette = Gazette.parse(Seq("PERSON Alice Johnson", "LOCATION Berlin")),
      normalizeTerms = true, useOccurrencePatterns = true, useReverse = true,
      distSim = Some(new DistSim(Map("alice" -> "C1", "berlin" -> "C2", "color" -> "C3"))),
      useTags = true, useTaggySequences = true, useParenMatching = true,
      ngramOpts = NerFeatures.NgramOpts(maxLen = 5, noMid = false, lowercase = true),
      disjunctionWidth = 2,
      miscOpts = NerFeatures.MiscOpts(useLemmas = true, usePrevNextLemmas = true, useChunks = true,
        useChunkySequences = true, useUnknown = true, useGenericFeatures = true),
      genericKey = Some("src"))
    def withColumns(words: Seq[String], labels: Seq[String]) = LabeledDoc(words, labels,
      tags = words.map(w => if (w.nonEmpty && w.head.isUpper) "NNP" else if (w.endsWith("ed")) "VBD" else "NN"),
      lemmas = words.map(_.toLowerCase),
      chunks = words.indices.map(i => if (i % 3 == 0) "B-NP" else "I-NP"),
      unknowns = words.map(w => (w.length % 2 == 0).toString),
      generics = words.map(w => s"g${w.length % 3}"))
    // parens, a repeated name and a British spelling fire the paren,
    // occurrence and normalizeTerms paths
    val handmade = Seq(
      withColumns(Seq("Alice", "Johnson", "(", ")", "met", "Alice", "in", "Berlin", "and", "saw",
        "Alice", "there", "."),
        Seq("PERSON", "PERSON", "O", "O", "O", "PERSON", "O", "LOCATION", "O", "O", "PERSON", "O", "O")),
      withColumns(Seq("the", "colour", "(", "Bob", ")", "visited", "Berlin", "twice"),
        Seq("O", "O", "O", "PERSON", "O", "O", "LOCATION", "O")))
    val docs = handmade ++ Transcripts.synthGold(spark, 30L, seed = 21L).collect()
      .map(g => withColumns(g.words, g.labels))
    val dir = java.nio.file.Files.createTempDirectory("graft_spec_").toString
    val m = Trainer.train(spark, docs.toDS(),
      Trainer.Config(maxIterations = 3, features = spec, processedDataDir = Some(dir)))
    assert(m.features == spec)
    def norm(e: Seq[Seq[Seq[Int]]], l: Seq[Int]) = (e.map(_.map(_.toList).toList).toList, l.toList)
    val stored = spark.read.parquet(s"$dir/encoded.parquet").as[(Seq[Seq[Seq[Int]]], Seq[Int])]
      .collect().map { case (e, l) => norm(e, l) }
    val ours = docs.map { d =>
      def r(c: Seq[String]) = c.reverse.toIndexedSeq
      val toks = m.features.attach(m.preprocess(r(d.words)), r(d.tags), r(d.lemmas), r(d.chunks),
        r(d.unknowns), r(d.generics))
      norm(m.encode(toks).map(_.map(_.toSeq).toSeq).toSeq, d.labels.reverse.map(m.classOf))
    }
    val (a, b) = (stored.map(_.toString).sorted.toSeq, ours.map(_.toString).sorted)
    assert(a == b, s"${a.diff(b).size} of ${a.size} stored documents differ from the model's encoding")
    // every optional family reached the dictionary, so the comparison covers it
    val keys = m.featureIndex.keySet.toArray.map(_.toString)
    for (t <- Seq("-GAZ", "-DISTSIM|C", "-TAG|C", "-TS|CpC", "PAREN-MATCH|", "X-NEXT-OCCURRENCE",
        "-LEM|C", "-PCCHUNK|C", "-PCNCHUNK|CpC", "-UNKNOWN|C", "-src|C", "color-WORD|C"))
      assert(keys.exists(_.contains(t)), t)
  }

  test("featureCountThreshold: distributed frequency floor keeps accuracy, bounds the dictionary") {
    import spark.implicits._
    // hand corpus: hapax word 'zzqx' appears once -> its ngram/C features fall
    // under a floor of 2; 'zzqy' appears twice -> kept
    val docs = Seq(
      LabeledDoc(Seq("zzqx", "Alice"), Seq("O", "PERSON")),
      LabeledDoc(Seq("zzqy", "Bob"), Seq("O", "PERSON")),
      LabeledDoc(Seq("zzqy", "Carol"), Seq("O", "PERSON"))).toDS()
    val m = Trainer.train(spark, docs,
      Trainer.Config(maxIterations = 3, featureCountThreshold = 2))
    assert(!m.featureIndex.containsKey("#<zzqx>#|C"), "hapax feature must fall under the floor")
    assert(m.featureIndex.containsKey("#<zzqy>#|C"), "twice-seen feature must survive")
    assert(m.featureIndex.containsKey("PSEQ|CpC"), "constant features occur everywhere")

    // floor composes with removeBackgroundSingletonFeatures (total-count floor
    // applied on top of the fg/bg rule)
    val mBoth = Trainer.train(spark, docs, Trainer.Config(maxIterations = 3,
      featureCountThreshold = 2, removeBackgroundSingletonFeatures = true))
    assert(!mBoth.featureIndex.containsKey("#<zzqx>#|C"))

    // on a real corpus: the dictionary shrinks, held-out accuracy holds, and
    // the floor-off path is byte-identical to before (default untouched)
    val base = Trainer.train(spark, goldDocs(150), Trainer.Config(maxIterations = 60))
    val floored = Trainer.train(spark, goldDocs(150),
      Trainer.Config(maxIterations = 60, featureCountThreshold = 3))
    info(s"dictionary: ${base.numFeatures} -> ${floored.numFeatures} with featureCountThreshold=3")
    assert(floored.numFeatures < base.numFeatures)
    var ok = 0L; var total = 0L
    for (conv <- 5000L until 5100L; t <- 0 until Transcripts.numTurns(21L, conv)
         if !Transcripts.isToolTurn(21L, conv, t)) {
      val (words, labels) = Transcripts.turnTokens(21L, conv, t)
      val got = floored.tag(words)
      for (i <- words.indices) { if (got(i) == labels(i)) ok += 1; total += 1 }
    }
    info(f"held-out acc with floor = ${ok.toDouble / total}%.4f over $total tokens")
    assert(ok.toDouble / total >= 0.95)
  }

  test("maxKnownLCWords caps the driver-side vocabulary at the most frequent words") {
    // knownLCWords is model state the reference grows unboundedly; at web
    // scale it is the first driver OOM, so Config.maxKnownLCWords applies a
    // deterministic frequency ceiling (count desc, word asc on ties).
    import spark.implicits._
    val docs = Seq(
      LabeledDoc(Seq("alpha", "alpha", "beta", "Gamma", "delta"), Seq("O", "O", "O", "O", "O")),
      LabeledDoc(Seq("alpha", "beta", "ceta"), Seq("O", "O", "O"))).toDS()
    // unbounded (default): every lowercase-initial word, uppercase excluded
    val all = Trainer.knownLCWords(spark, docs, normTerms = false, Int.MaxValue)
    assert(all == Set("alpha", "beta", "ceta", "delta"))
    // capped: alpha(3) and beta(2) dominate
    assert(Trainer.knownLCWords(spark, docs, normTerms = false, 2) == Set("alpha", "beta"))
    // tie at count 1 between ceta and delta -> lexicographic: ceta wins
    assert(Trainer.knownLCWords(spark, docs, normTerms = false, 3) ==
      Set("alpha", "beta", "ceta"))
  }
}
