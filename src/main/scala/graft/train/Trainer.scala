package graft.train

import breeze.linalg.DenseVector
import breeze.optimize.{DiffFunction, LBFGS}
import graft.core.Crf
import graft.io.NioLocalFileSystem
import graft.ner.{Gazette, NerFeatures, NerModel}
import graft.text.WordShape
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import scala.reflect.ClassTag

/** One training document: token words + gold labels (IO encoding, background
  * "O"), pre-tokenized — the unit the reference's column reader produces
  * (/root/reference/src/edu/stanford/nlp/sequences/ColumnDocumentReaderAndWriter.java:46-72).
  */
final case class LabeledDoc(words: Seq[String], labels: Seq[String],
    tags: Seq[String] = Seq.empty, lemmas: Seq[String] = Seq.empty,
    chunks: Seq[String] = Seq.empty, unknowns: Seq[String] = Seq.empty,
    // useGenericFeatures: raw values of the SINGLE effective generic column
    // (the CoreLabel collapse quirk, RefMapKeys) — joined with
    // Config.genericKey at featurization
    generics: Seq[String] = Seq.empty)

/** Distributed CRF training: dictionary-build jobs + L-BFGS on the driver over
  * per-partition (value, gradient) partials merged in partition order — the
  * classic Spark convex-optimization shape (mllib.optimization.LBFGS),
  * made reproducible. Semantics follow
  * CRFClassifier.train (/root/reference/src/edu/stanford/nlp/ie/crf/CRFClassifier.java:936-1108)
  * with the quadratic prior (sigma) of CRFLogConditionalObjectiveFunction.java:237-253.
  *
  * Scale notes (100 TB corpus): every per-iteration pass is a single map over
  * the cached encoded Dataset whose one gradient per partition is merged in
  * partition order (at most min(cores, docs / 50 + 1) of them); the feature dictionary is built with a distributed
  * distinct/count aggregation and only the distinct feature strings are
  * collected. That collect is NOT the binding constraint at scale: the model
  * itself (featureIndex + a dense weight row per feature) must fit in one JVM
  * to be broadcast for inference, and the collected dictionary is strictly
  * smaller than the model. The levers that actually bound feature count are
  * removeBackgroundSingletonFeatures (hapax background features dominate
  * web-corpus dictionaries) and the prune-retrain loop below; both are
  * implemented. A fully-distributed dictionary (sorted zipWithIndex job +
  * join-encoding) would only move the ceiling if inference also switched to
  * a partitioned parameter server, which no CRF of this family needs.
  */
object Trainer {

  final case class Config(
      sigma: Double = 20.0, // conllNoTags preset (SeqClassifierFlags.java:717)
      tolerance: Double = 1e-4, // flags.tolerance default (SeqClassifierFlags.java:67)
      maxIterations: Int = 200,
      lbfgsMemory: Int = 15, // QNsize under conllNoTags (SeqClassifierFlags.java:732)
      background: String = "O",
      // conllNoTags sets useObservedSequencesOnly (SeqClassifierFlags.java:690):
      // label windows never seen in training are forbidden (-inf factor entries,
      // matching the reference's NEGATIVE_INFINITY-initialized FactorTable) and
      // carry no weight columns.
      observedSequencesOnly: Boolean = true,
      // useGazettes: TYPE-GAZn features from a broadcast gazette, sloppy/clean
      // per the Gazette's modes (NERFeatureFactory.java:675-727,1211-1232)
      gazette: Gazette = Gazette.empty,
      // drop C/CpC features whose ONLY corpus occurrence is at a background
      // position (CRFClassifier.java:430-451; flag default false,
      // SeqClassifierFlags.java:354) — the big memory lever at web-corpus
      // feature counts, where hapax background features dominate the dictionary
      removeBackgroundSingletonFeatures: Boolean = false,
      // prune-retrain iterations (CRFClassifier.train loop, :940-946,1102-1105):
      // after each training round but the last, drop features whose weight-row
      // range (max - min) is NOT strictly above featureDiffThresh, re-encode,
      // retrain
      numTimesPruneFeatures: Int = 0,
      featureDiffThresh: Double = 0.0,
      // normalizeTerms: Americanize during the word fix (off in every
      // 3-class preset; ObjectBankWrapper.fix, :117-128)
      normalizeTerms: Boolean = false,
      // useOccurrencePatterns (goodCoNLL-only family): long-range repeated-
      // word features over the whole document window
      useOccurrencePatterns: Boolean = false,
      // useReverse (macro preset): documents train and decode reversed
      useReverse: Boolean = false,
      // useDistSim: cluster features from a broadcast lexicon (model state)
      distSim: Option[graft.ner.DistSim] = None,
      // useTags / useTaggySequences: POS-tag templates over LabeledDoc.tags
      useTags: Boolean = false,
      useTaggySequences: Boolean = false,
      // useParenMatching: matched open/close paren features (CpC + Cp2C)
      useParenMatching: Boolean = false,
      // useNGrams options (maxNGramLeng / noMidNGrams / lowercaseNGrams /
      // dehyphenateNGrams — NERFeatureFactory.java:1173-1197)
      ngramOpts: NerFeatures.NgramOpts = NerFeatures.NgramOpts.default,
      // useDisjunctive width (flags.disjunctionWidth, preset default 4)
      disjunctionWidth: Int = 4,
      // small families: useTitle/usePosition/useBeginSent/useSymWordPairs/
      // useFirstWord/useOrdinal
      miscOpts: NerFeatures.MiscOpts = NerFeatures.MiscOpts.default,
      // useGenericFeatures: the single effective generic column name (see
      // RefMapKeys.effectiveGenericKey); requires miscOpts.useGenericFeatures
      genericKey: Option[String] = None,
      // Ceiling on the knownLCWords vocabulary (model state used for the
      // dan2 'k' shape suffix). The reference grows it unboundedly
      // (CRFClassifier.java:1560 / ObjectBankWrapper.java:46-68) — fine at
      // CoNLL scale, but the distinct lowercase vocabulary of a 100 TB web
      // corpus is 10^8-10^9 strings and this set lives on the driver and in
      // every broadcast model. Past the cap the MOST FREQUENT words win
      // (deterministic tie-break: lexicographic) — a documented deviation,
      // default off = reference-faithful unbounded.
      maxKnownLCWords: Int = Int.MaxValue,
      // Frequency floor on the feature dictionary: keep a (group, feature)
      // only when it occurs at >= this many positions across the corpus.
      // The reference DECLARES this flag (SeqClassifierFlags.java:339,
      // featureCountThreshold, parsed at :1121-1122) but the Jan-2009 source
      // never consumes it — here it is the scale lever for the one remaining
      // driver OOM: featureIndex is a driver collect() (mirroring the
      // reference's in-RAM Index, CRFClassifier.java:381-501), and a 100 TB
      // corpus has 10^8-10^9 distinct feature strings. With a floor the
      // count-and-filter runs DISTRIBUTED and only survivors reach the
      // driver; long-tail hapax features (the overwhelming majority by Zipf)
      // never leave the executors. <= 1 (default) = reference-faithful keep-all.
      featureCountThreshold: Int = 0,
      // Restrict the dictionary to a caller-chosen feature subset, evaluated
      // driver-side on the collected (group, feature) pairs. The reference
      // supports exactly this shape of reduction — an arbitrary subset of the
      // template set loads and runs because unseen features hash-miss and
      // drop (CRFClassifier.java:200-207) — and training against the reduced
      // dictionary is a genuine CRF fit over that feature set (encodeWith
      // drops non-dictionary features before the objective ever sees them).
      // Used by the q48 trained-weights oracle, whose SQL side can only emit
      // the four SQL-expressible families. None (default) = keep all.
      dictionaryFilter: Option[(Int, String) => Boolean] = None,
      // Processed-data artifact (the reference's save/load of featurized
      // corpora, CRFClassifier.java:972-985,1254-1292): when set, the first
      // train() run persists the encoded corpus + dictionary metadata here
      // after featurization, and any later run (same or NEW session) whose
      // artifact exists skips every corpus pass — knownLCWords, class index,
      // dictionary build, observed-window scan AND per-doc featurization —
      // and goes straight to the minimizer over the stored parquet. Flags
      // that shape features are validated against the artifact on load.
      // Prune-retrain needs the raw corpus, so the loaded path requires
      // numTimesPruneFeatures == 0 (the reference's cached path has the same
      // restriction: pruning re-featurizes).
      processedDataDir: Option[String] = None,
      // optimizer: "qn" (default; flags.useQN) or "sgd" — the SGD-family
      // analogue (SGDMinimizer etc., selected by CRFClassifier.getMinimizer,
      // :1114-1146). The reference's per-example sequential updates don't
      // distribute, so this is MINIBATCH SGD: per step, the gradient of a
      // deterministic sample scaled to the corpus, plus the prior; decaying
      // gain. Same objective, different optimizer — not a parity surface.
      optimizer: String = "qn", // "qn" | "sgd" | "scaledsgd" (diag-BFGS per-coordinate gains) | "sgdtoqn" (sgdEpochs stochastic passes, then L-BFGS from that point)
      // useFloat (CRFClassifier.java:987-1020): train against the reference's
      // SINGLE-PRECISION objective (FloatObjective — bit-level mirror pinned
      // by RefFloatObjectiveSpec), the reference's memory lever for large
      // feature spaces. QN only, like the reference's dispatch. Distributed
      // per-partition float accumulation (partial sums reassociate across
      // partitions — training-only; the bit-exact surface is the
      // sequential FloatObjective.valueAndGrad).
      useFloat: Boolean = false,
      sgdEpochs: Int = 60,
      sgdBatchFraction: Double = 0.25,
      sgdGain: Double = 0.5)

  /** Corpus-derived known-lowercase vocabulary (ObjectBankWrapper.java:46-68;
    * timex-fixed words, see the pass-1 comment in train()). `limit` applies a
    * deterministic document-frequency ceiling — see Config.maxKnownLCWords.
    */
  private[graft] def knownLCWords(spark: SparkSession, docs: Dataset[LabeledDoc],
      normTerms: Boolean, limit: Int): Set[String] = {
    import spark.implicits._
    val lc = docs.flatMap(_.words.iterator.map(w => fixWord(w, normTerms))
      .filter(w => w.nonEmpty && Character.isLowerCase(w.charAt(0))))
    if (limit == Int.MaxValue) lc.distinct().collect().toSet
    else {
      import org.apache.spark.sql.functions.{col, count, lit}
      lc.toDF("w").groupBy(col("w")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("w").asc)
        .limit(limit)
        .select(col("w")).as[String].collect().toSet
    }
  }

  /** Dictionary-level content of a processed-data artifact (everything the
    * minimizer needs besides the encoded parquet).
    */
  private[graft] final case class ProcessedMeta(
      flags: String, knownLC: Set[String], classIndex: Array[String],
      features: Array[(Int, String)], observed: Option[Array[(Int, Int)]])

  /** The feature-shaping fingerprint stored in (and validated against) a
    * processed-data artifact.
    */
  private def featureFlags(cfg: Config): String = {
    // gazette/distsim are fingerprinted by CONTENT hash, not mere presence:
    // an artifact featurized under gazette A must not be reused for gazette B
    // (review finding - the features would silently disagree with the model's
    // attached gazette)
    def fnvAll(parts: Iterator[String]): Long =
      parts.foldLeft(0xcbf29ce484222325L)((h, p) => graft.ops.Hashing.fnv1a64(p) ^ (h * 31))
    val gazHash = fnvAll(cfg.gazette.fingerprintParts)
    val dsHash = fnvAll(cfg.distSim.iterator.flatMap(_.lexicon.toSeq.sorted.iterator
      .map { case (k, v) => s"$k\u0000$v" }))
    Seq(cfg.background, cfg.normalizeTerms, cfg.useOccurrencePatterns,
      cfg.useTags, cfg.useTaggySequences, cfg.useReverse, cfg.useParenMatching,
      cfg.observedSequencesOnly, cfg.removeBackgroundSingletonFeatures,
      dsHash, gazHash, cfg.maxKnownLCWords,
      cfg.ngramOpts.maxLen, cfg.ngramOpts.noMid, cfg.ngramOpts.lowercase,
      cfg.ngramOpts.dehyphenate, cfg.ngramOpts.greekify, cfg.ngramOpts.conjoinShapes,
      cfg.disjunctionWidth, cfg.miscOpts, cfg.featureCountThreshold,
      cfg.dictionaryFilter.isDefined).mkString("|")
  }

  private def metaPath(dir: String) = java.nio.file.Paths.get(dir, "meta.gz")

  private[graft] def saveProcessedMeta(dir: String, m: ProcessedMeta): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val out = new java.io.PrintWriter(new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(metaPath(dir))))
    try {
      out.println("graft-processed-v1")
      out.println(m.flags)
      out.println(m.classIndex.length); m.classIndex.foreach(out.println)
      out.println(m.knownLC.size); m.knownLC.toSeq.sorted.foreach(out.println)
      out.println(m.features.length)
      m.features.foreach { case (g, f) => out.println(s"$g\t$f") }
      m.observed match {
        case None => out.println(-1)
        case Some(obs) =>
          out.println(obs.length); obs.foreach { case (g, e) => out.println(s"$g\t$e") }
      }
    } finally out.close()
  }

  private[graft] def loadProcessedMeta(dir: String): ProcessedMeta = {
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      new java.util.zip.GZIPInputStream(java.nio.file.Files.newInputStream(metaPath(dir)))))
    try {
      require(in.readLine() == "graft-processed-v1", s"unknown artifact version in $dir")
      val flags = in.readLine()
      val ci = Array.fill(in.readLine().toInt)(in.readLine())
      val lc = Iterator.fill(in.readLine().toInt)(in.readLine()).toSet
      val feats = Array.fill(in.readLine().toInt) {
        val line = in.readLine(); val t = line.indexOf('\t')
        (line.substring(0, t).toInt, line.substring(t + 1))
      }
      val nObs = in.readLine().toInt
      val obs = if (nObs < 0) None else Some(Array.fill(nObs) {
        val line = in.readLine(); val t = line.indexOf('\t')
        (line.substring(0, t).toInt, line.substring(t + 1).toInt)
      })
      ProcessedMeta(flags, lc, ci, feats, obs)
    } finally in.close()
  }

  /** Merges the one partial each partition of `partials` yields, in
    * partition-index order, whatever order the tasks finish in. A
    * completion-order merge (`treeReduce`) groups floating-point sums
    * differently from run to run, so the same training ended in weights
    * apart in their last bits. A partial that finishes early is held until
    * the lower partitions' partials are merged.
    */
  private def mergeInOrder[T: ClassTag](partials: RDD[T])(merge: (T, T) => T): T = {
    val waiting = scala.collection.mutable.Map.empty[Int, T]
    var next = 0
    var acc = Option.empty[T]
    partials.sparkContext.runJob(partials, (it: Iterator[T]) => it.next(), (i: Int, p: T) => {
      waiting(i) = p
      while (waiting.contains(next)) {
        val q = waiting.remove(next).get
        acc = Some(acc.fold(q)(merge(_, q)))
        next += 1
      }
    })
    acc.get
  }

  private val addCounted: ((Array[Double], Long), (Array[Double], Long)) => (Array[Double], Long) = {
    case ((g1, n1), (g2, n2)) =>
      var i = 0
      while (i < g1.length) { g1(i) += g2(i); i += 1 }
      (g1, n1 + n2)
  }

  def train(spark: SparkSession, docs0: Dataset[LabeledDoc], cfg: Config = Config()): NerModel = {
    import spark.implicits._
    val sc = spark.sparkContext
    // processed-data artifact present? -> skip every corpus pass below
    val loadedMeta: Option[ProcessedMeta] = cfg.processedDataDir
      .filter(d => java.nio.file.Files.exists(metaPath(d)))
      .map { d =>
        require(cfg.numTimesPruneFeatures == 0,
          "prune-retrain re-featurizes: it needs the raw corpus, not a processed artifact")
        val m = loadProcessedMeta(d)
        require(m.flags == featureFlags(cfg),
          s"processed artifact $d was built with flags ${m.flags}, current ${featureFlags(cfg)}")
        m
      }
    // useReverse: physically reverse every doc before anything else, like the
    // reference's Collections.reverse(doc) at read time
    // copy(...) so newly added LabeledDoc fields cannot be silently dropped
    // again (r5 advice: unknowns/generics were lost here, degrading those
    // families to their 'null' constants under useReverse with no require)
    val docs = if (!cfg.useReverse) docs0
      else docs0.map(d => d.copy(words = d.words.reverse, labels = d.labels.reverse,
        tags = d.tags.reverse, lemmas = d.lemmas.reverse, chunks = d.chunks.reverse,
        unknowns = d.unknowns.reverse, generics = d.generics.reverse))
    docs.cache()

    // Pass 1: corpus-derived known-lowercase words (ObjectBankWrapper.java:46-68).
    // Subtlety: the reference's pre-pass iterates through processDocument, so
    // it sees TIMEX-FIXED words — "Monday" is collected as "monday" and the
    // later shape pass emits "WT-Xxk" for weekday tokens. Collect fixed words.
    val normTerms = cfg.normalizeTerms
    val occPat = cfg.useOccurrencePatterns
    val useTg = cfg.useTags
    val useTgSeq = cfg.useTaggySequences
    val useRev = cfg.useReverse
    val useParen = cfg.useParenMatching
    val ngOpts = cfg.ngramOpts
    val disjW = cfg.disjunctionWidth
    val miscO = cfg.miscOpts
    val genKey = cfg.genericKey.orNull
    val bcastDs = sc.broadcast(cfg.distSim)
    val knownLC: Set[String] = loadedMeta.map(_.knownLC)
      .getOrElse(knownLCWords(spark, docs, normTerms, cfg.maxKnownLCWords))

    // Class index: background first (index 0), then remaining labels sorted.
    val classIndex = loadedMeta.map(_.classIndex).getOrElse {
      val labels = docs.flatMap(_.labels).distinct().collect().sorted
      (cfg.background +: labels.filterNot(_ == cfg.background)).toArray
    }
    val classOf = classIndex.zipWithIndex.toMap
    val bcastKnownLC = sc.broadcast(knownLC)
    val bcastGaz = sc.broadcast(cfg.gazette)

    // Pass 2: distinct (group, feature) strings -> driver-assembled dictionary.
    // With removeBackgroundSingletonFeatures, C/CpC features are kept only if
    // they occur at >= 1 non-background position or >= 2 background positions
    // (the order-independent restatement of the reference's seenBackground
    // promote/demote sets, CRFClassifier.java:430-451; a CpC position counts
    // as background only when positions j AND j-1 are both background).
    val bg = cfg.background
    // dictionaryFilter is a function value: it cannot be fingerprinted into a
    // processed-data artifact, so the two levers are mutually exclusive
    require(cfg.dictionaryFilter.isEmpty || cfg.processedDataDir.isEmpty,
      "dictionaryFilter cannot be combined with processedDataDir (the filter is not fingerprintable)")
    val sorted0: Array[(Int, String)] =
      if (loadedMeta.isDefined) loadedMeta.get.features
      else if (!cfg.removeBackgroundSingletonFeatures) {
        val pairs = docs.flatMap { d =>
          val toks = withGenerics(withUnknowns(withChunks(withLemmas(withTags(preprocess(d.words.toIndexedSeq, bcastKnownLC.value, normTerms, bcastDs.value), d.tags), d.lemmas), d.chunks), d.unknowns), d.generics, genKey)
          (0 until toks.length).iterator.flatMap { pos =>
            val byGroup = NerFeatures.featuresAt(toks, pos, bcastGaz.value, occPat, bcastDs.value.isDefined, useTg, useTgSeq, useRev, useParen, ngOpts, disjW, miscO)
            byGroup.iterator.zipWithIndex.flatMap { case (fs, g) => fs.iterator.map(f => (g, f)) }
          }
        }
        if (cfg.featureCountThreshold <= 1) pairs.distinct().collect().sortBy(t => (t._1, t._2))
        else {
          // frequency floor, evaluated distributed (partial aggregation
          // map-side); only surviving features are collected
          import org.apache.spark.sql.functions.{col, count, lit}
          pairs.toDF("g", "f").groupBy(col("g"), col("f"))
            .agg(count(lit(1)).as("n"))
            .where(col("n") >= cfg.featureCountThreshold)
            .select(col("g"), col("f")).as[(Int, String)]
            .collect().sortBy(t => (t._1, t._2))
        }
      } else {
        import org.apache.spark.sql.functions.{col, count, lit, sum, when}
        docs.flatMap { d =>
          val toks = withGenerics(withUnknowns(withChunks(withLemmas(withTags(preprocess(d.words.toIndexedSeq, bcastKnownLC.value, normTerms, bcastDs.value), d.tags), d.lemmas), d.chunks), d.unknowns), d.generics, genKey)
          val lab = d.labels.toIndexedSeq
          (0 until toks.length).iterator.flatMap { pos =>
            val byGroup = NerFeatures.featuresAt(toks, pos, bcastGaz.value, occPat, bcastDs.value.isDefined, useTg, useTgSeq, useRev, useParen, ngOpts, disjW, miscO)
            byGroup.iterator.zipWithIndex.flatMap { case (fs, g) =>
              val isBg =
                if (g == 0) lab(pos) == bg
                else if (g == 1) lab(pos) == bg && (pos == 0 || lab(pos - 1) == bg)
                else false // rule applies to k < 2 only (CRFClassifier.java:430)
              fs.iterator.map(f => (g, f, isBg))
            }
          }
        }.toDF("g", "f", "is_bg")
          .groupBy(col("g"), col("f"))
          .agg(sum(when(col("is_bg"), 0L).otherwise(1L)).as("n_fg"),
            sum(when(col("is_bg"), 1L).otherwise(0L)).as("n_bg"))
          .where(col("g") >= 2 || col("n_fg") >= 1 || col("n_bg") >= 2)
          .where(col("n_fg") + col("n_bg") >= math.max(1, cfg.featureCountThreshold))
          .select(col("g"), col("f")).as[(Int, String)]
          .collect().sortBy(t => (t._1, t._2))
      }
    val sorted = cfg.dictionaryFilter match {
      case Some(keep) => sorted0.filter { case (g, s) => keep(g, s) }
      case None => sorted0
    }
    var featureIndex = new java.util.HashMap[String, Integer](sorted.length * 2)
    var featGroup = new Array[Int](sorted.length)
    var featStrings = new Array[String](sorted.length)
    var f = 0
    while (f < sorted.length) {
      featureIndex.put(sorted(f)._2, Integer.valueOf(f))
      featStrings(f) = sorted(f)._2
      featGroup(f) = sorted(f)._1
      f += 1
    }
    val numClasses = classIndex.length
    val w = NerFeatures.WindowSize
    // observed-window layout pieces depend only on labels: compute once,
    // rebuild the layout per prune iteration as featGroup shrinks
    // observed (group, window-encoding) pairs: from the artifact, or scanned
    val observedPairs: Option[Array[(Int, Int)]] =
      if (!cfg.observedSequencesOnly) None
      else loadedMeta.map(_.observed.get).orElse(Some {
        // observed label windows per clique group (CRFClassifier.java:482-489)
        val classOfB = sc.broadcast(classOf)
        docs.flatMap { d =>
          val ids = d.labels.map(classOfB.value).toArray
          (0 until ids.length).iterator.flatMap { pos =>
            (0 until w).iterator.map { g =>
              var enc = 0
              var i = pos - g
              while (i <= pos) { enc = enc * numClasses + (if (i < 0) 0 else ids(i)); i += 1 }
              (g, enc)
            }
          }
        }.distinct().collect()
      })
    val windowCols: Option[(Array[Array[Int]], Array[Int])] = observedPairs.map { observed =>
      val weightCol = Array.tabulate(w) { g =>
        val cols = Array.fill(graft.core.Crf.pow(numClasses, g + 1))(-1)
        observed.filter(_._1 == g).map(_._2).sorted.zipWithIndex
          .foreach { case (enc, k) => cols(enc) = k }
        cols
      }
      (weightCol, weightCol.map(_.count(_ >= 0)))
    }
    def mkLayout(fg: Array[Int]): WeightLayout = windowCols match {
      case None => WeightLayout.fullProduct(numClasses, w, 0, fg)
      case Some((weightCol, numCols)) => new WeightLayout(numClasses, w, 0, fg, weightCol, numCols)
    }

    implicit val encEnc: Encoder[(Array[Array[Array[Int]]], Array[Int])] =
      Encoders.kryo[(Array[Array[Array[Int]]], Array[Int])]
    val nDocs = docs.count()
    val parts = math.max(1, math.min(sc.defaultParallelism, (nDocs / 50 + 1).toInt))
    val lbfgs = new LBFGS[DenseVector[Double]](
      maxIter = cfg.maxIterations, m = cfg.lbfgsMemory, tolerance = cfg.tolerance)
    val sigmaSq = cfg.sigma * cfg.sigma

    // train loop with optional prune-retrain rounds (reference loop shape:
    // CRFClassifier.train, :940-946,1102-1105 — each round re-encodes against
    // the pruned dictionary, trains, and all but the last round prune)
    var layout: WeightLayout = null
    var weights: Array[Array[Double]] = null
    var iter = 0
    while (iter <= cfg.numTimesPruneFeatures) {
      layout = mkLayout(featGroup)
      val bcastDict = sc.broadcast(featureIndex)

      // encode the corpus once per round and cache it (reference:
      // documentsToDataAndLabels, CRFClassifier.java:313-348) — or, with a
      // processed artifact, read the already-featurized parquet instead
      val encoded = loadedMeta match {
        case Some(_) =>
          spark.read.parquet(s"${cfg.processedDataDir.get}/encoded.parquet")
            .as[(Seq[Seq[Seq[Int]]], Seq[Int])]
            .map { case (e, l) => (e.map(_.map(_.toArray).toArray).toArray, l.toArray) }
            .cache()
        case None => docs
          .repartition(parts)
          .map { d =>
            val toks = withGenerics(withUnknowns(withChunks(withLemmas(withTags(preprocess(d.words.toIndexedSeq, bcastKnownLC.value, normTerms, bcastDs.value), d.tags), d.lemmas), d.chunks), d.unknowns), d.generics, genKey)
            val dict = bcastDict.value
            val enc = encodeWith(toks, dict, bcastGaz.value, occPat, bcastDs.value.isDefined, useTg, useTgSeq, useRev, useParen, ngOpts, disjW, miscO)
            (enc, d.labels.map(classOf).toArray)
          }
          .cache()
      }
      val nEncoded = encoded.count() // materialize (== corpus size, incl. the loaded-artifact path)

      // first featurization with processedDataDir set -> persist the artifact.
      // Skipped under prune-retrain: the load path (correctly) rejects
      // pruning configs, so writing here would poison the directory for a
      // rerun of the very config that created it (review finding).
      if (iter == 0 && loadedMeta.isEmpty && cfg.numTimesPruneFeatures == 0)
        for (dir <- cfg.processedDataDir) {
        encoded.map { case (e, l) =>
          (e.map(_.map(_.toSeq).toSeq).toSeq, l.toSeq)
        }.write.mode("overwrite").options(NioLocalFileSystem.WriteOptions)
          .parquet(s"$dir/encoded.parquet")
        saveProcessedMeta(dir, ProcessedMeta(featureFlags(cfg), knownLC, classIndex,
          sorted, observedPairs))
        System.err.println(s"[trainer] processed-data artifact written to $dir (${sorted.length} features)")
      }

      val bLayout = sc.broadcast(layout)
      val n = layout.totalSize
      val diff = new DiffFunction[DenseVector[Double]] {
        def calculate(x: DenseVector[Double]): (Double, DenseVector[Double]) = {
          val bw = sc.broadcast(x.data)
          // locals only: referencing the enclosing DiffFunction's fields from the
          // task closures would pull this (non-serializable) object into the task
          val layoutRef = bLayout
          val partials = encoded.rdd.mapPartitions { it =>
            val lay = layoutRef.value
            val p = lay.params(bw.value) // ragged view built once per partition
            val g = new Array[Double](lay.totalSize)
            var v = 0.0
            it.foreach { case (doc, lab) => v += CrfObjective.docValueGrad(doc, lab, p, lay, g) }
            Iterator.single((v, g))
          }
          val (value, grad) = mergeInOrder(partials) { case ((v1, g1), (v2, g2)) =>
            var i = 0
            while (i < g1.length) { g1(i) += g2(i); i += 1 }
            (v1 + v2, g1)
          }
          bw.destroy()
          val g = if (grad == null) new Array[Double](n) else grad
          // quadratic prior
          var v = value
          var i = 0
          while (i < n) {
            val xi = x.data(i)
            v += xi * xi / (2.0 * sigmaSq)
            g(i) += xi / sigmaSq
            i += 1
          }
          (v, DenseVector(g))
        }
      }

      // minibatch SGD (SGD-family analogue): deterministic per-epoch
      // samples, corpus-scaled gradient + prior, 1/(1+epoch/10) gain decay
      def runSgd(epochs: Int): Array[Double] = {
          val x = new Array[Double](n)
          val total = nEncoded.toDouble
          var epoch = 0
          while (epoch < epochs) {
            val bw = sc.broadcast(x)
            val layoutRef = bLayout
            val batch = encoded.rdd.sample(withReplacement = false,
              cfg.sgdBatchFraction, seed = 0x5bdL + epoch)
            val (gSum, nSeen) = mergeInOrder(batch.mapPartitions { it =>
              val lay = layoutRef.value
              val p = lay.params(bw.value)
              val g = new Array[Double](lay.totalSize)
              var cnt = 0L
              it.foreach { case (doc, lab) =>
                CrfObjective.docValueGrad(doc, lab, p, lay, g); cnt += 1
              }
              Iterator.single((g, cnt))
            })(addCounted)
            bw.destroy()
            val scale = if (nSeen == 0) 0.0 else total / nSeen // unbias the sample
            val gain = cfg.sgdGain / (1.0 + epoch / 10.0) / total
            var i = 0
            while (i < n) {
              x(i) -= gain * (scale * gSum(i) + x(i) / sigmaSq)
              i += 1
            }
            epoch += 1
          }
          x
        }
      // per-example-mean gradient (incl. prior) of one deterministic batch:
      // the same seed per epoch gives the SAME batch across repeated
      // evaluations, which is what the secant pair (ScaledSGD) and the
      // finite-difference Hessian-vector product (SMD) both require
      def batchGradAt(at: Array[Double], epoch: Int): Array[Double] = {
        val bw = sc.broadcast(at)
        val layoutRef = bLayout
        val batch = encoded.rdd.sample(withReplacement = false,
          cfg.sgdBatchFraction, seed = 0x5ca1edL + epoch)
        val (gSum, nSeen) = mergeInOrder(batch.mapPartitions { it =>
          val lay = layoutRef.value
          val p = lay.params(bw.value)
          val g = new Array[Double](lay.totalSize)
          var cnt = 0L
          it.foreach { case (doc, lab) =>
            CrfObjective.docValueGrad(doc, lab, p, lay, g); cnt += 1
          }
          Iterator.single((g, cnt))
        })(addCounted)
        bw.destroy()
        val scale = if (nSeen == 0) 0.0 else 1.0 / nSeen // per-example mean
        Array.tabulate(n)(i => scale * gSum(i) + at(i) / (sigmaSq * nEncoded.toDouble))
      }
      // ScaledSGDMinimizer analogue (optimization/ScaledSGDMinimizer.java:
      // 167-244, method=1): per-coordinate steps scaled by a diagonal
      // quasi-Newton approximation. Each step takes TWO gradient evaluations
      // on the SAME deterministic batch (at x and at newX), forms the secant
      // pair (s, y) including the prior term, and applies the reference's
      // updateDiagBFGS rule verbatim: newDiag_i = (1 - D_i s_i^2 / sDs) D_i
      // + y_i^2 / sy, accepted only when every entry stays positive.
      def runScaledSgd(epochs: Int): Array[Double] = {
        val x = new Array[Double](n)
        val total = nEncoded.toDouble
        val diag = Array.fill(n)(1.0) // reference init: fixedGain/gain
        def gradAt(at: Array[Double], epoch: Int): Array[Double] = {
          val g = batchGradAt(at, epoch)
          Array.tabulate(n)(i => g(i) * total) // full-corpus scale, as before
        }
        var epoch = 0
        while (epoch < epochs) {
          val g1 = gradAt(x, epoch)
          val decay = math.sqrt(50.0 / (50.0 + epoch)) // gainSchedule analogue
          val gain = cfg.sgdGain * decay / total
          val newX = Array.tabulate(n)(i => x(i) - gain / diag(i) * g1(i))
          val g2 = gradAt(newX, epoch)
          val s = Array.tabulate(n)(i => newX(i) - x(i))
          val y = Array.tabulate(n)(i => g2(i) - g1(i))
          var sDs = 0.0; var sy = 0.0
          var i = 0
          while (i < n) { sDs += s(i) * diag(i) * s(i); sy += s(i) * y(i); i += 1 }
          if (sDs > 0 && sy > 0) {
            val newDiag = Array.tabulate(n)(i => (1 - diag(i) * s(i) * s(i) / sDs) * diag(i) + y(i) * y(i) / sy)
            if (newDiag.forall(_ >= 0)) System.arraycopy(newDiag, 0, diag, 0, n)
          }
          System.arraycopy(newX, 0, x, 0, n)
          epoch += 1
        }
        x
      }
      // SMDMinimizer analogue (optimization/SMDMinimizer.java:136-160 with
      // the defaults mu=0.01, lam=1.0, cPosDef=0, gains init = gain): the
      // stochastic meta-descent update. H·v comes from the reference's own
      // default method — EXTERNAL FINITE DIFFERENCE of gradients on the same
      // batch with step h=1e-4 (AbstractStochasticCachingDiffFunction.java:
      // 57-64,439-480): H·v ~ (grad(x + h·v) - grad(x)) / h. Per coordinate:
      //   meta   = 1 - mu * grad_i * v_i ;  gains_i *= max(0.5, meta)
      //   v_i    = lam * v_i - gains_i * (grad_i + lam * Hv_i)
      //   newX_i = x_i - gains_i * grad_i
      def runSmd(epochs: Int): Array[Double] = {
        val mu = 0.01; val lam = 1.0; val h = 1e-4
        val x = new Array[Double](n)
        val gains = Array.fill(n)(cfg.sgdGain)
        val v = new Array[Double](n)
        var epoch = 0
        while (epoch < epochs) {
          val grad = batchGradAt(x, epoch)
          val vNorm = math.sqrt(v.map(d => d * d).sum)
          val hv =
            if (vNorm == 0.0) new Array[Double](n) // first step: v = 0 -> H.v = 0
            else {
              val xp = Array.tabulate(n)(i => x(i) + h * v(i))
              val gp = batchGradAt(xp, epoch)
              Array.tabulate(n)(i => (gp(i) - grad(i)) / h)
            }
          var i = 0
          while (i < n) {
            val meta = 1.0 - mu * grad(i) * v(i)
            gains(i) *= math.max(0.5, meta)
            v(i) = lam * v(i) - gains(i) * (grad(i) + lam * hv(i))
            x(i) -= gains(i) * grad(i)
            i += 1
          }
          epoch += 1
        }
        x
      }
      // -useFloat: the reference's float-objective branch (QN only,
      // CRFClassifier.java:987-1020). Weights live in double for Breeze but
      // are truncated to float for every evaluation, so the optimized
      // function IS the single-precision objective; the trained weights are
      // widened at the end exactly like ArrayMath.floatArrayToDoubleArray.
      val floatDiff = if (!cfg.useFloat) null else new DiffFunction[DenseVector[Double]] {
        def calculate(x: DenseVector[Double]): (Double, DenseVector[Double]) = {
          val xf = new Array[Float](n)
          var i = 0
          while (i < n) { xf(i) = x.data(i).toFloat; i += 1 }
          val bw = sc.broadcast(xf)
          val layoutRef = bLayout
          val partials = encoded.rdd.mapPartitions { it =>
            val lay = layoutRef.value
            val cols = FloatObjective.colWindows(lay)
            val e = new Array[Float](lay.totalSize)
            val ehat = new Array[Float](lay.totalSize)
            val acc = new FloatObjective.FloatAcc
            it.foreach { case (doc, lab) =>
              FloatObjective.ehatDoc(doc, lab, lay, ehat)
              FloatObjective.docContrib(doc, bw.value, lay, cols, lab, e, acc)
            }
            Iterator.single((acc.v, e, ehat))
          }
          val (prob, e, ehat) = mergeInOrder(partials) { case ((p1, e1, h1), (p2, e2, h2)) =>
            var i = 0
            while (i < e1.length) { e1(i) += e2(i); h1(i) += h2(i); i += 1 }
            (p1 + p2, e1, h1)
          }
          bw.destroy()
          val (v, g) = FloatObjective.finish(prob, e, ehat, xf, cfg.sigma.toFloat)
          (v.toDouble, DenseVector(g.map(_.toDouble)))
        }
      }
      if (cfg.useFloat) require(cfg.optimizer == "qn",
        "useFloat is a QN-only branch in the reference (CRFClassifier.java:987)")
      val xStar = cfg.optimizer match {
        case "qn" if cfg.useFloat =>
          // widen like ArrayMath.floatArrayToDoubleArray after minimize
          val sol = lbfgs.minimize(floatDiff, DenseVector.zeros[Double](n))
          DenseVector(sol.data.map(d => d.toFloat.toDouble))
        case "qn" => lbfgs.minimize(diff, DenseVector.zeros[Double](n))
        case "sgd" => DenseVector(runSgd(cfg.sgdEpochs))
        case "scaledsgd" => DenseVector(runScaledSgd(cfg.sgdEpochs))
        case "smd" => DenseVector(runSmd(cfg.sgdEpochs))
        // SGDToQNMinimizer (optimization/SGDToQNMinimizer.java, selected by
        // CRFClassifier.getMinimizer under flags.useSGDtoQN): cheap stochastic
        // passes reach the basin, then quasi-Newton polishes from there —
        // same L-BFGS, non-zero start
        case "sgdtoqn" => lbfgs.minimize(diff, DenseVector(runSgd(cfg.sgdEpochs)))
        case other => throw new IllegalArgumentException(s"unknown optimizer $other")
      }
      encoded.unpersist(blocking = true)
      weights = layout.toRagged(xStar.data)

      if (iter != cfg.numTimesPruneFeatures) {
        // dropFeaturesBelowThreshold (CRFClassifier.java:140-166): keep only
        // features whose weight-row range is strictly above the threshold;
        // surviving features keep their relative order
        val keep = (0 until featStrings.length).filter { i =>
          val row = weights(i)
          var mn = row(0); var mx = row(0)
          var j = 1
          while (j < row.length) { if (row(j) > mx) mx = row(j); if (row(j) < mn) mn = row(j); j += 1 }
          mx - mn > cfg.featureDiffThresh
        }
        System.err.println(s"[trainer] prune round ${iter + 1}: ${featStrings.length} -> ${keep.length} features (thresh ${cfg.featureDiffThresh})")
        val newIndex = new java.util.HashMap[String, Integer](keep.length * 2)
        val newGroup = new Array[Int](keep.length)
        val newStrings = new Array[String](keep.length)
        for ((old, nw) <- keep.zipWithIndex) {
          newIndex.put(featStrings(old), Integer.valueOf(nw))
          newStrings(nw) = featStrings(old)
          newGroup(nw) = featGroup(old)
        }
        featureIndex = newIndex; featGroup = newGroup; featStrings = newStrings
      }
      iter += 1
    }
    docs.unpersist()
    new NerModel(classIndex, 0, featureIndex, layout, weights, knownLC, cfg.gazette,
      cfg.normalizeTerms, cfg.useOccurrencePatterns, cfg.useReverse, cfg.distSim,
      cfg.useTags, cfg.useTaggySequences, cfg.useParenMatching, cfg.ngramOpts,
      cfg.disjunctionWidth, cfg.miscOpts, cfg.genericKey)
  }

  /** Attach per-token POS tags (when the doc has them) to preprocessed toks. */
  def withTags(toks: IndexedSeq[NerFeatures.Tok], tags: Seq[String]): IndexedSeq[NerFeatures.Tok] =
    if (tags.isEmpty) toks
    else {
      require(tags.length == toks.length, s"${toks.length} toks vs ${tags.length} tags")
      toks.indices.map(i => toks(i).copy(tag = tags(i)))
    }

  /** Attach per-token lemmas (5-column CoNLL data,
    * CoNLLDocumentReaderAndWriter.java:223-231) to preprocessed toks. */
  def withLemmas(toks: IndexedSeq[NerFeatures.Tok], lemmas: Seq[String]): IndexedSeq[NerFeatures.Tok] =
    if (lemmas.isEmpty) toks
    else {
      require(lemmas.length == toks.length, s"${toks.length} toks vs ${lemmas.length} lemmas")
      toks.indices.map(i => toks(i).copy(lemma = lemmas(i)))
    }

  /** Attach per-token chunk labels (4/5-column CoNLL data) to preprocessed toks. */
  def withChunks(toks: IndexedSeq[NerFeatures.Tok], chunks: Seq[String]): IndexedSeq[NerFeatures.Tok] =
    if (chunks.isEmpty) toks
    else {
      require(chunks.length == toks.length, s"${toks.length} toks vs ${chunks.length} chunks")
      toks.indices.map(i => toks(i).copy(chunk = chunks(i)))
    }

  /** Attach per-token UnknownAnnotation values ("true"/"false", the
    * true-casing reader's seen-once flags — TrueCasingDocumentReaderAndWriter
    * .java:159) to preprocessed toks. */
  def withUnknowns(toks: IndexedSeq[NerFeatures.Tok], unknowns: Seq[String]): IndexedSeq[NerFeatures.Tok] =
    if (unknowns.isEmpty) toks
    else {
      require(unknowns.length == toks.length, s"${toks.length} toks vs ${unknowns.length} unknowns")
      toks.indices.map(i => toks(i).copy(unknown = unknowns(i)))
    }

  /** Attach per-token generic-column values as pre-joined "<value>-<key>"
    * strings (NERFeatureFactory.java:1466-1476; single effective key per the
    * CoreLabel collapse quirk, RefMapKeys). */
  def withGenerics(toks: IndexedSeq[NerFeatures.Tok], generics: Seq[String],
      key: String): IndexedSeq[NerFeatures.Tok] =
    if (generics.isEmpty || key == null) toks
    else {
      require(generics.length == toks.length, s"${toks.length} toks vs ${generics.length} generics")
      toks.indices.map(i => toks(i).copy(generic = generics(i) + "-" + key))
    }

  /** Shared preprocessing: shape from the original word (frozen knownLC), then
    * the word fix — identical to NerModel.preprocess but usable pre-model.
    */
  def preprocess(words: IndexedSeq[String], knownLC: Set[String],
      normalizeTerms: Boolean = false,
      distSim: Option[graft.ner.DistSim] = None): IndexedSeq[NerFeatures.Tok] =
    words.map { w =>
      val fixed = fixWord(w, normalizeTerms)
      NerFeatures.Tok(fixed, WordShape.dan2(w, knownLC.contains),
        distSim.map(_.clusterOf(fixed)).orNull)
    }

  @inline private def fixWord(w: String, normalizeTerms: Boolean): String =
    if (normalizeTerms) graft.text.Americanize.fixWordNormalizeTerms(w)
    else WordShape.fixWord(w)

  def encodeWith(toks: IndexedSeq[NerFeatures.Tok], dict: java.util.HashMap[String, Integer],
      gaz: Gazette = Gazette.empty, occPatterns: Boolean = false,
      useDistSim: Boolean = false, useTags: Boolean = false,
      useTaggySeq: Boolean = false, reverse: Boolean = false,
      parenMatching: Boolean = false,
      ngram: NerFeatures.NgramOpts = NerFeatures.NgramOpts.default,
      disjWidth: Int = 4,
      misc: NerFeatures.MiscOpts = NerFeatures.MiscOpts.default): Crf.EncodedDoc = {
    val out = new Array[Array[Array[Int]]](toks.length)
    var pos = 0
    while (pos < toks.length) {
      out(pos) = NerFeatures.featuresAt(toks, pos, gaz, occPatterns, useDistSim,
        useTags, useTaggySeq, reverse, parenMatching, ngram, disjWidth, misc).map { feats =>
        val b = new scala.collection.mutable.ArrayBuilder.ofInt
        var k = 0
        while (k < feats.length) {
          val id = dict.get(feats(k))
          if (id != null) b += id.intValue
          k += 1
        }
        b.result()
      }
      pos += 1
    }
    out
  }
}
