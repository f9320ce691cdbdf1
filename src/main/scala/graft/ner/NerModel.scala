package graft.ner

import graft.core.Crf
import graft.train.WeightLayout
import java.io.{BufferedReader, BufferedWriter, InputStreamReader, OutputStreamWriter}
import java.nio.file.{Files, Paths}
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

/** A trained NER model bundle: label dictionary, feature dictionary, clique
  * layout, weights, and corpus-derived known-lowercase words.
  * (Reference bundle contents: CRFClassifier serialization order,
  * /root/reference/src/edu/stanford/nlp/ie/crf/CRFClassifier.java:1548-1560.)
  *
  * Broadcast once per Spark job; all lookups inside partition-local closures.
  */
final class NerModel(
    val classIndex: Array[String], // classIndex(backgroundIndex) = "O"
    val backgroundIndex: Int,
    val featureIndex: java.util.HashMap[String, Integer],
    val layout: WeightLayout,
    val weights: Array[Array[Double]],
    val knownLC: Set[String],
    val features: NerFeatures.Spec = NerFeatures.Spec.default
) extends Serializable {

  /** Whether documents are tagged reversed (`NerFeatures.Spec.useReverse`);
    * every tag entry point reads it once per document.
    */
  val useReverse: Boolean = features.useReverse

  @transient lazy val params: Crf.Params =
    new Crf.Params(classIndex.length, layout.windowSize, backgroundIndex, layout.weightCol, weights)

  val classOf: Map[String, Int] = classIndex.zipWithIndex.toMap

  /** Chooses `encodeFast`'s path once per model (see `NerFeatures.Spec.hashes`). */
  val hashesFeatures: Boolean = features.hashes

  /** FNV-hash → feature-id table for the allocation-free inference path.
    * Built once per executor (lazy transient) from the string dictionary.
    */
  @transient lazy val hashIndex: NerFeaturesFast.LongIntHash = {
    val t = new NerFeaturesFast.LongIntHash(featureIndex.size)
    featureIndex.forEach((k, v) => t.put(NerFeaturesFast.fnv(k), v.intValue))
    // Fail fast on a 64-bit FNV collision between two dictionary strings:
    // a silent overwrite would activate the wrong weight row with no error
    // signal. P(collision) ~ n^2/2^65 (~3e-9 at n=10^6) but grows
    // quadratically with the feature count; detection is free here.
    // (Query-side collisions of UNSEEN features against dictionary entries
    // remain probabilistic at n/2^64 per feature — documented tradeoff of
    // the hashing fast path; the string `encode` path has no such risk.)
    require(t.size == featureIndex.size,
      s"FNV-64 collision among ${featureIndex.size} feature-dictionary keys " +
        s"(got ${t.size} distinct hashes); use the string encode path for this model")
    t
  }

  /** Each word's single-token feature hashes and their ids in THIS model's
    * dictionary (n-grams, WORD, PW, NW, TYPE, ...; see NerFeaturesFast),
    * computed once per distinct word, and the word → preprocessed token cache
    * whose tokens key them (shape strings are pure functions of the word
    * under a frozen knownLCWords set, so they are vocabulary-cacheable — the
    * reference memoizes ngrams the same way, NERFeatureFactory.java:1198-1200).
    * Both empty together rather than pass `NerFeaturesFast.UnaryMemo.MaxBytes`
    * of heap.
    */
  @transient lazy val unaryMemo = new NerFeaturesFast.UnaryMemo(hashIndex)
  @transient private lazy val scratch = new ThreadLocal[NerFeaturesFast.Scratch] {
    override def initialValue(): NerFeaturesFast.Scratch = new NerFeaturesFast.Scratch
  }

  @transient private lazy val mkTok: String => NerFeatures.Tok = features.tok(_, knownLC)

  private def tok(w: String): NerFeatures.Tok = unaryMemo.tok(w, mkTok)

  /** Encode raw words, the encoder of every raw-word entry point: feature
    * hashing with no string materialization under the preset
    * (`hashesFeatures`), else `encode(preprocess(words))`. The two agree
    * id for id (FeatureParitySpec).
    */
  def encodeFast(words: IndexedSeq[String]): Crf.EncodedDoc = {
    if (!hashesFeatures) return encode(preprocess(words))
    val toks = words.map(tok)
    val memo = unaryMemo
    val un = memo.row(toks)
    val s = scratch.get()
    val out = new Array[Array[Array[Int]]](toks.length)
    var pos = 0
    while (pos < out.length) {
      out(pos) = NerFeaturesFast.idsAt(toks, un, pos, memo, s)
      pos += 1
    }
    out
  }

  /** Viterbi labels of an encoded (possibly reversed) document, in word order. */
  private def decode(enc: Crf.EncodedDoc): Array[String] = {
    val out = Crf.viterbi(Crf.logPotentials(enc, params), params).map(classIndex)
    if (useReverse) out.reverse else out
  }

  /** Preprocess raw token words (`NerFeatures.Spec.tok`). */
  def preprocess(words: IndexedSeq[String]): IndexedSeq[NerFeatures.Tok] = features.preprocess(words, knownLC)

  /** Encode a preprocessed document against this model's dictionary
    * (`NerFeatures.Spec.encode`).
    */
  def encode(toks: IndexedSeq[NerFeatures.Tok]): Crf.EncodedDoc = features.encode(toks, featureIndex)

  /** Encode raw words in the reference's data-array order (`refOrder` of
    * `NerFeatures.Spec.encode`), for a bit-exact training-objective mirror.
    */
  def encodeRefOrder(words: IndexedSeq[String]): Crf.EncodedDoc =
    features.encode(preprocess(words), featureIndex, refOrder = true)

  /** Viterbi-tag a POS-tagged document (column data `word=0,tag=1,answer=2`,
    * ColumnDocumentReaderAndWriter semantics): tags feed the useTags /
    * useTaggySequences templates. The extra columns are read only by
    * optional families, so this entry point encodes through the string path.
    */
  def tag(words: IndexedSeq[String], tags: IndexedSeq[String],
      lemmas: IndexedSeq[String] = IndexedSeq.empty,
      chunks: IndexedSeq[String] = IndexedSeq.empty,
      unknowns: IndexedSeq[String] = IndexedSeq.empty,
      generics: IndexedSeq[String] = IndexedSeq.empty): Array[String] = {
    require(words.length == tags.length, s"${words.length} words vs ${tags.length} tags")
    require(generics.isEmpty || features.genericKey.isDefined,
      s"${words.length} words vs ${generics.length} generics (genericKey=${features.genericKey})")
    def in(c: IndexedSeq[String]) = if (useReverse) c.reverse else c
    val toks = features.attach(preprocess(in(words)), in(tags), in(lemmas), in(chunks), in(unknowns), in(generics))
    if (toks.isEmpty) Array.empty else decode(encode(toks))
  }

  /** Viterbi-tag one document of raw words; returns a label per token. */
  def tag(words: IndexedSeq[String]): Array[String] = {
    if (words.isEmpty) return Array.empty
    decode(encodeFast(if (useReverse) words.reverse else words))
  }

  /** Tag an over-long document after the reference's maxDocSize split
    * (default 10000; ObjectBankWrapper.fixDocLengths applies it at test time).
    * Pieces decode independently and their labels concatenate — feature
    * windows reset at the (sentence-boundary-preferring) cut, exactly like
    * the reference's split-into-multiple-documents behavior.
    */
  def tagLongDoc(words: IndexedSeq[String], maxDocSize: Int = 10000): Array[String] = {
    if (maxDocSize <= 0 || words.length <= maxDocSize) return tag(words)
    NerModel.fixDocLengths(words, maxDocSize).iterator.flatMap(tag(_)).toArray
  }

  def numFeatures: Int = featureIndex.size

  /** Calibrated marginal/conditional query surface for one document — the
    * reference's CRFCliqueTree queries (prob / logProb at one or more
    * positions, condLogProbGivenPrevious/Next; CRFCliqueTree.java:185-448).
    * Label indices follow `classIndex`/`classOf`.
    */
  def cliqueTree(words: IndexedSeq[String]): Crf.Marginals = {
    require(!useReverse, "cliqueTree positions are undefined under useReverse")
    new Crf.Marginals(
      Crf.forwardBackward(Crf.logPotentials(encodeFast(words), params), params), params)
  }

  /** Reference-faithful clique tree: reproduces what `-printProbs` /
    * `-printFirstOrderProbs` print, INCLUDING the phantom-pad-mass quirk
    * (global labelIndices give the pad positions finite non-background
    * entries; see Crf.RefCliqueTree). `cliqueTree` is the exact surface —
    * use this one only for parity with the reference's printed marginals.
    */
  def cliqueTreeRef(words: IndexedSeq[String]): Crf.RefCliqueTree.Tables = {
    require(!useReverse, "cliqueTree positions are undefined under useReverse")
    Crf.RefCliqueTree.calibrate(Crf.logPotentials(encodeFast(words), params), params)
  }

  /** Annealed-Gibbs decode with an optional document-consistency prior (the
    * doGibbs path: Viterbi init, linear cooling from T=1.0 —
    * CRFClassifier.java:720-794; prior = Gibbs.ConsistencyPrior, our analogue
    * of the reference's entity priors). With penalty 0 this anneals the plain
    * CRF and converges to the Viterbi answer; a positive penalty trades
    * per-position likelihood for same-word label consistency across the doc.
    *
    * `referenceConditionals = true` samples from the reference's ACTUAL
    * per-position distribution (Gibbs.RefCliqueScorer — the calibrated
    * marginal composition classifyGibbs uses, which over-weights each label
    * by its own window marginal; see the scorer's doc). The default samples
    * the exact conditional (Gibbs.CrfScorer, enumeration-pinned) — our
    * documented improvement, analogous to the exact k-best finder.
    */
  def tagGibbs(words: IndexedSeq[String], consistencyPenalty: Double = 0.0,
      sweeps: Int = 100, seed: Long = 0x91bb5L, useNerPrior: Boolean = false,
      referenceConditionals: Boolean = false): Array[String] = {
    if (words.isEmpty) return Array.empty
    val in = if (useReverse) words.reverse else words
    val pots = Crf.logPotentials(encodeFast(in), params)
    val crf: graft.core.Gibbs.SequenceScorer =
      if (referenceConditionals) new graft.core.Gibbs.RefCliqueScorer(pots, params)
      else new graft.core.Gibbs.CrfScorer(pots, params)
    // -useNERPrior: the reference's empirical entity-pair penalty matrices
    // (EmpiricalNERPrior.java), factored next to the CRF exactly like the
    // consistency prior
    // priors see the WRAPPER-FIXED words, like the reference's doc at prior
    // time (ObjectBankWrapper runs before the prior is built; under
    // normalizeTerms that includes Americanize — review finding: raw words
    // here made occurrence matching diverge for normalizeTerms models)
    lazy val fixedIn = in.map(features.fix)
    val priors = Seq.newBuilder[graft.core.Gibbs.SequenceScorer]
    if (consistencyPenalty > 0)
      priors += new graft.core.Gibbs.ConsistencyPrior(
        fixedIn, classIndex.length, consistencyPenalty)
    if (useNerPrior)
      priors += new graft.core.NerPriors.EmpiricalNerPrior(
        fixedIn, classIndex.toIndexedSeq, classIndex(backgroundIndex))
    val ps = priors.result()
    val scorer: graft.core.Gibbs.SequenceScorer =
      if (ps.isEmpty) crf else new graft.core.Gibbs.FactoredScorer(crf +: ps)
    val init = Crf.viterbi(pots, params)
    val out = graft.core.Gibbs.findBestUsingAnnealing(
      scorer, graft.core.Gibbs.linearCooling(1.0, sweeps), init, seed).map(classIndex)
    if (useReverse) out.reverse else out
  }

  /** K-best label sequences with joint scores (KBestSequenceFinder surface). */
  def tagKBest(words: IndexedSeq[String], k: Int): Seq[(Seq[String], Double)] = {
    if (words.isEmpty) return Seq((Seq.empty, 0.0))
    val in = if (useReverse) words.reverse else words
    val pots = Crf.logPotentials(encodeFast(in), params)
    Crf.kBestViterbi(pots, params, k).map { case (ls, sc) =>
      val seq = ls.toSeq.map(classIndex)
      (if (useReverse) seq.reverse else seq, sc)
    }
  }

  /** Viterbi label + posterior marginal P(y_i = label | x) per token
    * (reference semantic: CRFCliqueTree marginal queries, CRFCliqueTree.java:194-259,
    * the printProbs debug surface). Marginal of a label = sum of calibrated
    * full-window posteriors whose newest slot is that label.
    */
  def tagWithConfidence(words0: IndexedSeq[String]): Array[(String, Double)] = {
    if (words0.isEmpty) return Array.empty
    val words = if (useReverse) words0.reverse else words0
    val enc = encodeFast(words)
    val p = params
    val pots = Crf.logPotentials(enc, p)
    val best = Crf.viterbi(pots, p)
    val cal = Crf.forwardBackward(pots, p)
    val C = p.numClasses
    val out = Array.tabulate(words.length) { pos =>
      val lm = cal.logMarginals(pos)
      var prob = 0.0
      var e = best(pos) // windows with newest slot == best(pos): enc % C == label
      while (e < p.fullSize) {
        val v = lm(e)
        if (v != Double.NegativeInfinity) prob += math.exp(v)
        e += C
      }
      (classIndex(best(pos)), prob)
    }
    if (useReverse) out.reverse else out
  }
}

object NerModel {

  /** The reference's maxDocSize split (ObjectBankWrapper.fixDocLengths,
    * /root/reference/src/edu/stanford/nlp/sequences/ObjectBankWrapper.java:
    * 167-202): while the document exceeds `maxSize`, cut BEFORE index
    * `maxSize`, preferring the position just after the latest '.' token found
    * scanning j = maxSize down to maxSize/2 + 1 (the hard-coded
    * English-specific sentence boundary); with no '.' in that window, cut at
    * exactly `maxSize`. The final remainder is kept if non-empty. Piece order
    * is document order (the reference builds them in order and re-inserts
    * reversed-then-unreversed — net identity).
    */
  def fixDocLengths(words: IndexedSeq[String], maxSize: Int): Seq[IndexedSeq[String]] = {
    if (maxSize <= 0) return Seq(words)
    val out = Seq.newBuilder[IndexedSeq[String]]
    var doc = words
    while (doc.length > maxSize) {
      var splitIndex = 0
      var j = maxSize
      while (splitIndex == 0 && j > maxSize / 2) {
        if (doc(j) == ".") splitIndex = j + 1
        j -= 1
      }
      if (splitIndex == 0) splitIndex = maxSize
      out += doc.take(splitIndex)
      doc = doc.drop(splitIndex)
    }
    if (doc.nonEmpty) out += doc
    out.result()
  }

  /** Gzip text serialization (our v1 format; the reference-text-format bridge
    * loader mirrors CRFClassifier.loadTextClassifier and lands in a later
    * milestone). One section per line-group, tab-separated.
    */
  def save(m: NerModel, path: String): Unit = {
    val p = Paths.get(path)
    if (p.getParent != null) Files.createDirectories(p.getParent)
    val w = new BufferedWriter(new OutputStreamWriter(
      new GZIPOutputStream(Files.newOutputStream(p)), "UTF-8"))
    try {
      w.write(s"graft-ner-v2\t${m.classIndex.length}\t${m.layout.windowSize}\t${m.backgroundIndex}\n")
      w.write(m.classIndex.mkString("\t")); w.write("\n")
      // label-window indices per clique group (observed-sequences-only support):
      // for each group, the window encodings in column order
      for (g <- 0 until m.layout.windowSize) {
        val cols = m.layout.weightCol(g)
        val encsByCol = cols.zipWithIndex.filter(_._1 >= 0).sortBy(_._1).map(_._2)
        w.write(encsByCol.mkString(" ")); w.write("\n")
      }
      // feature index sorted by id; group + weight row inline
      val inv = new Array[String](m.featureIndex.size)
      m.featureIndex.forEach((k, v) => inv(v.intValue) = k)
      w.write(s"${inv.length}\n")
      var f = 0
      while (f < inv.length) {
        w.write(inv(f)); w.write("\t")
        w.write(m.layout.featGroup(f).toString); w.write("\t")
        w.write(m.weights(f).mkString(" ")); w.write("\n")
        f += 1
      }
      w.write(s"${m.knownLC.size}\n")
      m.knownLC.toSeq.sorted.foreach { s => w.write(s); w.write("\n") }
      // v3 trailers (all optional; absent = defaults — v2 files stay loadable)
      val spec = m.features
      if (spec.normalizeTerms) w.write("opt\tnormalizeTerms\ttrue\n")
      if (spec.useOccurrencePatterns) w.write("opt\tuseOccurrencePatterns\ttrue\n")
      if (spec.useReverse) w.write("opt\tuseReverse\ttrue\n")
      if (spec.useTags) w.write("opt\tuseTags\ttrue\n")
      if (spec.useParenMatching) w.write("opt\tuseParenMatching\ttrue\n")
      if (spec.useTaggySequences) w.write("opt\tuseTaggySequences\ttrue\n")
      if (spec.ngramOpts != NerFeatures.NgramOpts.default) {
        val ng = spec.ngramOpts
        w.write(s"ngram\t${ng.maxLen}\t${ng.noMid}\t${ng.lowercase}\t${ng.dehyphenate}\t${ng.greekify}\t${ng.conjoinShapes}\n")
      }
      if (spec.disjunctionWidth != 4) w.write(s"opt\tdisjunctionWidth\t${spec.disjunctionWidth}\n")
      spec.genericKey.foreach(k => w.write(s"opt\tgenericKey\t$k\n"))
      if (spec.miscOpts != NerFeatures.MiscOpts.default) {
        val mo = spec.miscOpts
        w.write(s"misc\t${mo.useTitle}\t${mo.usePosition}\t${mo.useBeginSent}\t${mo.useSymWordPairs}\t${mo.useFirstWord}\t${mo.useOrdinal}\t${mo.useMoreTags}\t${mo.useEitherSideWord}\t${mo.useWordTag}\t${mo.useEitherSideDisjunctive}\t${mo.useExtraTaggySequences}\t${mo.useTypeSeqs3}\t${mo.useTaggySequencesShapeInteraction}\t${mo.useSymTags}\t${mo.usePrevVB}\t${mo.useNextVB}\t${mo.useVB}\t${mo.useShapeConjunctions}\t${mo.useNextSequences}\t${mo.useWideDisjunctive}\t${mo.wideDisjunctionWidth}\t${mo.useDisjShape}\t${mo.useDisjunctiveShapeInteraction}\t${mo.useLemmas}\t${mo.usePrevNextLemmas}\t${mo.useChunks}\t${mo.useChunkySequences}\t${mo.useUnknown}\t${mo.useAbbr}\t${mo.useMinimalAbbr}\t${mo.useABGENE}\t${mo.useABSTR}\t${mo.useABSTRFreq}\t${mo.useABSTRFreqDict}\t${mo.useGENIA}\t${mo.useWEB}\t${mo.useWEBFreqDict}\t${mo.useIsURL}\t${mo.useEntityRule}\t${mo.useEntityTypes}\t${mo.useIsDateRange}\t${mo.useFREQ}\t${mo.useEntityTypeSequences}\t${mo.useURLSequences}\t${mo.useMUCFeatures}\t${mo.useClassFeature}\t${mo.useMoreAbbr}\t${mo.useGenericFeatures}\t${mo.useNPHead}\t${mo.useNPGovernor}\t${mo.useHeadGov}\n")
      }
      spec.distSim.foreach { ds =>
        w.write(s"distsim\t${ds.lexicon.size}\n")
        ds.lexicon.toSeq.sorted.foreach { case (k, v) => w.write(s"$k\t$v\n") }
      }
      if (!spec.gazette.isEmpty) Gazette.writeTrailer(spec.gazette, w)
    } finally w.close()
  }

  def load(path: String): NerModel = {
    val r = new BufferedReader(new InputStreamReader(
      new GZIPInputStream(Files.newInputStream(Paths.get(path))), "UTF-8"))
    try {
      val header = r.readLine().split("\t")
      require(header(0) == "graft-ner-v2", s"bad model header: ${header(0)}")
      val numClasses = header(1).toInt
      val windowSize = header(2).toInt
      val backgroundIndex = header(3).toInt
      val classIndex = r.readLine().split("\t")
      require(classIndex.length == numClasses)
      val encsByGroup = Array.fill(windowSize) {
        val line = r.readLine().trim
        if (line.isEmpty) Array.emptyIntArray else line.split(" ").map(_.toInt)
      }
      val nFeat = r.readLine().toInt
      val featureIndex = new java.util.HashMap[String, Integer](nFeat * 2)
      val featGroup = new Array[Int](nFeat)
      val weights = new Array[Array[Double]](nFeat)
      var f = 0
      while (f < nFeat) {
        val line = r.readLine()
        val t1 = line.lastIndexOf('\t')
        val t0 = line.lastIndexOf('\t', t1 - 1)
        featureIndex.put(line.substring(0, t0), Integer.valueOf(f))
        featGroup(f) = line.substring(t0 + 1, t1).toInt
        weights(f) = line.substring(t1 + 1).split(" ").map(_.toDouble)
        f += 1
      }
      val nLC = r.readLine().toInt
      val knownLC = (0 until nLC).map(_ => r.readLine()).toSet
      var spec = NerFeatures.Spec.default
      var line = r.readLine()
      while (line != null) {
        spec =
          if (line.startsWith("gazette\t")) spec.copy(gazette = Gazette.readTrailer(line, r))
          else if (line == "opt\tnormalizeTerms\ttrue") spec.copy(normalizeTerms = true)
          else if (line == "opt\tuseOccurrencePatterns\ttrue") spec.copy(useOccurrencePatterns = true)
          else if (line == "opt\tuseReverse\ttrue") spec.copy(useReverse = true)
          else if (line == "opt\tuseTags\ttrue") spec.copy(useTags = true)
          else if (line == "opt\tuseTaggySequences\ttrue") spec.copy(useTaggySequences = true)
          else if (line == "opt\tuseParenMatching\ttrue") spec.copy(useParenMatching = true)
          else if (line.startsWith("opt\tdisjunctionWidth\t"))
            spec.copy(disjunctionWidth = line.split("\t")(2).toInt)
          else if (line.startsWith("opt\tgenericKey\t"))
            spec.copy(genericKey = Some(line.split("\t")(2)))
          else if (line.startsWith("misc\t")) {
            val p = line.split("\t")
            def b(i: Int) = p.length > i && p(i).toBoolean
            spec.copy(miscOpts = NerFeatures.MiscOpts(b(1), b(2), b(3), b(4), b(5), b(6), b(7), b(8), b(9), b(10),
              b(11), b(12), b(13), b(14), b(15), b(16), b(17), b(18), b(19),
              b(20), if (p.length > 21) p(21).toInt else 10, b(22), b(23), b(24), b(25), b(26), b(27), b(28), b(29),
              b(30), b(31), b(32), b(33), b(34), b(35), b(36), b(37), b(38), b(39),
              b(40), b(41), b(42), b(43), b(44), b(45), b(46), b(47), b(48),
              b(49), b(50), b(51)))
          }
          else if (line.startsWith("ngram\t")) {
            val p = line.split("\t")
            spec.copy(ngramOpts = NerFeatures.NgramOpts(p(1).toInt, p(2).toBoolean, p(3).toBoolean, p(4).toBoolean,
              if (p.length > 5) p(5).toBoolean else false,
              if (p.length > 6) p(6).toBoolean else false))
          }
          else if (line.startsWith("distsim\t")) {
            val n = line.split("\t")(1).toInt
            spec.copy(distSim = Some(new DistSim((0 until n).map { _ =>
              val l = r.readLine(); val t = l.indexOf('\t')
              l.substring(0, t) -> l.substring(t + 1)
            }.toMap)))
          }
          else throw new IllegalArgumentException(s"unexpected model trailer: $line")
        line = r.readLine()
      }
      val layout = WeightLayout.observed(numClasses, windowSize, backgroundIndex, featGroup, encsByGroup)
      new NerModel(classIndex, backgroundIndex, featureIndex, layout, weights, knownLC, spec)
    } finally r.close()
  }
}
