package graft.ner

import graft.train.WeightLayout
import java.io.{BufferedReader, InputStreamReader}
import java.nio.file.{Files, Paths}
import java.util.zip.GZIPInputStream

/** Loader for the reference's gzip TEXT model format — "the parity bridge"
  * (SURVEY.md §2.1): a classifier trained by the reference
  * (`-serializeToText`, CRFClassifier.serializeTextClassifier,
  * /root/reference/src/edu/stanford/nlp/ie/crf/CRFClassifier.java:1480-1536)
  * loads directly into our engine, so reference-trained weights drive OUR
  * feature extraction + Viterbi. Tag agreement with the reference's own
  * output then proves the feature templates are byte-exact (a wrong template
  * string hashes to a missing dictionary entry and changes scores).
  *
  * Sections: labelIndices (per clique group, label windows oldest→newest as
  * classIndex ids), classIndex, featureIndex, <flags> (PARSED + VALIDATED —
  * see RefTextFlags), <featureFactory>, <windowSize>, weights (one row per
  * feature, column k = labelIndices[group(f)][k]).
  *
  * The `<flags>` block is the training run's property list replayed verbatim:
  * `serializeTextClassifier` writes `flags.toString()` = `stringRep`, which
  * `setProperties` builds IN THE ORDER it consumes the properties
  * (SeqClassifierFlags.java:592-601,1607-1609) — so replaying the lines in
  * file order through RefTextFlags reproduces the reference's effective
  * configuration exactly, including the preset-overwrite order quirks. The
  * loader used to skip this block (trusting the caller to know the preset);
  * a text model trained with value-changing flags (wordShape, maxLeft,
  * n-gram options…) would then silently mis-featurize. Now it validates like
  * the binary loader and flows the supported options into the model.
  *
  * knownLCWords is NOT part of the text format (only the binary one); the
  * caller supplies it — the reference's effective set at tagging time is
  * lowercase-initial words of train ∪ test corpora (ObjectBankWrapper's
  * pre-pass, ObjectBankWrapper.java:46-68).
  */
object RefTextModel {

  def load(path: String, knownLC: Set[String], gazette: Gazette = Gazette.empty): NerModel = {
    val r = new BufferedReader(new InputStreamReader(
      new GZIPInputStream(Files.newInputStream(Paths.get(path))), "UTF-8"))
    try {
      def intAfterTab(line: String): Int = line.split("\t")(1).trim.toInt
      val numGroups = intAfterTab(r.readLine()) // labelIndices.length
      val labelWindows = Array.tabulate(numGroups) { g =>
        val size = intAfterTab(r.readLine())
        Array.tabulate(size) { _ =>
          val parts = r.readLine().split("\t")
          parts(1).trim.split(" ").map(_.toInt) // oldest -> newest
        }
      }
      val numClasses = intAfterTab(r.readLine())
      val classIndex = Array.tabulate(numClasses) { _ =>
        val l = r.readLine(); l.substring(l.indexOf('\t') + 1)
      }
      val numFeatures = intAfterTab(r.readLine())
      val featureIndex = new java.util.HashMap[String, Integer](numFeatures * 2)
      val featStrings = new Array[String](numFeatures)
      var f = 0
      while (f < numFeatures) {
        val l = r.readLine()
        featStrings(f) = l.substring(l.indexOf('\t') + 1)
        featureIndex.put(featStrings(f), Integer.valueOf(f))
        f += 1
      }
      // <flags> block: key=value lines in application order (see object doc);
      // the reference parses with split("=") and Properties.setProperty
      // (CRFClassifier.java:1401-1412)
      var line = r.readLine()
      require(line == "<flags>", s"expected <flags>, got '$line'")
      val props = Vector.newBuilder[(String, String)]
      line = r.readLine()
      while (line != null && line != "</flags>") {
        val eq = line.indexOf('=')
        require(eq > 0, s"malformed flags line '$line'")
        props += ((line.substring(0, eq), line.substring(eq + 1)))
        line = r.readLine()
      }
      val fl = RefTextFlags.interpret(props.result())
      RefTextFlags.validate(fl, gazette)
      // <featureFactory> name </featureFactory>
      line = r.readLine()
      require(line != null && line.startsWith("<featureFactory>"), s"expected <featureFactory>, got '$line'")
      require(line.contains("edu.stanford.nlp.ie.NERFeatureFactory"),
        s"unsupported feature factory in '$line' (only NERFeatureFactory templates are implemented)")
      line = r.readLine()
      val windowSize = line.replace("<windowSize>", "").replace("</windowSize>", "").trim.toInt
      require(windowSize == numGroups, s"windowSize $windowSize != labelIndices groups $numGroups")
      require(fl.maxLeft == windowSize - 1,
        s"maxLeft ${fl.maxLeft} inconsistent with windowSize $windowSize")
      val wCount = intAfterTab(r.readLine())
      require(wCount == numFeatures, s"weights rows $wCount != features $numFeatures")
      val weights = new Array[Array[Double]](numFeatures)
      f = 0
      while (f < numFeatures) {
        val l = r.readLine()
        weights(f) = l.substring(l.indexOf('\t') + 1).split(" ").map(_.toDouble)
        f += 1
      }
      RefModelAssembly.build(labelWindows, classIndex, featStrings, windowSize, weights,
        knownLC, NerFeatures.Spec(gazette, fl.normalizeTerms, fl.useOccurrencePatterns, fl.useReverse,
          distSim = None, fl.useTags, fl.useTaggySequences, fl.useParenMatching,
          fl.ngramOpts, fl.disjunctionWidth, fl.miscOpts, fl.genericKey))
    } finally r.close()
  }
}

/** The reference's column-map key classification (AnnotationLookup.getCoreKey,
  * AnnotationLookup.java:133-140): a map key matching a KeyLookup oldKey
  * (case-sensitive) binds a core annotation; ANY other key becomes a generic
  * annotation (CoreLabel.initFromStrings:124-136). Every generic key
  * instantiates the SAME anonymous class there, so all generic columns
  * collapse onto ONE annotation — per token the LAST generic column's value
  * wins, and the class's registered display name is the LAST generic key —
  * hence `effectiveGenericKey` returns exactly one key (the generic key with
  * the highest column index; initFromStrings iterates columns ascending).
  */
private[ner] object RefMapKeys {
  // KeyLookup oldKey values, AnnotationLookup.java:52-94 +
  // OldFeatureLabelKeys:170-213
  private val core = Set(
    "value", "tag", "word", "lemma", "cat", "pcat", "hw", "ht", "idx", "arg",
    "mark", "shw", "shp", "vs", "cft", "ner", "coref", "shape",
    "LEFT_TERM", "PARENT", "SPAN", "before", "after", "current", "answer",
    "goldAnswer", "features", "interpretation", "srl", "gazetteer", "stem",
    "polarity", "char", "orig_seg", "seg", "BEGIN_POS", "END_POS",
    "docID", "sentIndex", "idf", "endPosition", "chunk", "normalized")

  /** Parse a `map` flag value (StringUtils.mapStringToArray: `k=i` pairs split
    * on [,;], array indexed by column) and return the single EFFECTIVE
    * generic key per the collapse quirk above, or None when every key is core.
    */
  def effectiveGenericKey(map: String): Option[String] = {
    val byCol = map.split("[,;]").map { kv =>
      val eq = kv.lastIndexOf('=')
      (kv.substring(eq + 1).trim.toInt, kv.substring(0, eq).trim)
    }.sortBy(_._1).map(_._2)
    byCol.filterNot(core.contains).lastOption
  }
}

/** Shared assembly of a reference model bundle (text OR binary serialization)
  * into our NerModel: clique group from the feature suffix, observed-only
  * label-window columns, weight layout.
  */
private[ner] object RefModelAssembly {

  def build(
      labelWindows: Array[Array[Array[Int]]],
      classIndex: Array[String],
      featStrings: Array[String],
      windowSize: Int,
      weights: Array[Array[Double]],
      knownLC: Set[String],
      features: NerFeatures.Spec = NerFeatures.Spec.default): NerModel = {
    val numGroups = labelWindows.length
    val numClasses = classIndex.length
    require(windowSize == numGroups, s"windowSize $windowSize != labelIndices groups $numGroups")
    require(weights.length == featStrings.length,
      s"weights rows ${weights.length} != features ${featStrings.length}")
    val featureIndex = new java.util.HashMap[String, Integer](featStrings.length * 2)
    featStrings.zipWithIndex.foreach { case (s, i) => featureIndex.put(s, Integer.valueOf(i)) }
    // clique group from the feature suffix after the last '|'
    val groupOfSuffix = Map("C" -> 0, "CpC" -> 1, "CnC" -> 1,
      "Cp2C" -> 2, "CpCp2C" -> 2, "CpCnC" -> 2,
      "Cp3C" -> 3, "CpCp2Cp3C" -> 3, "Cp4C" -> 4, "CpCp2Cp3Cp4C" -> 4, "Cp5C" -> 5)
    val featGroup = featStrings.map { s =>
      val sfx = s.substring(s.lastIndexOf('|') + 1)
      groupOfSuffix.getOrElse(sfx, throw new IllegalArgumentException(s"unknown clique suffix in '$s'"))
    }
    // weightCol(g): mixed-radix window encoding -> column (observed-only
    // windows get columns; the rest stay -1 = forbidden, matching the
    // reference's NEGATIVE_INFINITY-filled FactorTable, FactorTable.java:28)
    val weightCol = Array.tabulate(numGroups) { g =>
      val cols = Array.fill(graft.core.Crf.pow(numClasses, g + 1))(-1)
      labelWindows(g).zipWithIndex.foreach { case (win, k) =>
        require(win.length == g + 1, s"group $g window length ${win.length}")
        var enc = 0
        win.foreach(y => enc = enc * numClasses + y)
        cols(enc) = k
      }
      cols
    }
    val numCols = Array.tabulate(numGroups)(g => labelWindows(g).length)
    featGroup.zipWithIndex.foreach { case (g, i) =>
      require(weights(i).length == numCols(g),
        s"feature $i '${featStrings(i)}' group $g: row ${weights(i).length} != ${numCols(g)}")
    }
    val layout = new WeightLayout(numClasses, windowSize,
      classIndex.indexOf("O"), featGroup, weightCol)
    new NerModel(classIndex, classIndex.indexOf("O"), featureIndex, layout, weights, knownLC, features)
  }
}

/** Order-faithful interpreter for the reference flag-property lines carried in
  * a text-serialized model (SeqClassifierFlags.setProperties,
  * SeqClassifierFlags.java:591-1593). Only the fields that shape FEATURE
  * STRINGS (or this engine's preprocessing) are tracked; recognized
  * feature-neutral keys (I/O paths, optimizer settings, evaluation folds) are
  * accepted and ignored; anything else rejects loudly — an unmodeled key
  * could change featurization silently, which is exactly the failure mode
  * this parser exists to close.
  */
private[ner] object RefTextFlags {

  final class Effective {
    // value-changing (validated)
    var wordShape: Int = -1 // WordShapeClassifier.NOWORDSHAPE (flags default)
    var maxLeft: Int = 2 // SeqClassifierFlags.java:143
    var normalizeTerms = false
    var normalizeTimex = false
    // flow into the model
    var useReverse = false
    var useOccurrencePatterns = false
    var useTags = false
    var useTaggySequences = false
    var useParenMatching = false
    var useDistSim = false
    var useGazettes = false
    var maxNGramLeng: Int = -1
    var noMidNGrams = false
    var lowercaseNGrams = false
    var dehyphenateNGrams = false
    var greekifyNGrams = false
    var conjoinShapeNGrams = false
    var disjunctionWidth = 4
    var wideDisjunctionWidth = 10 // SeqClassifierFlags.java:194
    // the column map: feature-bearing ONLY under useGenericFeatures (any
    // non-core key becomes the generic annotation, RefMapKeys)
    var map: String = "word=0,tag=1,answer=2" // SeqClassifierFlags.java:191
    // misc families + must-be-false families, all default false
    val bool = scala.collection.mutable.Map.empty[String, Boolean].withDefaultValue(false)

    def genericKey: Option[String] =
      if (bool("usegenericfeatures")) RefMapKeys.effectiveGenericKey(map) else None

    def ngramOpts: NerFeatures.NgramOpts = NerFeatures.NgramOpts(maxNGramLeng,
      noMidNGrams, lowercaseNGrams, dehyphenateNGrams, greekifyNGrams, conjoinShapeNGrams)
    def miscOpts: NerFeatures.MiscOpts = NerFeatures.MiscOpts(
      bool("usetitle"), bool("useposition"), bool("usebeginsent"), bool("usesymwordpairs"),
      bool("usefirstword"), bool("useordinal"), bool("usemoretags"), bool("useeithersideword"),
      bool("usewordtag"), bool("useeithersidedisjunctive"), bool("useextrataggysequences"),
      bool("usetypeseqs3"), bool("usetaggysequencesshapeinteraction"), bool("usesymtags"),
      bool("useprevvb"), bool("usenextvb"), bool("usevb"), bool("useshapeconjunctions"),
      bool("usenextsequences"), bool("usewidedisjunctive"), wideDisjunctionWidth,
      bool("usedisjshape"), bool("usedisjunctiveshapeinteraction"),
      bool("uselemmas"), bool("useprevnextlemmas"),
      bool("usechunks"), bool("usechunkysequences"),
      bool("useunknown"),
      bool("useabbr"), bool("useminimalabbr"),
      bool("useabgene"), bool("useabstr"), bool("useabstrfreq"),
      bool("useabstrfreqdict"), bool("usegenia"), bool("useweb"),
      bool("usewebfreqdict"), bool("useisurl"), bool("useentityrule"),
      bool("useentitytypes"), bool("useisdaterange"), bool("usefreq"),
      bool("useentitytypesequences"), bool("useurlsequences"),
      bool("usemucfeatures"), bool("useclassfeature"), bool("usemoreabbr"),
      bool("usegenericfeatures"),
      bool("usenphead"), bool("usenpgovernor"), bool("useheadgov"))
  }

  /** Families the model may have been trained with or without — either way
    * the encodings stay identical (unseen features hash-miss and drop,
    * CRFClassifier.java:200-207), so the keys are accepted without tracking.
    */
  private val familyKeys = Set(
    "useword", "useprev", "usenext", "usewordpairs", "usesequences",
    "useprevsequences", "uselongsequences", "useboundarysequences",
    "usetypeseqs", "usetypeseqs2", "usetypeysequences", "usengrams",
    "usedisjunctive", "uselastrealword", "usenextrealword")

  /** Misc-family booleans tracked into MiscOpts (lowercased key names). */
  private val miscKeys = Set(
    "usetitle", "useposition", "usebeginsent", "usesymwordpairs", "usefirstword",
    "useordinal", "usemoretags", "useeithersideword", "usewordtag",
    "useeithersidedisjunctive", "useextrataggysequences", "usetypeseqs3",
    "usetaggysequencesshapeinteraction", "usesymtags", "useprevvb", "usenextvb",
    "usevb", "useshapeconjunctions", "usenextsequences", "usewidedisjunctive",
    "usedisjshape", "usedisjunctiveshapeinteraction", "uselemmas", "useprevnextlemmas",
    "usechunks", "usechunkysequences", "useunknown",
    "useabbr", "useminimalabbr", "usemoreabbr",
    "useabgene", "useabstr", "useabstrfreq", "useabstrfreqdict", "usegenia",
    "useweb", "usewebfreqdict", "useisurl", "useentityrule", "useentitytypes",
    "useisdaterange", "usefreq", "useentitytypesequences", "useurlsequences",
    "usemucfeatures", "useclassfeature", "usegenericfeatures",
    "usenphead", "usenpgovernor", "useheadgov")

  /** Same closure as RefBinaryModel.validateFlags: families whose features
    * this engine cannot emit (external annotations/resources).
    */
  private val mustBeFalse = Seq(
    "useAbbr1", "useMinimalAbbr1",
    "useGazFeatures", "useMoreGazFeatures")
  private val mustBeFalseLower = mustBeFalse.map(k => k.toLowerCase -> k).toMap

  /** Feature-neutral keys: I/O, reader/encoding, optimizer, evaluation —
    * accepted and ignored (they cannot change a feature string).
    */
  private val neutralKeys = Set(
    "trainfile", "trainfilelist", "testfile", "serializeto", "serializetotext",
    "loadclassifier", "loadtextclassifier", "readerandwriter",
    "inputencoding", "outputencoding", "encoding", "sigma", "adaptsigma",
    "epsilon", "tolerance", "qnsize", "useqn", "maxiterations", "numfolds",
    "startfold", "endfold", "mergetags", "justify", "printfeatures",
    "savefeatureindextodisk", "useobservedsequencesonly", "normalize",
    "interimoutputfreq", "printprobs", "printfirstorderprobs", "keepemptysentences",
    // inference-time knobs don't shape the dictionary; gazette/distsim FILE
    // paths are gated by the useGazettes/useDistSim flags themselves
    "inferencetype", "beamsize", "kbest", "usekbest",
    "gazette", "sloppygazette", "cleangazette", "distsimlexicon")

  /** dan2UseLC is the only shaper this engine implements (byte-exact,
    * text/WordShape.scala); WordShapeClassifier.lookupShaper name -> id.
    */
  private def shaperId(name: String): Int =
    if (name.equalsIgnoreCase("dan2useLC")) 3 else Int.MinValue

  def interpret(props: Seq[(String, String)]): Effective = {
    val f = new Effective
    def b(v: String): Boolean = java.lang.Boolean.parseBoolean(v)
    for ((key, value) <- props) {
      val k = key.toLowerCase
      k match {
        // ---- presets (tracked-field assignments only; each preset fires
        // only on a true value, SeqClassifierFlags.java:604+) ----
        case "macro" => if (b(value)) { // :603-637
          f.useTaggySequences = true; f.useTags = true; f.noMidNGrams = true
          f.useReverse = true; f.wordShape = 3; f.useOccurrencePatterns = true
          f.normalizeTimex = true
        }
        case "goodconll" => if (b(value)) { // :638-683
          f.useTaggySequences = true; f.useTags = true; f.noMidNGrams = true
          f.useReverse = false; f.wordShape = 3; f.useOccurrencePatterns = true
          f.normalizeTimex = true; f.maxLeft = 2; f.disjunctionWidth = 4
          f.bool("uselemmas") = true; f.bool("useprevnextlemmas") = true
        }
        case "conllnotags" => if (b(value)) { // :684-727
          f.noMidNGrams = true; f.useReverse = false; f.wordShape = 3
          f.normalizeTimex = true; f.maxLeft = 2; f.disjunctionWidth = 4
        }
        case "notags" => if (b(value)) { // :728-737
          f.useTags = false; f.useTaggySequences = false
          f.useOccurrencePatterns = false; f.bool("usesymtags") = false
        }
        // ---- tracked scalar fields ----
        case "wordshape" => f.wordShape = shaperId(value)
        case "maxleft" => f.maxLeft = value.trim.toInt
        case "maxngramleng" => f.maxNGramLeng = value.trim.toInt
        case "disjunctionwidth" => f.disjunctionWidth = value.trim.toInt
        case "widedisjunctionwidth" => f.wideDisjunctionWidth = value.trim.toInt
        case "map" => f.map = value.trim // feature-bearing under useGenericFeatures
        // ---- tracked booleans ----
        case "normalizeterms" => f.normalizeTerms = b(value)
        case "normalizetimex" => f.normalizeTimex = b(value)
        case "usereverse" => f.useReverse = b(value)
        case "useoccurrencepatterns" => f.useOccurrencePatterns = b(value)
        case "usetags" => f.useTags = b(value)
        case "usetaggysequences" => f.useTaggySequences = b(value)
        case "useparenmatching" => f.useParenMatching = b(value)
        case "usedistsim" => f.useDistSim = b(value)
        case "usegazettes" => f.useGazettes = b(value)
        case "nomidngrams" => f.noMidNGrams = b(value)
        case "lowercasengrams" => f.lowercaseNGrams = b(value)
        case "dehyphenatengrams" => f.dehyphenateNGrams = b(value)
        case "greekifyngrams" => f.greekifyNGrams = b(value)
        case "conjoinshapengrams" => f.conjoinShapeNGrams = b(value)
        case _ if miscKeys(k) => f.bool(k) = b(value)
        case _ if mustBeFalseLower.contains(k) => f.bool(k) = b(value)
        case _ if familyKeys(k) => f.bool(k) = b(value) // encoding-neutral under wordShape 3, but validate() reads usetypeysequences for the wordShape -1 closure
        case _ if neutralKeys(k) => () // accepted, untracked
        case _ => throw new IllegalArgumentException(
          s"text model flag '$key=$value' is not modeled by this loader — " +
            "refusing to load (an unmodeled flag could silently change featurization)")
      }
    }
    f
  }

  def validate(f: Effective, gazette: Gazette): Unit = {
    // value-changing checks, mirroring RefBinaryModel.validateFlags
    // maxLeft 1 (windowSize-2) models load too: the reference's feature
    // surface there is a strict subset of the maxLeft-2 surface (every
    // flags.maxLeft read in NERFeatureFactory is gated >= 2/>= 3 or > 0), so
    // our extra emissions hash-miss and drop. Cross-checked against the
    // file's <windowSize> after it is read (load()).
    require(f.maxLeft == 1 || f.maxLeft == 2, s"maxLeft ${f.maxLeft} not in {1, 2}")
    // -1 (NOWORDSHAPE) loads only when the shape-reading closure is off
    // (same rule + citations as RefBinaryModel.validateFlags: seven families
    // read the shape annotation ungated by wordShape and would put "null"-
    // shape strings in the dictionary that our dan2 emissions hash-miss).
    // useShapeStrings is an unknown key here, so it rejects at parse already.
    require(f.wordShape == 3 || f.wordShape == -1,
      s"wordShape ${f.wordShape} not in {3 (dan2useLC), -1 (off)} — shape function mismatch")
    if (f.wordShape == -1) {
      val shapeReaders = Seq("usetypeysequences", "usedisjshape",
        "usedisjunctiveshapeinteraction", "usetaggysequencesshapeinteraction",
        "usemucfeatures", "useshapeconjunctions")
      for (k <- shapeReaders) require(!f.bool(k),
        s"wordShape off but -$k reads the shape annotation ungated — its 'null'-shape " +
          "dictionary features would be silently dropped by this engine's dan2 emissions")
      require(!f.conjoinShapeNGrams,
        "wordShape off but -conjoinShapeNGrams reads the shape annotation ungated")
    }
    // this engine's preprocessing bakes the timex word fix in (every 3-class
    // preset sets normalizeTimex; ObjectBankWrapper.java:118 applies the fix
    // under normalizeTerms || normalizeTimex) — a model trained with BOTH off
    // would see different month/day featurization
    require(f.normalizeTimex || f.normalizeTerms,
      "model was trained without normalizeTimex/normalizeTerms: this engine's timex word fix would mis-featurize it")
    for ((lower, orig) <- mustBeFalseLower)
      require(!f.bool(lower),
        s"model was trained with -$orig: that feature family is not in this engine's template set")
    require(!f.useDistSim,
      "model was trained with -useDistSim: the text format does not carry the distsim lexicon (use the binary .ser.gz loader)")
    require(!f.useGazettes || !gazette.isEmpty,
      "model was trained with -useGazettes: the text format does not carry gazette maps — supply the Gazette to load()")
  }
}
