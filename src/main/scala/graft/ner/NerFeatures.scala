package graft.ner

import graft.core.Crf
import graft.text.WordShape

/** Feature templates of the reference's conllNoTags preset
  * (/root/reference/src/edu/stanford/nlp/sequences/SeqClassifierFlags.java:686-733):
  * useNGrams+noMidNGrams, usePrev, useNext, useWordPairs, wordShape=dan2UseLC,
  * useTypeSeqs, useTypeSeqs2, useTypeySequences, useLastRealWord,
  * useNextRealWord, useDisjunctive(width 4), useSequences+usePrevSequences,
  * useLongSequences, useBoundarySequences, maxLeft=2 (windowSize 3).
  *
  * Template strings follow /root/reference/src/edu/stanford/nlp/ie/NERFeatureFactory.java
  * (featuresC :748-1290, featuresCpC :1503-1580, featuresCpCp2C :1790-1835) byte
  * for byte, including two quirks of the reference that matter at document
  * boundaries where the padding token has no shape annotation:
  *   - featuresC and featuresCpCp2C read shapes via `get` (null -> the literal
  *     string "null" under Java string concatenation);
  *   - featuresCpC reads shapes via `getString` (null -> "").
  * DistSim is off, so the DistSim-valued CpC templates degenerate to constants
  * over the empty string, as in the reference.
  *
  * Clique-group layout (FeatureFactory.getCliques + makeDatum,
  * CRFClassifier.java:538-575): group 0 = C (suffix "|C"), group 1 = CpC
  * ("|CpC"), group 2 = Cp2C + CpCp2C ("|CpCp2C"; Cp2C contributes nothing
  * under this preset). Each group is de-duplicated (the reference collects
  * into a HashSet per clique call).
  */
object NerFeatures {

  /** Preprocessed token view: `word` is the timex-fixed word, `shape` its
    * dan2UseLC shape computed on the original word; null shape = pad token.
    * `ds` is the distsim cluster ("null" when the word is not in the lexicon,
    * per distSimAnnotate) or null when distsim is off / the token is a pad.
    */
  final case class Tok(word: String, shape: String, ds: String = null, tag: String = null,
      lemma: String = null, chunk: String = null, unknown: String = null,
      // useGenericFeatures: the PRE-JOINED "<value>-<key>" string for the
      // model's single effective generic column (CoreLabel.initFromStrings
      // collapses every generic map key onto ONE anonymous annotation class,
      // CoreLabel.java:128-136 — so at most one generic feature survives per
      // token, see MiscOpts.useGenericFeatures); null when the family is off
      // or the input carries no generic column
      generic: String = null)
  val Pad: Tok = Tok("", null)

  // POS-tag accessor, getString semantics (pad/absent -> "")
  @inline private def tagGS(t: Tok): String = if (t.tag == null) "" else t.tag
  // POS-tag accessor, `get`/concat semantics (pad/absent -> the literal "null")
  @inline private def tagGet(t: Tok): String = if (t.tag == null) "null" else t.tag

  // lemma accessor, getString semantics (pad/absent -> "")
  @inline private def lemGS(t: Tok): String = if (t.lemma == null) "" else t.lemma
  // chunk accessor, `get`/concat semantics (pad/absent -> the literal "null")
  @inline private def chunkGet(t: Tok): String = if (t.chunk == null) "null" else t.chunk
  // UnknownAnnotation accessor, `get`/concat semantics (pad/absent -> "null")
  @inline private def unkGet(t: Tok): String = if (t.unknown == null) "null" else t.unknown

  // distsim accessors mirroring the reference's get vs getString semantics
  @inline private def dsGet(t: Tok): String = if (t.ds == null) "null" else t.ds
  @inline private[ner] def dsGetString(t: Tok): String = if (t.ds == null) "" else t.ds

  val WindowSize = 3
  val Boundary = "*BOUNDARY*"

  @inline private def shapeGet(t: Tok): String = if (t.shape == null) "null" else t.shape
  @inline private def shapeGetString(t: Tok): String = if (t.shape == null) "" else t.shape

  // string-quality predicates (NERFeatureFactory.java:576-614)
  @inline private[ner] def isNameCase(s: String): Boolean = {
    if (s.length < 2) return false
    if (!(Character.isUpperCase(s.charAt(0)) || Character.isTitleCase(s.charAt(0)))) return false
    var i = 1
    while (i < s.length) { if (Character.isUpperCase(s.charAt(i))) return false; i += 1 }
    true
  }
  @inline private[ner] def noUpperCase(s: String): Boolean = {
    if (s.isEmpty) return false
    var i = 0
    while (i < s.length) { if (Character.isUpperCase(s.charAt(i))) return false; i += 1 }
    true
  }
  @inline private[ner] def hasLetter(s: String): Boolean = {
    var i = 0
    while (i < s.length) { if (Character.isLetter(s.charAt(i))) return true; i += 1 }
    false
  }

  /** Full occurrence-pattern feature emission (NERFeatureFactory.java:1953-2018).
    * All emitted strings carry the "|C" suffix.
    */
  private def occurrenceFeatures(toks: IndexedSeq[Tok], loc: Int, reverse: Boolean,
      emit: String => Unit): Unit = {
    @inline def r(i: Int): Int = if (reverse) -i else i
    @inline def at(i: Int): Tok = if (i >= 0 && i < toks.length) toks(i) else Pad
    val word = at(loc).word
    val nWord = at(loc + r(1)).word
    val pIdx = loc - r(1)
    val pIsPad = pIdx < 0 || pIdx >= toks.length
    val pWord = at(pIdx).word
    if (!(isNameCase(word) && noUpperCase(nWord) && hasLetter(nWord) && hasLetter(pWord) && !pIsPad)) {
      emit("NO-OCCURRENCE-PATTERN|C")
      return
    }
    @inline def isNNP(t: Tok): Boolean = t.tag != null && t.tag == "NNP"
    if (isNameCase(pWord) && isNNP(at(pIdx))) {
      var jump = 3
      while (jump < 150) {
        if (at(loc + r(jump)).word == word) {
          if (at(loc + r(jump - 1)).word == pWord) emit("XY-NEXT-OCCURRENCE-XY|C")
          else emit("XY-NEXT-OCCURRENCE-Y|C")
        }
        jump += 1
      }
      jump = -3
      while (jump > -150) {
        if (at(loc + r(jump)).word == word) {
          if (at(loc + r(jump - 1)).word == pWord) emit("XY-PREV-OCCURRENCE-XY|C")
          else emit("XY-PREV-OCCURRENCE-Y|C")
        }
        jump -= 1
      }
    } else {
      var jump = 3
      while (jump < 150) {
        if (at(loc + r(jump)).word == word) {
          if (isNameCase(at(loc + r(jump - 1)).word) && isNNP(at(loc + r(jump - 1))))
            emit("X-NEXT-OCCURRENCE-YX|C")
          else if (isNameCase(at(loc + r(jump + 1)).word) && isNNP(at(loc + r(jump + 1))))
            emit("X-NEXT-OCCURRENCE-XY|C")
          else emit("X-NEXT-OCCURRENCE-X|C")
        }
        jump += 1
      }
      jump = -3
      while (jump > -150) {
        // reference quirk (:1998): the repeated-word check here uses loc+jump
        // WITHOUT reverse(); the neighbor checks use reverse()
        if (at(loc + jump).word == word) {
          if (isNameCase(at(loc + r(jump + 1)).word) && isNNP(at(loc + r(jump + 1))))
            emit("X-PREV-OCCURRENCE-YX|C")
          else if (isNameCase(at(loc + r(jump - 1)).word) && isNNP(at(loc + r(jump - 1))))
            emit("X-PREV-OCCURRENCE-XY|C")
          else emit("X-PREV-OCCURRENCE-X|C")
        }
        jump -= 1
      }
    }
  }

  // paren-matching token classes (NERFeatureFactory.java:1593-1604)
  @inline private def isOpen(w: String): Boolean = w == "(" || w == "[" || w == "-LRB-"
  @inline private def isClose(w: String): Boolean = w == ")" || w == "]" || w == "-RRB-"

  /** useNGrams options (NERFeatureFactory.java:1173-1197): substring features
    * of "<word>" with optional transforms and bounds. Defaults = the
    * conllNoTags preset (noMidNGrams true, no length cap, no transforms);
    * `noMid = false` emits ALL substrings (the reference's flag default),
    * `maxLen >= 0` caps substring length, `lowercase`/`dehyphenate` transform
    * the padded word first (:1178-1183).
    */
  final case class NgramOpts(maxLen: Int = -1, noMid: Boolean = true,
      lowercase: Boolean = false, dehyphenate: Boolean = false,
      greekify: Boolean = false, conjoinShapes: Boolean = false)
  object NgramOpts { val default: NgramOpts = NgramOpts() }

  /** greekify (NERFeatureFactory.java:557-566): replace any spelled-out greek
    * letter from the fixed alternation with '~' (regex replaceAll on the
    * padded word, applied after lowercase/dehyphenate).
    */
  private val GreekPat = java.util.regex.Pattern.compile(
    "(alpha)|(beta)|(gamma)|(delta)|(epsilon)|(zeta)|(kappa)|(lambda)|(rho)|(sigma)|(tau)|(upsilon)|(omega)")
  def greekify(str: String): String = GreekPat.matcher(str).replaceAll("~")

  /** Small self-contained families outside the presets (all default off):
    * useTitle (NERFeatureFactory.java:746,776-781), usePosition (:931-933),
    * useBeginSent (:934-942), useSymWordPairs (:1020-1022), useFirstWord
    * (:1168-1171), useOrdinal (:615-668,947-959,1519-1529).
    */
  final case class MiscOpts(useTitle: Boolean = false, usePosition: Boolean = false,
      useBeginSent: Boolean = false, useSymWordPairs: Boolean = false,
      useFirstWord: Boolean = false, useOrdinal: Boolean = false,
      useMoreTags: Boolean = false, useEitherSideWord: Boolean = false,
      useWordTag: Boolean = false, useEitherSideDisjunctive: Boolean = false,
      useExtraTaggySequences: Boolean = false, useTypeSeqs3: Boolean = false,
      useTaggySequencesShapeInteraction: Boolean = false,
      useSymTags: Boolean = false, usePrevVB: Boolean = false,
      useNextVB: Boolean = false, useVB: Boolean = false,
      useShapeConjunctions: Boolean = false,
      useNextSequences: Boolean = false,
      // the three remaining self-contained disjunctive variants
      // (NERFeatureFactory.java:1272-1277 interaction, :1282-1287 wide,
      // :1295-1302 shapes; default useInternal&&useExternal branch)
      // default 10 = SeqClassifierFlags.java:194 (round-4 advice: 4 was a
      // copy of disjunctionWidth's default, not the reference's)
      useWideDisjunctive: Boolean = false, wideDisjunctionWidth: Int = 10,
      useDisjShape: Boolean = false,
      useDisjunctiveShapeInteraction: Boolean = false,
      // lemma features (NERFeatureFactory.java:796-811): emitted only when a
      // token CARRIES a lemma (getString -> "" suppresses the feature), so
      // they are exact no-ops on inputs without lemma annotations — the
      // reference behaves identically, which is why these were safe to
      // un-reject (they fire only for lemma-bearing column data, e.g. the
      // CoNLL reader's 5-column format, CoNLLDocumentReaderAndWriter.java:223-231)
      useLemmas: Boolean = false, usePrevNextLemmas: Boolean = false,
      // chunk features (NERFeatureFactory.java:1072-1076 C, :1793 CpCp2C;
      // useChunkySequences :1541-1543 CpC): `get` semantics — absent chunks
      // read as the literal "null", so chunk-less input emits CONSTANT
      // chunk-null templates exactly like the reference; chunk values flow
      // from column data (map ...,chunk=N / CoNLL 4-column)
      useChunks: Boolean = false, useChunkySequences: Boolean = false,
      // useUnknown (NERFeatureFactory.java:790-794): seen-once/known word
      // flags ("true"/"false") produced by the TRUE-CASING reader
      // (TrueCasingDocumentReaderAndWriter.java:159 at read,
      // AbstractSequenceClassifier.classifyWithCasing:256 at classify); raw
      // `get` semantics — absent annotations read as the literal "null", so
      // plain column data emits constant null-UNKNOWN templates exactly
      // like the reference
      useUnknown: Boolean = false,
      // abbr features (NERFeatureFactory.java:1048-1061,1078-1080 C,
      // :1531-1533 CpC, :1789-1791 CpCp2C): NOTHING in this source drop ever
      // sets AbbrAnnotation (no reader, no annotator, and AnnotationLookup
      // has no "abbr" map key), so every template degenerates to constant
      // strings over the literal "null" under Java concat — implemented as
      // those constants. The XX-gated *1 variants (useAbbr1/useMinimalAbbr1)
      // instead NPE in the reference itself (null.equals("XX"), :1053) — no
      // model can have been trained with them in this drop, so both loaders
      // keep rejecting them loudly.
      useAbbr: Boolean = false, useMinimalAbbr: Boolean = false,
      // the remaining annotation-valued families whose annotations have NO
      // producer anywhere in this source drop (verified by grep: no reader,
      // no annotator, no AnnotationLookup key sets Abgene/Abstr/Genia/Web/
      // Freq/Dict/IsURL/EntityRule/EntityType/IsDateRange/Section/WordPos/
      // SentencePos/ParaPos annotations): every template degenerates to
      // constant strings over the literal "null" under Java concat —
      // implemented as those constants (NERFeatureFactory.java:871-930 C,
      // :1316-1322 MUC, :1606-1611 CpC sequences)
      useABGENE: Boolean = false, useABSTR: Boolean = false,
      useABSTRFreq: Boolean = false, useABSTRFreqDict: Boolean = false,
      useGENIA: Boolean = false, useWEB: Boolean = false,
      useWEBFreqDict: Boolean = false, useIsURL: Boolean = false,
      useEntityRule: Boolean = false, useEntityTypes: Boolean = false,
      useIsDateRange: Boolean = false, useFREQ: Boolean = false,
      useEntityTypeSequences: Boolean = false, useURLSequences: Boolean = false,
      useMUCFeatures: Boolean = false,
      // useClassFeature (:1166-1168): the constant bias feature "###" —
      // previously silently ignored, which would have drifted scores for any
      // model trained with it
      useClassFeature: Boolean = false,
      // useMoreAbbr (:1655-1657): Cp2C abbr constant, same no-producer rule
      useMoreAbbr: Boolean = false,
      // useGenericFeatures (NERFeatureFactory.java:1466-1476): one C-clique
      // feature `<value>-<key>` per cached generic annotation class. The
      // producer is the column reader: any map key UNKNOWN to
      // AnnotationLookup becomes a generic annotation
      // (CoreLabel.initFromStrings:124-136) — but every such key instantiates
      // the SAME anonymous class, so all generic columns collapse onto one
      // annotation: the token's value is the LAST generic column's value and
      // the registered name is the LAST generic key. Net effect: at most ONE
      // feature per token, `<lastGenericValue>-<lastGenericKey>` — mirrored
      // exactly (the pre-join happens at tag/train time where the model's
      // generic key name is known; the emission here just suffixes).
      useGenericFeatures: Boolean = false,
      // useNPHead / useNPGovernor / useHeadGov (NERFeatureFactory.java:
      // 1140-1163): read TreeCoreAnnotations.HeadWordAnnotation /
      // GovernorAnnotation via `get` + string concat (no .equals — NPE-free).
      // NOTHING in this source drop sets either annotation (grep-verified:
      // only the class declarations and an AnnotationLookup entry whose
      // Class.forName target is a WRONG package+separator name, so even a
      // `hw` map column binds a different class), so the templates
      // degenerate to constants / tag- and distsim-suffixed semi-constants:
      // null-HW, null-<tag>-HW-T, null-<ds>-HW-DISTSIM, null-GW,
      // null-<tag>-GW-T, null-<ds>-DISTSIM-T1, null-null-HW_GW.
      useNPHead: Boolean = false, useNPGovernor: Boolean = false,
      useHeadGov: Boolean = false)
  object MiscOpts { val default: MiscOpts = MiscOpts() }

  /** The values that shape a model's features: the feature part of the
    * reference's SeqClassifierFlags, carried from `Trainer.Config` to the
    * model, its file and the reference loaders. `default` is the
    * conllNoTags preset.
    */
  final case class Spec(
      // useGazettes: TYPE-GAZn features, sloppy/clean per the Gazette's
      // modes (NERFeatureFactory.java:675-727,1211-1232)
      gazette: Gazette = Gazette.empty,
      // normalizeTerms (SeqClassifierFlags.java:99): preprocessing also
      // Americanizes each word (ObjectBankWrapper.fix, :117-128); shape stays
      // computed on the ORIGINAL word, like the timex fix
      normalizeTerms: Boolean = false,
      // useOccurrencePatterns (NERFeatureFactory.java:1953-2018): long-range
      // repeated-word features; the encode input must then be the WHOLE
      // document (the +-150-token window spans it)
      useOccurrencePatterns: Boolean = false,
      // useReverse (the `macro` preset's distinguishing flag,
      // SeqClassifierFlags.java:617): the reference physically reverses each
      // document before feature extraction and inference and un-reverses the
      // answers (CRFClassifier.makeAnswerArraysAndTagIndex / classify); the
      // Trainer and the tag() entry points do the same, and the
      // occurrence-pattern scans flip their reverse(i) indexors accordingly.
      useReverse: Boolean = false,
      // useDistSim (NERFeatureFactory.java:497-530,763-772,966,982,1553-1555):
      // distributional-similarity cluster features from a lexicon that is part
      // of the model state (the reference serializes it inside the factory)
      distSim: Option[DistSim] = None,
      // useTags / useTaggySequences (goodCoNLL families): POS-tag templates
      // (t-TAG, pt-PTAG, nt-NTAG; pt-t-TS; p2t-pt-t-TTS). Tags come from the
      // caller's column data (`word=0,tag=1,answer=2`); documents tagged
      // WITHOUT tags degrade to empty-string values exactly like the reference
      // (getString semantics).
      useTags: Boolean = false,
      useTaggySequences: Boolean = false,
      // useParenMatching (NERFeatureFactory.java:1591-1605,1669-1683): matched
      // open/close paren features on the CpC and Cp2C cliques
      useParenMatching: Boolean = false,
      // useNGrams options: maxNGramLeng / noMidNGrams / lowercaseNGrams /
      // dehyphenateNGrams (NERFeatureFactory.java:1173-1197)
      ngramOpts: NgramOpts = NgramOpts.default,
      // useDisjunctive width (flags.disjunctionWidth; NERFeatureFactory.java:1267-1279)
      disjunctionWidth: Int = 4,
      // the families outside the presets (useTitle, usePosition, ...)
      miscOpts: MiscOpts = MiscOpts.default,
      // useGenericFeatures: the model's single EFFECTIVE generic column name.
      // The reference's CoreLabel.initFromStrings collapses every generic map
      // key onto one anonymous annotation class (CoreLabel.java:128-136), so a
      // model trained with N generic columns effectively reads only the LAST
      // one — loaders reduce the map accordingly (RefMapKeys.effectiveGenericKey)
      // and store that one key here; requires miscOpts.useGenericFeatures.
      genericKey: Option[String] = None) {

    /** True when the spec reads only the conllNoTags preset's templates, so
      * `NerModel.encodeFast` hashes them (NerFeaturesFast). Any optional
      * family sends a model through the string path, `encode(preprocess(words))`,
      * which gives the same ids in the same order. `useReverse` and
      * `normalizeTerms` only change word order and preprocessing, so they
      * keep the hashing path.
      */
    def hashes: Boolean = gazette.isEmpty &&
      copy(gazette = Gazette.empty, normalizeTerms = false, useReverse = false) == Spec.default

    /** The word-`fix` preprocessing step (ObjectBankWrapper.fix): timex
      * lowercasing always (normalizeTimex is on in every 3-class preset),
      * plus Americanize under normalizeTerms.
      */
    def fix(w: String): String =
      if (normalizeTerms) graft.text.Americanize.fixWordNormalizeTerms(w) else WordShape.fixWord(w)

    /** Preprocess one raw word: shape from the ORIGINAL word (with frozen
      * knownLCWords), then the word fix — matching ObjectBankWrapper.doBasicStuff
      * ordering (ObjectBankWrapper.java:131-155).
      */
    def tok(w: String, knownLC: Set[String]): Tok = {
      val fixed = fix(w)
      Tok(fixed, WordShape.dan2(w, knownLC.contains), distSim.map(_.clusterOf(fixed)).orNull)
    }

    def preprocess(words: IndexedSeq[String], knownLC: Set[String]): IndexedSeq[Tok] =
      words.map(tok(_, knownLC))

    /** Attach per-token column data to freshly preprocessed tokens: POS tags, lemmas
      * and chunk labels (ColumnDocumentReaderAndWriter / 4- and 5-column
      * CoNLL data, CoNLLDocumentReaderAndWriter.java:223-231),
      * UnknownAnnotation values ("true"/"false", the true-casing reader's
      * seen-once flags, TrueCasingDocumentReaderAndWriter.java:159) and the
      * generic column, pre-joined as "<value>-<genericKey>"
      * (NERFeatureFactory.java:1466-1476). An empty column leaves its field
      * null, and so does the generic column without a genericKey.
      */
    def attach(toks: IndexedSeq[Tok], tags: Seq[String], lemmas: Seq[String], chunks: Seq[String],
        unknowns: Seq[String], generics: Seq[String]): IndexedSeq[Tok] = {
      val gens = if (genericKey.isEmpty) Seq.empty else generics.map(_ + "-" + genericKey.get)
      val cols = Seq("tags" -> tags, "lemmas" -> lemmas, "chunks" -> chunks,
        "unknowns" -> unknowns, "generics" -> gens)
      for ((name, c) <- cols)
        require(c.isEmpty || c.length == toks.length, s"${toks.length} words vs ${c.length} $name")
      if (cols.forall(_._2.isEmpty)) toks
      else toks.indices.map { i =>
        def at(c: Seq[String]) = if (c.isEmpty) null else c(i)
        toks(i).copy(tag = at(tags), lemma = at(lemmas), chunk = at(chunks), unknown = at(unknowns),
          generic = at(gens))
      }
    }

    /** Encode preprocessed tokens against a string dictionary; features
      * unseen at train time are dropped (CRFClassifier.java:200-207). Ids
      * follow emission order. `refOrder` gives the reference's DATA-ARRAY
      * order instead: getCliqueFeatures collects each clique's features into
      * a `java.util.HashSet<String>` (NERFeatureFactory.java:412), so the id
      * arrays CRFClassifier trains on follow HashSet iteration order and are
      * deduplicated. Training objectives sum weights in data order, so a
      * bit-exact objective mirror (FloatObjective / RefFloatObjectiveSpec)
      * needs that order; inference is order-insensitive.
      */
    def encode(toks: IndexedSeq[Tok], dict: java.util.Map[String, Integer],
        refOrder: Boolean = false): Crf.EncodedDoc =
      Array.tabulate(toks.length) { pos =>
        featuresAt(toks, pos, this).map { feats =>
          val keys: java.lang.Iterable[String] =
            if (!refOrder) java.util.Arrays.asList(feats: _*)
            else { val set = new java.util.HashSet[String](); feats.foreach(set.add); set }
          val ids = new scala.collection.mutable.ArrayBuilder.ofInt
          keys.forEach { f => val id = dict.get(f); if (id != null) ids += id.intValue }
          ids.result()
        }
      }
  }
  object Spec { val default: Spec = Spec() }

  private val TitlePat = java.util.regex.Pattern.compile("(Mr|Ms|Mrs|Dr|Miss|Sen|Judge|Sir)\\.?")
  private[ner] def isTitleWord(w: String): Boolean = TitlePat.matcher(w).matches()

  private val OrdinalPat = java.util.regex.Pattern.compile(
    "(?:(?:first|second|third|fourth|fifth|sixth|seventh|eighth|ninth|tenth|" +
      "eleventh|twelfth|thirteenth|fourteenth|fifteenth|sixteenth|" +
      "seventeenth|eighteenth|nineteenth|twenty|twentieth|thirty|thirtieth|" +
      "fourty|fourtieth|fifty|fiftieth|sixty|sixtieth|seventy|seventieth|" +
      "eighty|eightieth|ninety|ninetieth|one|two|three|four|five|six|seven|" +
      "eight|nine|hundred|hundredth)-?)+|[0-9]+(?:st|nd|rd|th)",
    java.util.regex.Pattern.CASE_INSENSITIVE)
  private val NumberPat = java.util.regex.Pattern.compile("[0-9]+")
  private val OrdinalEndPat = java.util.regex.Pattern.compile("(?:st|nd|rd|th)",
    java.util.regex.Pattern.CASE_INSENSITIVE)

  /** isOrdinal (NERFeatureFactory.java:631-668); out-of-range positions read
    * as "" (PaddedList semantics) and match nothing.
    */
  private[ner] def isOrdinal(toks: IndexedSeq[Tok], pos: Int): Boolean = {
    @inline def wordAt(i: Int): String = if (i >= 0 && i < toks.length) toks(i).word else ""
    val w = wordAt(pos)
    if (OrdinalPat.matcher(w).matches()) return true
    if (NumberPat.matcher(w).matches()) {
      if (pos + 1 < toks.length && OrdinalEndPat.matcher(wordAt(pos + 1)).matches()) return true
      return false
    }
    if (OrdinalEndPat.matcher(w).matches()) {
      if (pos > 0 && NumberPat.matcher(wordAt(pos - 1)).matches()) return true
    }
    if (w == "-") {
      if (pos + 1 < toks.length && pos > 0 &&
          OrdinalPat.matcher(wordAt(pos - 1)).matches() &&
          OrdinalPat.matcher(wordAt(pos + 1)).matches()) return true
    }
    false
  }

  /** The reference's dehyphenate (NERFeatureFactory.java:540-555), quirks
    * included: only INTERNAL hyphens are removed (index >= 2 and
    * < originalLength - 2 — the bound uses the ORIGINAL length even as the
    * string shrinks), scanning resumes at the removal index.
    */
  def dehyphenate(str: String): String = {
    val leng = str.length
    var ret = str
    var hyphen = 2
    var go = true
    while (go) {
      hyphen = ret.indexOf('-', hyphen)
      if (hyphen >= 0 && hyphen < leng - 2) ret = ret.substring(0, hyphen) + ret.substring(hyphen + 1)
      else go = false
    }
    ret
  }


  /** Cold misc-family emissions of group 0, part A (useUnknown through
    * useGenericFeatures) — extracted to keep `featuresAt` under HotSpot's
    * 8000-bytecode-byte DontCompileHugeMethods limit (it sat at 7,655
    * bytes). Emission order preserved exactly. The misc families encode
    * only here: NerFeaturesFast hashes the conllNoTags preset alone.
    */
  private def addMiscG0A(misc: MiscOpts, c: Tok, p: Tok, nt: Tok, cWord: String,
      useTags: Boolean, useDistSim: Boolean, g0: java.util.LinkedHashSet[String]): Unit = {
    if (misc.useUnknown) {                                     // useUnknown (:790-794)
      g0.add(unkGet(c) + "-UNKNOWN|C")
      g0.add(unkGet(p) + "-PUNKNOWN|C")
      g0.add(unkGet(nt) + "-NUNKNOWN|C")
    }
    if (misc.useLemmas) {                                      // useLemmas (:796-801)
      val lem = lemGS(c)
      if (lem != "") g0.add(lem + "-LEM|C")
    }
    if (misc.usePrevNextLemmas) {                              // usePrevNextLemmas (:802-811)
      val plem = lemGS(p); val nlem = lemGS(nt)
      if (plem != "") g0.add(plem + "-PLEM|C")
      if (nlem != "") g0.add(nlem + "-NLEM|C")
    }
    if (misc.useChunks) {                                      // useChunks (:1072-1076)
      g0.add(chunkGet(p) + "-" + chunkGet(c) + "-PCCHUNK|C")
      g0.add(chunkGet(c) + "-" + chunkGet(nt) + "-CNCHUNK|C")
      g0.add(chunkGet(p) + "-" + chunkGet(c) + "-" + chunkGet(nt) + "-PCNCHUNK|C")
    }
    // abbr families: constants over the never-set AbbrAnnotation (see
    // MiscOpts doc; :1048-1061,1078-1080)
    if (misc.useAbbr || misc.useMinimalAbbr) g0.add("null-ABBR|C")
    if (misc.useAbbr) {
      g0.add("null-null-PCABBR|C")
      g0.add("null-null-CNABBR|C")
      g0.add("null-null-null-PCNABBR|C")
    }
    if (misc.useMinimalAbbr) g0.add(cWord + "-null-CWABB|C")
    // the no-producer annotation families (see MiscOpts doc): constants.
    // getString(TagAnnotation) in the ABSTRFreqDict/WEBFreqDict conjunctions
    // is the POS tag (tagGS); shapeGet in WORD_POSITION_SHAPE is the real
    // shape of the current token
    if (misc.useABGENE) {
      g0.add("null-ABGENE|C"); g0.add("null-PABGENE|C"); g0.add("null-NABGENE|C")
    }
    if (misc.useABSTRFreqDict) {
      g0.add("null-ABSTRACTnull-FREQ" + tagGS(c) + "-TAG|C")
      g0.add("null-ABSTRACTnull-DICT" + tagGS(c) + "-TAG|C")
      g0.add("null-ABSTRACTnull-DICTnull-FREQ" + tagGS(c) + "-TAG|C")
    }
    if (misc.useABSTR) {
      g0.add("null-ABSTRACT|C"); g0.add("null-PABSTRACT|C"); g0.add("null-NABSTRACT|C")
    }
    if (misc.useGENIA) {
      g0.add("null-GENIA|C"); g0.add("null-PGENIA|C"); g0.add("null-NGENIA|C")
    }
    if (misc.useWEBFreqDict) {
      g0.add("null-WEBnull-FREQ" + tagGS(c) + "-TAG|C")
      g0.add("null-WEBnull-DICT" + tagGS(c) + "-TAG|C")
      g0.add("null-WEBnull-DICTnull-FREQ" + tagGS(c) + "-TAG|C")
    }
    if (misc.useWEB) {
      g0.add("null-WEB|C"); g0.add("null-PWEB|C"); g0.add("null-NWEB|C")
    }
    if (misc.useIsURL) g0.add("null-ISURL|C")
    if (misc.useEntityRule) g0.add("null-ENTITYRULE|C")
    if (misc.useEntityTypes) g0.add("null-ENTITYTYPE|C")
    if (misc.useIsDateRange) g0.add("null-ISDATERANGE|C")
    if (misc.useABSTRFreq) g0.add("null-ABSTRACTnull-FREQ|C")
    if (misc.useFREQ) g0.add("null-FREQ|C")
    if (misc.useMUCFeatures) {                                 // (:1316-1322)
      g0.add("null-SECTION|C"); g0.add("null-WORD_POSITION|C")
      g0.add("null-SENT_POSITION|C"); g0.add("null-PARA_POSITION|C")
      g0.add("null-" + shapeGet(c) + "-WORD_POSITION_SHAPE|C")
    }
    if (misc.useNPHead) {                                      // (:1140-1148)
      g0.add("null-HW|C")
      if (useTags) g0.add("null-" + tagGS(c) + "-HW-T|C")
      if (useDistSim) g0.add("null-" + dsGet(c) + "-HW-DISTSIM|C")
    }
    if (misc.useNPGovernor) {                                  // (:1150-1158)
      g0.add("null-GW|C")
      if (useTags) g0.add("null-" + tagGS(c) + "-GW-T|C")
      if (useDistSim) g0.add("null-" + dsGet(c) + "-DISTSIM-T1|C")
    }
    if (misc.useHeadGov) g0.add("null-null-HW_GW|C")           // (:1160-1162)
    if (misc.useClassFeature) g0.add("###|C")                  // (:1166-1168)
    if (misc.useGenericFeatures && c.generic != null)          // (:1466-1476)
      g0.add(c.generic + "|C") // pre-joined "<value>-<key>", see Tok.generic

  }

  /** Cold misc-family emissions of group 0, part B (useWideDisjunctive
    * through useEitherSideDisjunctive) — same extraction rationale and
    * order-preservation contract as part A.
    */
  private def addMiscG0B(misc: MiscOpts, toks: IndexedSeq[Tok], loc: Int,
      reverse: Boolean, useTags: Boolean, useDistSim: Boolean, disjWidth: Int,
      c: Tok, p: Tok, p2: Tok, nt: Tok, cWord: String, pWord: String, nWord: String,
      cShape: String, g0: java.util.LinkedHashSet[String]): Unit = {
    @inline def at(i: Int): Tok = if (i >= 0 && i < toks.length) toks(i) else Pad
    if (misc.useWideDisjunctive) {                  // (:1282-1287; own width flag)
      var wd = 1
      while (wd <= misc.wideDisjunctionWidth) {
        g0.add(at(loc + wd).word + "-DISJWN|C")
        g0.add(at(loc - wd).word + "-DISJWP|C")
        wd += 1
      }
    }
    if (misc.useDisjShape) {                        // (:1295-1302; the PREV sides are
      var ds = 1                                    // commented out in the reference)
      while (ds <= disjWidth) {
        g0.add(shapeGet(at(loc + ds)) + "-NDISJSHAPE|C")         // get -> "null" pads
        g0.add(cShape + "-" + shapeGet(at(loc + ds)) + "-CNDISJSHAPE|C")
        ds += 1
      }
    }
    if (misc.useTitle && isTitleWord(cWord)) g0.add("IS_TITLE|C")   // (:776-781)
    // PositionAnnotation is assigned BEFORE useReverse physically reverses
    // the document (ObjectBankWrapper.doBasicStuff vs CRFClassifier reverse),
    // so under reverse the position at reversed index i is n-1-i (review
    // finding: the raw loc diverged for every token of reversed models)
    val posIdx = if (reverse) toks.length - 1 - loc else loc
    if (misc.usePosition) g0.add(posIdx + "-POSITION|C")             // (:931-933)
    if (misc.useBeginSent) {                                         // (:934-942)
      if (posIdx == 0) { g0.add("BEGIN-SENT|C"); g0.add(cShape + "-BEGIN-SENT|C") }
      else { g0.add("IN-SENT|C"); g0.add(cShape + "-IN-SENT|C") }
    }
    if (misc.useSymWordPairs) g0.add(pWord + "-" + nWord + "-SWORDS|C") // (:1020-1022)
    if (misc.useFirstWord) g0.add(toks.headOption.map(_.word).getOrElse("") + "|C") // (:1168-1171)
    if (misc.useOrdinal) {                                           // (:947-959)
      if (isOrdinal(toks, loc)) {
        g0.add("C_ORDINAL|C")
        if (isOrdinal(toks, loc - 1)) g0.add("PC_ORDINAL|C")
      }
      // review finding: P_ORDINAL fires on isOrdinal(loc-1) regardless of
      // whether the current token is ordinal
      if (isOrdinal(toks, loc - 1)) g0.add("P_ORDINAL|C")
    }
    if (misc.useMoreTags) {                                          // (:767-769,927-929)
      if (useDistSim) g0.add(dsGet(p) + "-" + cWord + "-PDISTSIM-CWORD|C")
      g0.add(tagGS(p) + "-" + cWord + "-PTAG-CWORD|C")
    }
    if (misc.useEitherSideWord) {                                    // (:996-999)
      g0.add(pWord + "-EW|C"); g0.add(nWord + "-EW|C")
    }
    if (misc.useWordTag) {                                           // (:1134-1138)
      g0.add(cWord + "-" + tagGS(c) + "-W-T|C")
      g0.add(cWord + "-" + tagGS(p) + "-W-PT|C")
      g0.add(cWord + "-" + tagGS(nt) + "-W-NT|C")
    }
    if (misc.useSymTags) {                                           // (:1006-1018)
      if (useTags) {
        g0.add(tagGS(p) + "-" + tagGS(c) + "-" + tagGS(nt) + "-PCNTAGS|C")
        g0.add(tagGS(c) + "-" + tagGS(nt) + "-CNTAGS|C")
        g0.add(tagGS(p) + "-" + tagGS(c) + "-PCTAGS|C")
      }
      if (useDistSim) {
        g0.add(dsGet(p) + "-" + dsGet(c) + "-" + dsGet(nt) + "-PCNDISTSIM|C")
        g0.add(dsGet(c) + "-" + dsGet(nt) + "-CNDISTSIM|C")
        g0.add(dsGet(p) + "-" + dsGet(c) + "-PCDISTSIM|C")
      }
    }
    // VB scans (:1088-1121): nearest VB-tagged word on each side, pad -> "X";
    // useVB conjoins whatever the enabled scans produced ("" when disabled)
    if (misc.usePrevVB || misc.useNextVB || misc.useVB) {
      var prevVB = ""; var nextVB = ""
      if (misc.usePrevVB) {
        var j = loc - 1
        var going = true
        while (going) {
          if (j < 0) { prevVB = "X"; g0.add("X-PVB|C"); going = false }
          else if (tagGS(toks(j)).startsWith("VB")) {
            prevVB = toks(j).word; g0.add(prevVB + "-PVB|C"); going = false
          } else j -= 1
        }
      }
      if (misc.useNextVB) {
        var j = loc + 1
        var going = true
        while (going) {
          if (j >= toks.length) { nextVB = "X"; g0.add("X-NVB|C"); going = false }
          else if (tagGS(toks(j)).startsWith("VB")) {
            nextVB = toks(j).word; g0.add(nextVB + "-NVB|C"); going = false
          } else j += 1
        }
      }
      if (misc.useVB) g0.add(prevVB + "-" + nextVB + "-PNVB|C")
    }
    if (misc.useShapeConjunctions) {                                 // (:1123-1132; no separators)
      g0.add(posIdx + cShape + "-POS-SH|C")
      if (useTags) g0.add(tagGet(c) + cShape + "-TAG-SH|C")
      if (useDistSim) g0.add(dsGet(c) + cShape + "-DISTSIM-SH|C")
    }
    if (misc.useExtraTaggySequences) {                               // (:1305-1314)
      val p3 = at(loc - 3)
      if (useTags) {
        g0.add(tagGS(p2) + "-" + tagGS(p) + "-" + tagGS(c) + "-TTS|C")
        g0.add(tagGS(p3) + "-" + tagGS(p2) + "-" + tagGS(p) + "-" + tagGS(c) + "-TTTS|C")
      }
      if (useDistSim) {
        g0.add(dsGet(p2) + "-" + dsGet(p) + "-" + dsGet(c) + "-DISTSIM_TTS1|C")
        g0.add(dsGet(p3) + "-" + dsGet(p2) + "-" + dsGet(p) + "-" + dsGet(c) + "-DISTSIM_TTTS1|C")
      }
    }
    if (misc.useEitherSideDisjunctive) {                             // (:1289-1293)
      var ed = 1
      while (ed <= disjWidth) {
        g0.add(at(loc + ed).word + "-DISJWE|C")
        g0.add(at(loc - ed).word + "-DISJWE|C")
        ed += 1
      }
    }

  }

  /** Features for all clique groups at `loc` under `spec`. Returns one array
    * of suffixed, de-duplicated feature strings per group (length =
    * WindowSize).
    */
  def featuresAt(toks: IndexedSeq[Tok], loc: Int, spec: Spec = Spec.default): Array[Array[String]] = {
    val gaz = spec.gazette; val occPatterns = spec.useOccurrencePatterns
    val useDistSim = spec.distSim.isDefined; val useTags = spec.useTags
    val useTaggySeq = spec.useTaggySequences; val reverse = spec.useReverse
    val parenMatching = spec.useParenMatching; val ngram = spec.ngramOpts
    val disjWidth = spec.disjunctionWidth; val misc = spec.miscOpts
    @inline def at(i: Int): Tok = if (i >= 0 && i < toks.length) toks(i) else Pad
    val c = at(loc); val p = at(loc - 1); val p2 = at(loc - 2)
    val nt = at(loc + 1); val n2 = at(loc + 2)
    val cWord = c.word; val pWord = p.word; val nWord = nt.word
    val cShape = shapeGetString(c)

    // ---- group 0: C ----
    val g0 = new java.util.LinkedHashSet[String]()
    // useNGrams: substrings of <word>, len >= 2, bounded/filtered/transformed
    // per NgramOpts (NERFeatureFactory.java:1173-1209; preset default =
    // noMidNGrams true, maxNGramLeng unset = -1)
    val w = {
      var s = "<" + cWord + ">"
      if (ngram.lowercase) s = s.toLowerCase
      if (ngram.dehyphenate) s = dehyphenate(s)
      if (ngram.greekify) s = greekify(s)
      s
    }
    val L = w.length
    var i = 0
    while (i < L) {
      var j = i + 2
      while (j <= L) {
        if ((!ngram.noMid || i == 0 || j == L) && (ngram.maxLen < 0 || j - i <= ngram.maxLen)) {
          val sub = "#" + w.substring(i, j) + "#"
          g0.add(sub + "|C")
          // conjoinShapeNGrams (:1203-1207): every substring also conjoined
          // with the current word's shape (getString semantics)
          if (ngram.conjoinShapes) g0.add(sub + "-" + cShape + "-CNGram-CS|C")
        }
        j += 1
      }
      i += 1
    }
    // useWord - ON BY DEFAULT in the reference (SeqClassifierFlags.java:120)
    // and unset by every 3-class preset, so every stock model carries
    // word-WORD features (round-3 finding: the family was missing here and
    // the 100% differentials were riding on margin, not byte parity; models
    // trained with -useWord false simply hash-miss these, the usual
    // unseen-feature rule)
    g0.add(cWord + "-WORD|C")                                 // useWord (:786-788)
    addMiscG0A(misc, c, p, nt, cWord, useTags, useDistSim, g0)
    if (useDistSim)                                            // useDistSim (:771)
      g0.add(dsGet(c) + "-DISTSIM|C")
    if (useTags)                                               // useTags (:943)
      g0.add(tagGS(c) + "-TAG|C")
    g0.add(pWord + "-PW|C")                                   // usePrev (:963)
    if (useTags)                                               // usePrev+useTags (:963-965)
      g0.add(tagGS(p) + "-PTAG|C")
    if (useDistSim)                                            // usePrev+useDistSim (:966)
      g0.add(dsGet(p) + "-PDISTSIM|C")
    g0.add(nWord + "-NW|C")                                   // useNext (:980)
    if (useTags)                                               // useNext+useTags (:979-981)
      g0.add(tagGS(nt) + "-NTAG|C")
    if (useDistSim)                                            // useNext+useDistSim (:982)
      // the reference reads the PREVIOUS token's cluster here — mirrored
      g0.add(dsGet(p) + "-NDISTSIM|C")
    g0.add(cWord + "-" + pWord + "-W-PW|C")                   // useWordPairs (:1002)
    g0.add(cWord + "-" + nWord + "-W-NW|C")
    // wordShape + useTypeSeqs (:1234-1247); pShape/nShape via get -> "null" pads
    val pShapeG = shapeGet(p); val nShapeG = shapeGet(nt)
    g0.add(cShape + "-TYPE|C")
    g0.add(pShapeG + "-PTYPE|C")
    g0.add(nShapeG + "-NTYPE|C")
    g0.add(pWord + "..." + cShape + "-PW_CTYPE|C")
    g0.add(cShape + "..." + nWord + "-NW_CTYPE|C")
    g0.add(pShapeG + "..." + cShape + "-PCTYPE|C")
    g0.add(cShape + "..." + nShapeG + "-CNTYPE|C")
    g0.add(pShapeG + "..." + cShape + "..." + nShapeG + "-PCNTYPE|C")
    if (pWord.length <= 3)                                    // useLastRealWord (:1249)
      g0.add(p2.word + "..." + cShape + "-PPW_CTYPE|C")
    if (nWord.length <= 3)                                    // useNextRealWord (:1256)
      g0.add(n2.word + "..." + cShape + "-NNW_CTYPE|C")
    // useOccurrencePatterns (:1953-2018): long-range repeated-capitalized-word
    // features over the WHOLE document window (+-150 tokens, so `toks` must be
    // the full document, not a sentence). Full algorithm incl. the NNP-gated
    // branches (which under a no-POS pipeline can never fire — getString(Tag)
    // returns "" and fails every NNP comparison — leaving exactly
    // {NO-OCCURRENCE-PATTERN, X-NEXT-OCCURRENCE-X, X-PREV-OCCURRENCE-X}).
    // `reverse` negates the reference's reverse(i) indexors (the document
    // itself is already physically reversed by the callers). One reference
    // quirk mirrored: the else-branch PREV loop matches the repeated word at
    // loc+jump WITHOUT reverse() (:1998) while its neighbors use reverse().
    // All paths verified differentially (no-tags, tagged, tagged+reverse).
    if (occPatterns) occurrenceFeatures(toks, loc, reverse, g0.add(_))
    var d = 1                                // useDisjunctive, width from flags (:1267-1280)
    while (d <= disjWidth) {
      g0.add(at(loc + d).word + "-DISJN|C")
      if (misc.useDisjunctiveShapeInteraction)      // (:1272-1273; cShape getString)
        g0.add(at(loc + d).word + "-" + cShape + "-DISJN-CS|C")
      g0.add(at(loc - d).word + "-DISJP|C")
      if (misc.useDisjunctiveShapeInteraction)      // (:1276-1277)
        g0.add(at(loc - d).word + "-" + cShape + "-DISJP-CS|C")
      d += 1
    }
    addMiscG0B(misc, toks, loc, reverse, useTags, useDistSim,
      disjWidth, c, p, p2, nt, cWord, pWord, nWord, cShape, g0)
    // useGazettes (NERFeatureFactory.java:1211-1232): sloppy = feature on any
    // word hit; clean = feature only when the whole phrase matches around loc
    // (pad word "" never matches a phrase word)
    if (!gaz.isEmpty) {
      gaz.sloppy.get(cWord).foreach(_.foreach(f => g0.add(f + "|C")))
      gaz.clean.get(cWord).foreach(_.foreach { e =>
        var ok = true
        var gl = 0
        while (ok && gl < e.words.length) {
          ok = e.words(gl) == at(loc + gl - e.loc).word
          gl += 1
        }
        if (ok) g0.add(e.feature + "|C")
      })
    }

    // ---- group 1: CpC (+ the folded CnC family under useNextSequences) ----
    val g1 = new java.util.LinkedHashSet[String]()
    if (misc.useOrdinal) {                                           // (:1519-1529)
      if (isOrdinal(toks, loc)) {
        g1.add("C_ORDINAL|CpC")
        if (isOrdinal(toks, loc - 1)) g1.add("PC_ORDINAL|CpC")
      }
      if (isOrdinal(toks, loc - 1)) g1.add("P_ORDINAL|CpC")
    }
    val pShapeS = shapeGetString(p)
    // useSequences + usePrevSequences (:1545-1561); DistSim strings are ""
    g1.add("PSEQ|CpC")
    g1.add(cWord + "-PSEQW|CpC")
    g1.add(pWord + "-" + cWord + "-PSEQW2|CpC")
    g1.add(pWord + "-PSEQpW|CpC")
    // distsim-valued sequence templates (:1553-1555, getString semantics:
    // pad -> "", unknown word -> "null"); with distsim off they degenerate to
    // the constant empty-prefix strings, byte-identical to before
    val pDSs = dsGetString(p); val cDSs = dsGetString(c)
    g1.add(pDSs + "-PSEQpDS|CpC")
    g1.add(cDSs + "-PSEQcDS|CpC")
    g1.add(pDSs + "-" + cDSs + "-PSEQpcDS|CpC")
    g1.add(pShapeS + "-PSEQpS|CpC")
    g1.add(cShape + "-PSEQcS|CpC")
    g1.add(pShapeS + "-" + cShape + "-PSEQpcS|CpC")
    g1.add(pShapeS + "-" + cShape + "-TYPES|CpC")             // useTypeSeqs2 (:1571)
    if (misc.useTypeSeqs3)                                     // useTypeSeqs3 (:1568-1570; n-shape via get)
      g1.add(pShapeS + "-" + cShape + "-" + shapeGet(nt) + "-PCNSHAPES|CpC")
    g1.add(shapeGet(c) + "-TPS2|CpC")                         // useTypeySequences (:1576)
    g1.add(shapeGet(nt) + "-TNS1|CpC")
    if (useTaggySeq && useTags)                                // useTaggySequences (:1583)
      g1.add(tagGS(p) + "-" + tagGS(c) + "-TS|CpC")
    if (useTaggySeq && useDistSim)                             // (:1586-1587) — review finding:
      // the CpC sibling of DISTSIM_TTS1 was missing for taggy+distsim models
      g1.add(dsGet(p) + "-" + dsGet(c) + "-DISTSIM_TS1|CpC")
    // useParenMatching (:1591-1605): close paren at c with matching open at
    // p (roles flipped under reverse — the doc is physically reversed)
    if (parenMatching) {
      val hit = if (reverse) isOpen(cWord) && isClose(pWord)
                else isClose(cWord) && isOpen(pWord)
      if (hit) g1.add("PAREN-MATCH|CpC")
    }
    if (misc.useAbbr || misc.useMinimalAbbr)
      g1.add("null-null-PABBRANS|CpC")                         // (:1531-1533)
    if (misc.useChunkySequences)                               // useChunkySequences (:1541-1543)
      g1.add(chunkGet(p) + "-" + chunkGet(c) + "-" + chunkGet(nt) + "-PCNCHUNK|CpC")
    if (misc.useEntityTypeSequences) g1.add("null-null-ETSEQ|CpC")  // (:1606-1608)
    if (misc.useURLSequences) g1.add("null-null-URLSEQ|CpC")        // (:1609-1611)
    // useNextSequences: the reference's CnC "next clique" folds into the CpC
    // FACTOR — getCliqueFeatures(loc, cliqueCpC) also calls
    // featuresCnC(cInfo, loc-1) suffixed "|CnC" (NERFeatureFactory.java:
    // 433-437,1917-1930). The label window of CnC at loc-1 = {loc-1, loc} =
    // exactly CpC's at loc, so these are plain extra feature strings in the
    // same factor, with the word read at the SHIFTED position loc-1 (the
    // reference passes loc-1 and reads cInfo.get(loc); getString pad -> "").
    if (misc.useNextSequences) {
      g1.add("NSEQ|CnC")
      g1.add(pWord + "-NSEQW|CnC")
    }

    // ---- group 2: Cp2C (empty under preset) + CpCp2C ----
    val g2 = new java.util.LinkedHashSet[String]()
    if (misc.useAbbr)                                          // useAbbr (:1789-1791)
      g2.add("null-null-null-2PABBRANS|CpCp2C")
    if (misc.useChunks)                                        // useChunks (:1792-1794)
      g2.add(chunkGet(p2) + "-" + chunkGet(p) + "-" + chunkGet(c) + "-2PCHUNKS|CpCp2C")
    g2.add("PPSEQ|CpCp2C")                                    // useLongSequences (:1796)
    if (pWord == Boundary) g2.add("BNDRY-SPAN-PPSEQ|CpCp2C")  // useBoundarySequences (:1799)
    if (useTaggySeq && useTags) {                              // useTaggySequences (:1812-1818)
      g2.add(tagGS(p2) + "-" + tagGS(p) + "-" + tagGS(c) + "-TTS|CpCp2C")
      if (misc.useTaggySequencesShapeInteraction)
        g2.add(tagGS(p2) + "-" + tagGS(p) + "-" + tagGS(c) + "-" + shapeGet(c) + "-TTS-CS|CpCp2C")
    }
    if (useTaggySeq && useDistSim) {                           // (:1819-1824) — round-3 audit:
      // DISTSIM_TTS1 was MISSING for taggy+distsim models (no leg combined them)
      g2.add(dsGet(p2) + "-" + dsGet(p) + "-" + dsGet(c) + "-DISTSIM_TTS1|CpCp2C")
      if (misc.useTaggySequencesShapeInteraction)
        g2.add(dsGet(p2) + "-" + dsGet(p) + "-" + dsGet(c) + "-" + shapeGet(c) + "-DISTSIM_TTS1-CS|CpCp2C")
    }
    // Cp2C abbr constants (:1655-1661; the never-set AbbrAnnotation rule)
    if (misc.useMoreAbbr) g2.add("null-null-P2ABBRANS|Cp2C")
    if (misc.useMinimalAbbr) g2.add("null-null-P2AP2CABB|Cp2C")
    // useParenMatching on the Cp2C clique (:1669-1683): match at distance 2
    // only when distance 1 did NOT match (suffix |Cp2C — same factor group)
    if (parenMatching) {
      val hit = if (reverse)
        isOpen(cWord) && isClose(p2.word) && !isClose(pWord)
      else
        isClose(cWord) && isOpen(p2.word) && !isOpen(pWord)
      if (hit) g2.add("PAREN-MATCH|Cp2C")
    }
    g2.add(shapeGet(p2) + "-" + shapeGet(p) + "-" + shapeGet(c) + "-TYPETYPES|CpCp2C") // (:1827)
    // useNextSequences: featuresCpCnC(cInfo, loc-1) folds into the CpCp2C
    // factor (labels {loc-2..loc} ⊇ CpCnC's {loc-2, loc-1, loc} read at
    // loc-1), suffixed "|CpCnC" (:469-473,1933-1946); gated in the reference
    // by usePrev && useNext && useSequences && usePrevSequences too, all of
    // which our certified presets hold true
    if (misc.useNextSequences) {
      g2.add("PNSEQ|CpCnC")
      g2.add(pWord + "-PNSEQW|CpCnC")
    }

    Array(g0.toArray(new Array[String](g0.size)),
          g1.toArray(new Array[String](g1.size)),
          g2.toArray(new Array[String](g2.size)))
  }
}
