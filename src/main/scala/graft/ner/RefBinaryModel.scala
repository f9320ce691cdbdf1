package graft.ner

import java.nio.file.{Files, Paths}
import java.util.zip.GZIPInputStream

/** Loader for the reference's BINARY classifier serialization — the format
  * every published Stanford model file and every `-loadClassifier x.ser.gz`
  * invocation uses (CRFClassifier.serializeClassifier / loadClassifier,
  * /root/reference/src/edu/stanford/nlp/ie/crf/CRFClassifier.java:1541-1612;
  * gzip by extension, IOUtils.writeStreamFromString). A user with a stock
  * `.ser.gz` model can now run it on this engine directly.
  *
  * Stream contents, in order (loadClassifier, CRFClassifier.java:1584-1612):
  *   Index<CRFLabel>[] labelIndices; Index<String> classIndex;
  *   Index<String> featureIndex; SeqClassifierFlags flags;
  *   FeatureFactory featureFactory; int windowSize (raw writeInt);
  *   double[][] weights; Set<String> knownLCWords.
  * Parsed generically by JavaSerial (no reference classes on the classpath),
  * then assembled exactly like the text bridge (RefModelAssembly).
  *
  * The flags bundle is VALIDATED, not ignored: a model trained with
  * template-changing flags outside the implemented set would silently
  * mistag — reject it loudly instead. Gazettes, distsim, POS-tag families,
  * occurrence patterns and useReverse all load and validate.
  */
object RefBinaryModel {

  import JavaSerial._

  /** @param extraKnownLC words to grow knownLCWords with at load time (the
    *   reference grows the serialized set with test-corpus words during its
    *   ObjectBankWrapper pre-pass, ObjectBankWrapper.java:46-68; supply the
    *   corpus-side words for exact tag parity, or nothing for frozen-set use).
    */
  def load(path: String, extraKnownLC: Set[String] = Set.empty): NerModel = {
    val raw = Files.newInputStream(Paths.get(path))
    val in = if (path.endsWith(".gz")) new GZIPInputStream(raw) else raw
    try {
      val r = new Reader(in)
      val labelIdxArr = r.readObject().asInstanceOf[Array[Any]]
      val classIdxObj = r.readObject().asInstanceOf[JObj]
      val featIdxObj = r.readObject().asInstanceOf[JObj]
      val flags = r.readObject().asInstanceOf[JObj]
      val factory = r.readObject().asInstanceOf[JObj]
      val windowSize = r.readBlockInt()
      val weightsArr = r.readObject().asInstanceOf[Array[Any]]
      val knownLCObj = r.readObject()

      validateFlags(flags, factory, windowSize)

      def indexObjects(v: Any): Vector[Any] = {
        val o = v.asInstanceOf[JObj]
        require(o.className == "edu.stanford.nlp.util.Index", s"expected Index, got ${o.className}")
        asList(o("objects"))
      }
      val labelWindows: Array[Array[Array[Int]]] = labelIdxArr.map { idx =>
        indexObjects(idx).map { lbl =>
          val o = lbl.asInstanceOf[JObj]
          require(o.className == "edu.stanford.nlp.ie.crf.CRFLabel", o.className)
          o("label").asInstanceOf[Array[Int]].clone()
        }.toArray
      }
      val classIndex = indexObjects(classIdxObj).map(_.asInstanceOf[String]).toArray
      val featStrings = indexObjects(featIdxObj).map(_.asInstanceOf[String]).toArray
      val weights = weightsArr.map(_.asInstanceOf[Array[Double]])
      val knownLC = asSet(knownLCObj).map(_.asInstanceOf[String]).toSet

      val normalizeTerms = flags.fields.get("normalizeTerms").contains(true)
      val occPatterns = flags.fields.get("useOccurrencePatterns").contains(true)
      val reverse = flags.fields.get("useReverse").contains(true)
      val distSim =
        if (!flags.fields.get("useDistSim").contains(true)) None
        else factory.fields.get("lexicon").filter(_ != null).map { m =>
          new DistSim(asMap(m).map { case (k, v) =>
            k.asInstanceOf[String] -> v.asInstanceOf[String]
          }.toMap)
        }
      val useTags = flags.fields.get("useTags").contains(true)
      val useTaggySeq = flags.fields.get("useTaggySequences").contains(true)
      val paren = flags.fields.get("useParenMatching").contains(true)
      // useNGrams value-shaping options flow into the model (all supported;
      // maxNGramLeng may arrive as Int)
      val ngram = NerFeatures.NgramOpts(
        maxLen = flags.fields.get("maxNGramLeng").collect { case i: Int => i }.getOrElse(-1),
        noMid = flags.fields.get("noMidNGrams").contains(true),
        lowercase = flags.fields.get("lowercaseNGrams").contains(true),
        dehyphenate = flags.fields.get("dehyphenateNGrams").contains(true),
        greekify = flags.fields.get("greekifyNGrams").contains(true),
        conjoinShapes = flags.fields.get("conjoinShapeNGrams").contains(true))
      val disjWidth = flags.fields.get("disjunctionWidth").collect { case i: Int => i }.getOrElse(4)
      def flag(n: String): Boolean = flags.fields.get(n).contains(true)
      val misc = NerFeatures.MiscOpts(flag("useTitle"), flag("usePosition"),
        flag("useBeginSent"), flag("useSymWordPairs"), flag("useFirstWord"), flag("useOrdinal"),
        flag("useMoreTags"), flag("useEitherSideWord"), flag("useWordTag"),
        flag("useEitherSideDisjunctive"), flag("useExtraTaggySequences"),
        flag("useTypeSeqs3"), flag("useTaggySequencesShapeInteraction"),
        flag("useSymTags"), flag("usePrevVB"), flag("useNextVB"), flag("useVB"),
        flag("useShapeConjunctions"), flag("useNextSequences"),
        flag("useWideDisjunctive"),
        // absent-field fallback = the reference DEFAULT 10
        // (SeqClassifierFlags.java:194), not MiscOpts' 4 (round-4 advice; the
        // field is always serialized in stock models, so this only matters
        // for variant classdescs)
        flags.fields.get("wideDisjunctionWidth").collect { case i: Int => i }.getOrElse(10),
        flag("useDisjShape"), flag("useDisjunctiveShapeInteraction"),
        flag("useLemmas"), flag("usePrevNextLemmas"),
        flag("useChunks"), flag("useChunkySequences"),
        flag("useUnknown"),
        flag("useAbbr"), flag("useMinimalAbbr"),
        flag("useABGENE"), flag("useABSTR"), flag("useABSTRFreq"),
        flag("useABSTRFreqDict"), flag("useGENIA"), flag("useWEB"),
        flag("useWEBFreqDict"), flag("useIsURL"), flag("useEntityRule"),
        flag("useEntityTypes"), flag("useIsDateRange"), flag("useFREQ"),
        flag("useEntityTypeSequences"), flag("useURLSequences"),
        flag("useMUCFeatures"), flag("useClassFeature"), flag("useMoreAbbr"),
        flag("useGenericFeatures"),
        flag("useNPHead"), flag("useNPGovernor"), flag("useHeadGov"))
      // useGenericFeatures' producer is the column map itself: any key
      // unknown to AnnotationLookup is a generic annotation, and the
      // CoreLabel collapse quirk leaves exactly one effective key
      // (RefMapKeys.effectiveGenericKey)
      val genKey =
        if (flag("useGenericFeatures"))
          flags.fields.get("map").collect { case s: String => s }
            .flatMap(RefMapKeys.effectiveGenericKey)
        else None
      RefModelAssembly.build(labelWindows, classIndex, featStrings, windowSize,
        weights, knownLC ++ extraKnownLC, NerFeatures.Spec(gazetteOf(factory), normalizeTerms,
          occPatterns, reverse, distSim, useTags, useTaggySeq, paren, ngram, disjWidth, misc, genKey))
    } finally in.close()
  }

  /** Reconstruct the gazette from the factory's serialized lookup maps
    * (wordToGazetteEntries / wordToGazetteInfos — exactly the state readGazette
    * builds, NERFeatureFactory.java:682-727); empty maps = no gazette.
    */
  private def gazetteOf(factory: JObj): Gazette = {
    val sloppy = factory.fields.get("wordToGazetteEntries").filter(_ != null).map { m =>
      asMap(m).map { case (k, v) =>
        k.asInstanceOf[String] -> asSet(v).map(_.asInstanceOf[String]).toArray
      }.toMap
    }.getOrElse(Map.empty[String, Array[String]])
    val clean = factory.fields.get("wordToGazetteInfos").filter(_ != null).map { m =>
      asMap(m).map { case (k, v) =>
        k.asInstanceOf[String] -> asSet(v).map { gi =>
          val o = gi.asInstanceOf[JObj]
          Gazette.CleanEntry(
            o("loc").asInstanceOf[Int],
            o("words").asInstanceOf[Array[Any]].map(_.asInstanceOf[String]),
            o("feature").asInstanceOf[String])
        }.toArray
      }.toMap
    }.getOrElse(Map.empty[String, Array[Gazette.CleanEntry]])
    if (sloppy.isEmpty && clean.isEmpty) Gazette.empty else new Gazette(sloppy, clean)
  }

  /** Reject models whose flags select feature templates outside our
    * implemented (conllNoTags) set. Boolean field expectations; a missing
    * field (older/newer flag versions) passes — the stream's own classdesc
    * governs what exists.
    */
  private def validateFlags(flags: JObj, factory: JObj, windowSize: Int): Unit = {
    require(flags.className == "edu.stanford.nlp.sequences.SeqClassifierFlags", flags.className)
    require(factory.className == "edu.stanford.nlp.ie.NERFeatureFactory",
      s"unsupported feature factory ${factory.className} (only NERFeatureFactory templates are implemented)")
    // useGazettes, useOccurrencePatterns (incl. the NNP-gated variants),
    // useReverse, useDistSim, useTags and useTaggySequences ARE all supported
    // (gazette maps / distsim lexicon reconstructed from the serialized
    // factory; occurrence scans honor reverse indexing)
    // A model trained WITHOUT one of our template families is fine: the
    // features we emit for it hash-miss the model's dictionary and drop —
    // exactly the reference's own unseen-feature rule (CRFClassifier.java:
    // 200-207) — so the encodings stay identical. Validation is only needed
    // the other way round: flags whose templates the MODEL contains but this
    // engine cannot emit, and flags that change feature VALUES rather than
    // presence.
    // COMPLETE closure over NERFeatureFactory's feature-emitting flags
    // (round-3 audit: every flags.useX read by featuresC/CpC/CpCp2C that this
    // engine does not emit and no certified preset sets - a model trained
    // with any of these has dictionary features we cannot produce, which
    // would silently drift scores instead of failing loudly)
    // useAbbr / useMinimalAbbr are IMPLEMENTED (round 5) as the
    // constant-"null" emissions they degenerate to (nothing in this source
    // drop ever sets AbbrAnnotation); the XX-gated useAbbr1/useMinimalAbbr1
    // NPE in the reference itself (NERFeatureFactory.java:1053) so no model
    // trained with them can exist — reject loudly
    // Round 5 shrank this list to its irreducible core. Implemented since:
    // lemma families (data-driven, getString-suppressed), chunk families
    // (data-driven, get->"null"), useAbbr/useMinimalAbbr/useMoreAbbr +
    // the ABGENE/ABSTR*/GENIA/WEB*/IsURL/EntityRule/EntityTypes/
    // IsDateRange/FREQ/ETSEQ/URLSEQ/MUC families + useClassFeature — all of
    // whose annotations have NO producer anywhere in this source drop, so
    // their templates are the constant strings we now emit. Still rejected:
    // parse-annotation families (useNPHead/useNPGovernor/useHeadGov — Tree
    // head/governor values), the XX-gated abbr variants (NPE in the
    // reference itself, NERFeatureFactory.java:1053,1664), gazette
    // ANNOTATION families (GazAnnotation.equals NPEs without a producer,
    // :1025-1045), and useGenericFeatures (arbitrary per-column generic
    // annotations). useUnknown came OFF this list in round 5: the
    // true-casing reader's seen-once producer is implemented
    // (TrueCasing.readCorpus), the family is data-driven via Tok.unknown
    // with raw-get "null" degeneration on plain column data. So did
    // useGenericFeatures (producer = the column map, reduced to the single
    // effective key by the CoreLabel.initFromStrings collapse quirk,
    // RefMapKeys) and useNPHead/useNPGovernor/useHeadGov (pure-concat
    // templates over producer-less tree annotations — constant/semi-constant
    // degenerations, NERFeatureFactory.java:1140-1163). The list is now the
    // irreducible NPE core: families where the reference itself crashes
    // without a producer, so no trained model can exist.
    val mustBeFalse = Seq(
      "useAbbr1", "useMinimalAbbr1",
      "useGazFeatures", "useMoreGazFeatures")
    for (f <- mustBeFalse; v <- flags.fields.get(f)) v match {
      case b: Boolean => require(!b,
        s"model was trained with -$f: that feature family is not in this engine's template set")
      case _ => ()
    }
    // value-changing flags: a mismatch silently alters feature strings.
    // (noMidNGrams / maxNGramLeng / lowercaseNGrams / dehyphenateNGrams /
    // greekifyNGrams / conjoinShapeNGrams are all SUPPORTED and flow into the
    // model's NgramOpts.)
    // maxLeft 2 is the full certified surface; maxLeft 1 (windowSize-2)
    // models load too — the reference emits a strict SUBSET of the maxLeft-2
    // feature surface there (every flags.maxLeft read in NERFeatureFactory is
    // gated `>= 2`/`>= 3` or `> 0`), so our emitter's extra strings hash-miss
    // the dictionary and drop, the standard unseen-feature rule. Pinned by
    // RefLatticeSpec's maxLeft-1 tag + lattice differentials.
    for (v <- flags.fields.get("maxLeft")) {
      require(v == 1 || v == 2, s"maxLeft $v not in {1, 2}")
      require(v == windowSize - 1, s"maxLeft $v inconsistent with windowSize $windowSize")
    }
    // 3 = dan2UseLC (the implemented shaper); -1 = NOWORDSHAPE loads too,
    // but ONLY when no shape string can be in the dictionary: the main shape
    // families are gated on `wordShape > NOWORDSHAPE || useShapeStrings`
    // (NERFeatureFactory.java:1234,1394), but seven families read the shape
    // annotation gated ONLY by their own flag — with shapes off those emit
    // "null"/"" strings that ARE dictionary entries, which our dan2-based
    // emissions would hash-miss and silently drop. So -1 requires that whole
    // closure off (NERFeatureFactory.java:1123 useShapeConjunctions, :1297
    // and :1444 useDisjShape, :1321 useMUCFeatures, :1361 conjoinShapeNGrams,
    // :1428-1432 useDisjunctiveShapeInteraction, :1577,:1639
    // useTypeySequences, :1816+ useTaggySequencesShapeInteraction). Any OTHER
    // shaper would have put differently-shaped strings in the dictionary.
    for (v <- flags.fields.get("wordShape")) {
      require(v == 3 || v == -1,
        s"wordShape $v not in {3 (dan2useLC), -1 (off)} — shape function mismatch")
      if (v == -1) {
        val shapeReaders = Seq("useShapeStrings", "useTypeySequences", "useDisjShape",
          "useDisjunctiveShapeInteraction", "conjoinShapeNGrams",
          "useTaggySequencesShapeInteraction", "useMUCFeatures", "useShapeConjunctions")
        for (f <- shapeReaders; b <- flags.fields.get(f)) require(b != true,
          s"wordShape off but -$f reads the shape annotation ungated — its 'null'-shape " +
            "dictionary features would be silently dropped by this engine's dan2 emissions")
      }
    }
    // disjunctionWidth / wideDisjunctionWidth / useWideDisjunctive /
    // useDisjShape / useDisjunctiveShapeInteraction are all supported and
    // flow into the model (round 4)
  }
}
