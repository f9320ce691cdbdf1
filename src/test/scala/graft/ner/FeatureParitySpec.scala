package graft.ner

import graft.core.Crf
import graft.pipeline.{SparkTestSession, Transcripts}
import graft.train.WeightLayout
import org.scalatest.funsuite.AnyFunSuite

/** Pins byte-identity between the string feature path (training) and the
  * hashing fast path (inference): same feature ids, same order, same tags.
  * The hashing path serves the conllNoTags preset only; a model with any
  * optional family must encode through the string path.
  */
class FeatureParitySpec extends AnyFunSuite {

  private val Classes = Array("O", "PERSON", "LOCATION")

  /** The dictionary of (feature, clique group) pairs in first-seen order,
    * its full-product 3-class layout and weights that are a pure function of
    * the id: the parts of a small option model. */
  private def dictModel(feats: Seq[(String, Int)])
      : (java.util.HashMap[String, Integer], WeightLayout, Array[Array[Double]]) = {
    val dict = new java.util.HashMap[String, Integer]()
    val groups = Array.newBuilder[Int]
    for ((f, g) <- feats if !dict.containsKey(f)) { dict.put(f, Integer.valueOf(dict.size)); groups += g }
    val featGroup = groups.result()
    val weights = Array.tabulate(featGroup.length) { id =>
      Array.tabulate(Crf.pow(Classes.length, featGroup(id) + 1))(c =>
        (graft.ops.Hashing.splitmix64(id * 31L + c) % 1000) / 1000.0)
    }
    (dict, WeightLayout.fullProduct(Classes.length, 3, 0, featGroup), weights)
  }

  /** The features the string path emits over `toks` with `at`, group by group. */
  private def featsOf(toks: IndexedSeq[NerFeatures.Tok])(
      at: Int => Array[Array[String]]): Seq[(String, Int)] =
    for (pos <- toks.indices; g <- 0 until 3; f <- at(pos)(g)) yield (f, g)

  private def viterbi(m: NerModel, enc: Crf.EncodedDoc): Seq[String] =
    Crf.viterbi(Crf.logPotentials(enc, m.params), m.params).map(m.classIndex).toSeq

  /** An option model's raw-word entry points run the string path:
    * `encodeFast` equals `encode(preprocess(words))` position by position
    * and group by group, `tag` is Viterbi over it, and the unary memo stays
    * empty. */
  private def assertStringPath(m: NerModel, words: IndexedSeq[String]): Unit = {
    assert(!m.hashesFeatures)
    assertParity(m, words)
    assert(m.tag(words).toSeq == viterbi(m, m.encode(m.preprocess(words))))
    assert(m.unaryMemo.size == 0, "an option model filled the unary memo")
  }

  /** A fresh instance of `m` (empty memos); `permute` reverses its feature
    * ids (rows and groups follow), so it tags like `m` with other ids. */
  private def copyOf(m: NerModel, permute: Boolean = false): NerModel = {
    val n = m.featureIndex.size
    def perm(f: Int) = if (permute) n - 1 - f else f
    val fi = new java.util.HashMap[String, Integer](n * 2)
    m.featureIndex.forEach((k, v) => fi.put(k, Integer.valueOf(perm(v.intValue))))
    val featGroup = new Array[Int](n)
    val weights = new Array[Array[Double]](n)
    for (f <- 0 until n) { featGroup(perm(f)) = m.layout.featGroup(f); weights(perm(f)) = m.weights(f) }
    val l = m.layout
    new NerModel(m.classIndex, m.backgroundIndex, fi,
      new WeightLayout(l.numClasses, l.windowSize, l.backgroundIndex, featGroup, l.weightCol),
      weights, m.knownLC, m.features)
  }

  private def assertParity(m: NerModel, words: IndexedSeq[String]): Unit = {
    val slow = m.encode(m.preprocess(words))
    val fast = m.encodeFast(words)
    assert(slow.length == fast.length)
    for (pos <- slow.indices; g <- 0 until 3)
      assert(slow(pos)(g).toSeq == fast(pos)(g).toSeq, s"pos=$pos g=$g words=$words")
  }

  test("fnv streaming hash equals whole-string hash") {
    for (s <- Seq("", "a", "#<Alice>#|C", "WT-Xx-...-PCNTYPE|C", "--PSEQpcDS|CpC"))
      assert(NerFeaturesFast.fnv(s) == graft.ops.Hashing.fnv1a64(s), s)
  }

  test("encodeFast equals encode on 500 generated turns") {
    val model = NerModels.default(SparkTestSession.spark).value
    var positions = 0
    for (conv <- 0L until 120L; t <- 0 until Transcripts.numTurns(7L, conv)) {
      val (words, _) = Transcripts.turnTokens(7L, conv, t)
      val slow = model.encode(model.preprocess(words))
      val fast = model.encodeFast(words)
      assert(slow.length == fast.length)
      for (pos <- slow.indices; g <- 0 until 3) {
        assert(slow(pos)(g).toSeq == fast(pos)(g).toSeq,
          s"conv=$conv t=$t pos=$pos g=$g words=$words\nslow=${slow(pos)(g).toSeq}\nfast=${fast(pos)(g).toSeq}")
        positions += 1
      }
    }
    assert(positions > 1000)
  }

  /** The tail every preset template's string ends in, per clique group: its
    * name with the group suffix ("#|C" for the n-grams; the three constants
    * whole). */
  private val PresetTails = Seq(
    Seq("#|C", "-WORD|C", "-PW|C", "-NW|C", "-W-PW|C", "-W-NW|C", "-TYPE|C", "-PTYPE|C",
      "-NTYPE|C", "-PW_CTYPE|C", "-NW_CTYPE|C", "-PCTYPE|C", "-CNTYPE|C", "-PCNTYPE|C",
      "-PPW_CTYPE|C", "-NNW_CTYPE|C", "-DISJN|C", "-DISJP|C"),
    Seq("PSEQ|CpC", "-PSEQW|CpC", "-PSEQW2|CpC", "-PSEQpW|CpC", "-PSEQpDS|CpC", "-PSEQcDS|CpC",
      "-PSEQpcDS|CpC", "-PSEQpS|CpC", "-PSEQcS|CpC", "-PSEQpcS|CpC", "-TYPES|CpC", "-TPS2|CpC",
      "-TNS1|CpC"),
    Seq("PPSEQ|CpCp2C", "BNDRY-SPAN-PPSEQ|CpCp2C", "-TYPETYPES|CpCp2C"))

  /** Sentences whose words spell template punctuation and names, repeat
    * within the disjunction width, or are so short that the pad repeats. */
  private val Adversarial: Seq[IndexedSeq[String]] = Seq(
    Vector("a-b", "W-PW", "-PW", "x-W", "-W-PW", "PW", "-NW", "W-NW", "."),
    Vector("...", "a...b", "Xx...", "...-PW_CTYPE", "Xx", "-CTYPE", "CTYPE", "PCTYPE"),
    Vector("#", "#<a#", "|C", "a|C", "#|C", "-WORD|C", "WORD", "|CpC", "-"),
    Vector("PSEQ", "-PSEQ", "PSEQ|CpC", "PPSEQ", NerFeatures.Boundary, "BNDRY-SPAN", "x"),
    Vector(NerFeatures.Boundary, NerFeatures.Boundary, "-", "--", "-", "DISJN", "-DISJP", "-"),
    Vector("the", "cat", "the", "dog", "the", "the", "a", "cat", "a", "the"),
    Vector("Alice", "Alice", "Alice", "Alice", "Alice", "Alice", "Alice", "Alice", "Alice", "Alice"),
    Vector("x"), Vector(""), Vector("the", "the"), Vector("-", "...", "-"),
    Vector(NerFeatures.Boundary), Vector("Johnson", NerFeatures.Boundary, "Johnson"))

  test("template tails: none ends another's apart from PW, NW and PPSEQ; the string path emits no other") {
    val allowed = Set("-PW|C" -> "-W-PW|C", "-NW|C" -> "-W-NW|C", "PPSEQ|CpCp2C" -> "BNDRY-SPAN-PPSEQ|CpCp2C")
    for (tails <- PresetTails; a <- tails; b <- tails if a != b && b.endsWith(a))
      assert(allowed(a -> b), s"$a ends $b")
    // every feature the string path emits on adversarial and generated
    // words ends in a tail of its group: the list is the preset's
    val gen = for (conv <- 0L until 20L; t <- 0 until Transcripts.numTurns(3L, conv))
      yield Transcripts.turnTokens(3L, conv, t)._1
    val pre = NerModels.default(SparkTestSession.spark).value
    for (words <- Adversarial ++ gen; toks = pre.preprocess(words); pos <- toks.indices;
         (feats, g) <- NerFeatures.featuresAt(toks, pos).zipWithIndex; f <- feats)
      assert(PresetTails(g).exists(f.endsWith), s"group $g feature $f")
  }

  test("encodeFast equals encode on adversarial words, with every feature in the dictionary") {
    // a preset model whose dictionary holds every string the adversarial
    // sentences emit, so no duplicate or missing hash can hide as unseen
    val d = copyOf(NerModels.default(SparkTestSession.spark).value)
    val toks = Adversarial.map(d.preprocess)
    val (dict, layout, weights) = dictModel(toks.flatMap(t => featsOf(t)(pos => NerFeatures.featuresAt(t, pos))))
    val m = new NerModel(Classes, 0, dict, layout, weights, d.knownLC)
    assert(m.hashesFeatures)
    for (words <- Adversarial) {
      assertParity(m, words)
      val all = m.encodeFast(words)
      for (pos <- all.indices; g <- 0 until 3)
        assert(all(pos)(g).length == NerFeatures.featuresAt(m.preprocess(words), pos)(g).length,
          s"an emitted feature went unresolved: pos=$pos g=$g words=$words")
    }
    // and through the default model's own dictionary
    Adversarial.foreach(assertParity(d, _))
  }

  test("giant tokens (>2048 chars) tag without scratch-buffer overflow and keep parity") {
    // Round-1 review finding: fixed 4096-entry scratch buffers overflowed on
    // tokens >= ~2030 chars (the ngram family emits ~2x token-length hashes;
    // the tokenizer places no bound on alphanumeric run length). The buffers
    // now grow on demand; parity with the string path must hold throughout.
    val model = NerModels.default(SparkTestSession.spark).value
    val giant = "x" * 2500 + "7f" * 10 // 2520-char pseudo-base64 blob
    val words = Vector("Alice", "Johnson", "pasted", giant, "into", "the", "chat", ".")
    val slow = model.encode(model.preprocess(words))
    val fast = model.encodeFast(words)
    for (pos <- slow.indices; g <- 0 until 3)
      assert(slow(pos)(g).toSeq == fast(pos)(g).toSeq, s"pos=$pos g=$g")
    val tags = model.tag(words) // must not throw
    assert(tags.length == words.length)
    assert(tags(0) == "PERSON" && tags(1) == "PERSON")
    // and an even longer one straight through tag()
    assert(model.tag(Vector("see", "a" * 9000, ".")).length == 3)
  }

  test("ngram options: dehyphenate quirks; string path == fast path under every option") {
    import graft.text.WordShape
    // dehyphenate goldens hand-traced through NERFeatureFactory.java:540-555
    // (the leng-2 bound uses the ORIGINAL length; scan resumes at the removal
    // index, so runs of hyphens collapse; the padded trailing hyphen stays)
    assert(NerFeatures.dehyphenate("<a-b>") == "<ab>")
    assert(NerFeatures.dehyphenate("<x-->") == "<x>")
    assert(NerFeatures.dehyphenate("<ab->") == "<ab->") // ending hyphen kept
    assert(NerFeatures.dehyphenate("<-ab>") == "<-ab>") // scan starts at 2
    assert(NerFeatures.dehyphenate("<e-mail-id>") == "<emailid>")

    // greekify goldens (NERFeatureFactory.java:557-566: fixed alternation -> '~')
    assert(NerFeatures.greekify("<alphabet>") == "<~bet>")
    assert(NerFeatures.greekify("<tnf-alpha>") == "<tnf-~>")
    assert(NerFeatures.greekify("<betagamma>") == "<~~>")
    assert(NerFeatures.greekify("<plain>") == "<plain>")

    // ngram emission goldens: maxLen + noMid + lowercase on "<Ab-c>"
    val ng = NerFeatures.NgramOpts(maxLen = 3, noMid = false, lowercase = true, dehyphenate = true)
    val toks = Vector("Ab-c").map(w => NerFeatures.Tok(w, WordShape.dan2(w, Set.empty)))
    val g0 = NerFeatures.featuresAt(toks, 0, NerFeatures.Spec(ngramOpts = ng))(0)
    val ngrams = g0.filter(f => f.startsWith("#") && f.endsWith("|C")).toSet
    // "<Ab-c>" -> lowercase "<ab-c>" -> dehyphenate "<abc>"; all substrings
    // of length 2..3 (noMid off)
    assert(ngrams == Set("#<a#|C", "#<ab#|C", "#ab#|C", "#abc#|C", "#bc#|C", "#bc>#|C",
      "#c>#|C"), s"got $ngrams")

    // an option model encodes through the string path under every option,
    // over mixed-case/hyphen words
    val words = Vector("Alice", "e-mail", "ACME-Corp", "x", "a-b-c-d", "tnf-alpha", ".")
    val toks2 = words.map(w => NerFeatures.Tok(WordShape.fixWord(w), WordShape.dan2(w, Set.empty)))
    for (opt <- Seq(
      NerFeatures.NgramOpts(maxLen = 4),
      NerFeatures.NgramOpts(noMid = false),
      NerFeatures.NgramOpts(maxLen = 3, noMid = false, lowercase = true),
      NerFeatures.NgramOpts(maxLen = 5, dehyphenate = true),
      NerFeatures.NgramOpts(maxLen = 4, noMid = false, lowercase = true, dehyphenate = true),
      NerFeatures.NgramOpts(maxLen = 4, greekify = true, conjoinShapes = true),
      NerFeatures.NgramOpts(noMid = false, conjoinShapes = true))) {
      // dictionary from the string path's own output
      val (dict, layout, weights) = dictModel(featsOf(toks2)(pos =>
        NerFeatures.featuresAt(toks2, pos, NerFeatures.Spec(ngramOpts = opt))))
      val m = new NerModel(Classes, 0, dict, layout, weights, Set.empty, NerFeatures.Spec(ngramOpts = opt))
      assertStringPath(m, words)
    }
  }

  test("misc families: title/ordinal goldens; string path == fast path with all six on") {
    import graft.text.WordShape
    // titlePattern (NERFeatureFactory.java:746): optional trailing period
    assert(NerFeatures.isTitleWord("Dr") && NerFeatures.isTitleWord("Dr."))
    assert(NerFeatures.isTitleWord("Mrs") && !NerFeatures.isTitleWord("dr"))
    assert(!NerFeatures.isTitleWord("Doctor"))
    // isOrdinal (:631-668): spelled ordinals, number+suffix pairs, hyphen join
    def toksOf(ws: String*) = ws.toIndexedSeq.map(w => NerFeatures.Tok(w, WordShape.dan2(w, Set.empty)))
    val t1 = toksOf("the", "3", "rd", "place", "twenty-first", "17th", "-")
    assert(!NerFeatures.isOrdinal(t1, 0))
    assert(NerFeatures.isOrdinal(t1, 1), "number followed by ordinal suffix")
    assert(NerFeatures.isOrdinal(t1, 2), "suffix preceded by number")
    assert(!NerFeatures.isOrdinal(t1, 3))
    assert(NerFeatures.isOrdinal(t1, 4), "hyphen-joined spelled ordinal")
    assert(NerFeatures.isOrdinal(t1, 5), "digits+th")
    val t2 = toksOf("first", "-", "second")
    assert(NerFeatures.isOrdinal(t2, 1), "'-' between two ordinals")

    val words = Vector("Dr", "Smith", "won", "3", "rd", "place", "twenty-first", ".")
    val tags = Vector("NNP", "NNP", "VB", "CD", "NN", "NN", "JJ", ".")
    val toks = toksOf(words: _*).zip(tags).zipWithIndex.map { case ((t, tg), i) =>
      // lemma on alternate tokens only: the getString suppression path
      // (no feature for lemma-less tokens) must agree between the two paths
      t.copy(tag = tg, ds = if (i % 2 == 0) s"C_$i" else null,
        lemma = if (i % 2 == 1) t.word.toLowerCase + "_lm" else null,
        chunk = if (i % 3 != 2) s"CH$i" else null,
        // unknown on a strict subset: raw-get semantics (absent -> "null")
        // must agree between the two paths
        unknown = if (i % 3 == 0) "true" else if (i % 3 == 1) "false" else null,
        // generic: pre-joined "<value>-<key>" on a subset (null = no emission)
        generic = if (i % 2 == 0) s"v$i-mycol" else null) }
    val misc = NerFeatures.MiscOpts(useTitle = true, usePosition = true, useBeginSent = true,
      useSymWordPairs = true, useFirstWord = true, useOrdinal = true,
      useMoreTags = true, useEitherSideWord = true, useWordTag = true,
      useEitherSideDisjunctive = true, useExtraTaggySequences = true,
      useTypeSeqs3 = true, useTaggySequencesShapeInteraction = true,
      useSymTags = true, usePrevVB = true, useNextVB = true, useVB = true,
      useShapeConjunctions = true, useNextSequences = true,
      useWideDisjunctive = true, wideDisjunctionWidth = 2,
      useDisjShape = true, useDisjunctiveShapeInteraction = true,
      useLemmas = true, usePrevNextLemmas = true,
      useChunks = true, useChunkySequences = true, useUnknown = true,
      useAbbr = true, useMinimalAbbr = true, useMoreAbbr = true,
      useABGENE = true, useABSTR = true, useABSTRFreq = true,
      useABSTRFreqDict = true, useGENIA = true, useWEB = true,
      useWEBFreqDict = true, useIsURL = true, useEntityRule = true,
      useEntityTypes = true, useIsDateRange = true, useFREQ = true,
      useEntityTypeSequences = true, useURLSequences = true,
      useMUCFeatures = true, useClassFeature = true, useGenericFeatures = true,
      useNPHead = true, useNPGovernor = true, useHeadGov = true)
    val clusters = new DistSim(words.indices.collect { case i if i % 2 == 0 => words(i).toLowerCase -> s"C_$i" }.toMap)
    val spec = NerFeatures.Spec(distSim = Some(clusters), useTags = true, useTaggySequences = true,
      miscOpts = misc, genericKey = Some("mycol"))
    val (dict, layout, weights) = dictModel(featsOf(toks)(pos => NerFeatures.featuresAt(toks, pos, spec)))
    assert(dict.containsKey("true-UNKNOWN|C") && dict.containsKey("false-NUNKNOWN|C") &&
      dict.containsKey("null-PUNKNOWN|C")) // useUnknown raw-get incl. the pad "null"
    assert(dict.containsKey("v0-mycol|C") && !dict.containsKey("v1-mycol|C"),
      "useGenericFeatures: emit only for generic-bearing tokens")
    // NP-head/governor degenerations: constants + tag/distsim semi-constants
    assert(dict.containsKey("null-HW|C") && dict.containsKey("null-GW|C") &&
      dict.containsKey("null-null-HW_GW|C"))
    assert(dict.containsKey("null-NNP-HW-T|C") && dict.containsKey("null-NNP-GW-T|C"))
    assert(dict.containsKey("null-C_0-HW-DISTSIM|C") && dict.containsKey("null-null-DISTSIM-T1|C"))
    assert(dict.containsKey("IS_TITLE|C") && dict.containsKey("C_ORDINAL|CpC") &&
      dict.containsKey("0-POSITION|C") && dict.containsKey("BEGIN-SENT|C") &&
      dict.containsKey("Dr|C")) // useFirstWord: the raw first word
    assert(dict.containsKey("Smith-NNP-W-T|C") && dict.containsKey("Dr-EW|C") &&
      dict.containsKey("NNP-Smith-PTAG-CWORD|C") && dict.containsKey("Smith-DISJWE|C"))
    // extra taggy (C clique), typeSeqs3 (CpC), taggy-shape interaction +
    // the previously-missing DISTSIM_TTS1 (CpCp2C)
    assert(dict.keySet.toArray.exists(_.toString.endsWith("-TTTS|C")))
    assert(dict.keySet.toArray.exists(_.toString.endsWith("-PCNSHAPES|CpC")))
    assert(dict.keySet.toArray.exists(_.toString.endsWith("-TTS-CS|CpCp2C")))
    assert(dict.keySet.toArray.exists(_.toString.endsWith("-DISTSIM_TTS1|CpCp2C")))
    // symTags, VB scans (nearest VB each side; X at pads), shape conjunctions
    assert(dict.keySet.toArray.exists(_.toString.endsWith("-PCNTAGS|C")))
    assert(dict.containsKey("X-PVB|C") && dict.containsKey("won-PVB|C") &&
      dict.containsKey("won-NVB|C") && dict.containsKey("X-NVB|C"))
    assert(dict.keySet.toArray.exists(_.toString.endsWith("-PNVB|C")))
    assert(dict.containsKey("P_ORDINAL|C"), "P_ORDINAL fires on prev-ordinal alone")
    assert(dict.keySet.toArray.exists(_.toString.endsWith("-POS-SH|C")))
    // useNextSequences: CnC folded into CpC (word at loc-1), CpCnC into CpCp2C
    assert(dict.containsKey("NSEQ|CnC") && dict.containsKey("Dr-NSEQW|CnC") &&
      dict.containsKey("-NSEQW|CnC"), "pad word at loc-1 reads as empty (getString)")
    assert(dict.containsKey("PNSEQ|CpCnC") && dict.containsKey("Smith-PNSEQW|CpCnC"))
    // wide disjunctive (own width), disjunctive shapes (get -> "null" pads),
    // and the disjunctive-shape interaction (cShape getString)
    assert(dict.containsKey("won-DISJWN|C") && dict.containsKey("Dr-DISJWP|C"))
    // lemma families (NERFeatureFactory.java:796-811): emitted only for
    // lemma-BEARING tokens; "smith_lm" sits at index 1 (lemma'd), "Dr" at 0 (not)
    assert(dict.containsKey("smith_lm-LEM|C") && dict.containsKey("smith_lm-PLEM|C") &&
      dict.containsKey("smith_lm-NLEM|C"))
    assert(!dict.keySet.toArray.exists(_.toString == "Dr-LEM|C"),
      "a lemma-less token must emit no LEM feature (getString suppression)")
    // chunk families: `get` semantics — missing chunks read as the literal
    // "null" (token 2 has none; the left pad too)
    assert(dict.containsKey("CH0-CH1-PCCHUNK|C") && dict.containsKey("CH1-null-CNCHUNK|C"))
    assert(dict.containsKey("null-CH0-PCCHUNK|C"), "left pad chunk reads as null")
    assert(dict.keySet.toArray.exists(_.toString.endsWith("-PCNCHUNK|CpC")))
    assert(dict.keySet.toArray.exists(_.toString.endsWith("-2PCHUNKS|CpCp2C")))
    // abbr constants (never-set AbbrAnnotation -> literal "null" strings)
    assert(dict.containsKey("null-ABBR|C") && dict.containsKey("null-null-PCABBR|C") &&
      dict.containsKey("Smith-null-CWABB|C") && dict.containsKey("null-null-PABBRANS|CpC") &&
      dict.containsKey("null-null-null-2PABBRANS|CpCp2C"))
    // the other no-producer constants, incl. the tag- and shape-conjoined
    // variants and the class bias feature
    assert(dict.containsKey("null-GENIA|C") && dict.containsKey("null-ISURL|C") &&
      dict.containsKey("null-null-ETSEQ|CpC") && dict.containsKey("null-null-URLSEQ|CpC") &&
      dict.containsKey("null-null-P2AP2CABB|Cp2C") && dict.containsKey("###|C"))
    assert(dict.containsKey("null-ABSTRACTnull-FREQNNP-TAG|C"),
      "ABSTRFreqDict conjoins the real POS tag")
    assert(dict.keySet.toArray.exists(_.toString.endsWith("-WORD_POSITION_SHAPE|C")),
      "MUC shape conjunction uses the real token shape")
    assert(dict.keySet.toArray.exists(_.toString.endsWith("-NDISJSHAPE|C")))
    assert(dict.keySet.toArray.exists(_.toString.contains("-CNDISJSHAPE|C")))
    assert(dict.containsKey("null-NDISJSHAPE|C"), "pad shape reads as the literal null (get)")
    assert(dict.keySet.toArray.exists(_.toString.endsWith("-DISJN-CS|C")) &&
      dict.keySet.toArray.exists(_.toString.endsWith("-DISJP-CS|C")))
    // the option model: raw words through the string path, and the POS
    // entry point's extra columns through `encode` on the full tokens
    val m = new NerModel(Classes, 0, dict, layout, weights, Set.empty, spec)
    assertStringPath(m, words)
    val generics = words.indices.map(i => s"v$i")
    val full = m.preprocess(words).zipWithIndex.map { case (t, i) =>
      t.copy(tag = tags(i), lemma = toks(i).lemma, chunk = toks(i).chunk, unknown = toks(i).unknown,
        generic = generics(i) + "-mycol")
    }
    assert(m.tag(words, tags, toks.map(_.lemma), toks.map(_.chunk), toks.map(_.unknown), generics).toSeq ==
      viterbi(m, m.encode(full)))
    assert(m.unaryMemo.size == 0)
  }

  test("gazette features: fast path == string path; sloppy vs clean semantics") {
    import graft.text.WordShape
    val lines = Seq("PERSON Alice Johnson", "PERSON Dr. Carla Garcia",
      "ORGANIZATION Acme Corp.", "ORGANIZATION Globex Inc.", "LOCATION Berlin")
    def toksOf(words: Seq[String]) =
      words.toIndexedSeq.map(w => NerFeatures.Tok(WordShape.fixWord(w), WordShape.dan2(w, Set.empty)))

    // a gazette model encodes through the string path, with a dictionary
    // built from the string path's own output
    val gaz = Gazette.parse(lines)
    val words = Vector("Dr.", "Carla", "Garcia", "met", "Acme", "Corp.", "in", "Berlin", ".")
    val toks = toksOf(words)
    val (dict, layout, weights) = dictModel(featsOf(toks)(pos => NerFeatures.featuresAt(toks, pos, NerFeatures.Spec(gaz))))
    assert(dict.containsKey("PERSON-GAZ3|C") && dict.containsKey("LOCATION-GAZ1|C"))
    assertStringPath(new NerModel(Classes, 0, dict, layout, weights, Set.empty, NerFeatures.Spec(gaz)), words)

    // sloppy: any phrase word fires TYPE-GAZn even without the full phrase
    val sloppyOnly = NerFeatures.Spec(Gazette.parse(lines, sloppyMode = true, cleanMode = false))
    val partial = toksOf(Vector("Acme", "Holdings", "hired", "Garcia", "."))
    assert(NerFeatures.featuresAt(partial, 0, sloppyOnly)(0).contains("ORGANIZATION-GAZ2|C"))
    assert(NerFeatures.featuresAt(partial, 3, sloppyOnly)(0).contains("PERSON-GAZ3|C"))
    // clean: fires only when the WHOLE phrase matches around the word
    val cleanOnly = NerFeatures.Spec(Gazette.parse(lines, sloppyMode = false, cleanMode = true))
    assert(!NerFeatures.featuresAt(partial, 0, cleanOnly)(0).exists(_.contains("-GAZ")))
    val full = toksOf(Vector("Dr.", "Carla", "Garcia", "left", "."))
    for (pos <- 0 to 2) // every phrase word fires at its offset
      assert(NerFeatures.featuresAt(full, pos, cleanOnly)(0).contains("PERSON-GAZ3|C"), s"pos=$pos")
    // phrase straddling the document start must NOT match padding
    val tail = toksOf(Vector("Garcia", "left", "."))
    assert(!NerFeatures.featuresAt(tail, 0, cleanOnly)(0).exists(_.contains("PERSON-GAZ3")))

    // model save/load round-trips the gazette trailer (v3)
    val m0 = NerModels.default(SparkTestSession.spark).value
    val withGaz = new NerModel(m0.classIndex, m0.backgroundIndex, m0.featureIndex,
      m0.layout, m0.weights, m0.knownLC, NerFeatures.Spec(gaz))
    val tmp = java.nio.file.Files.createTempFile("gazmodel", ".gz").toString
    NerModel.save(withGaz, tmp)
    val re = NerModel.load(tmp)
    assert(re.features.gazette.sloppy.view.mapValues(_.toSeq).toMap ==
      gaz.sloppy.view.mapValues(_.toSeq).toMap)
    assert(re.features.gazette.clean.view.mapValues(_.toSeq).toMap ==
      gaz.clean.view.mapValues(_.toSeq).toMap)
    java.nio.file.Files.delete(java.nio.file.Paths.get(tmp))
  }

  test("tagging via fast path matches gold on held-out turns") {
    val model = NerModels.default(SparkTestSession.spark).value
    var correct = 0L; var total = 0L
    for (conv <- 2000L until 2080L; t <- 0 until Transcripts.numTurns(43L, conv)) {
      val (words, labels) = Transcripts.turnTokens(43L, conv, t)
      val got = model.tag(words)
      for (i <- words.indices) { if (got(i) == labels(i)) correct += 1; total += 1 }
    }
    assert(correct.toDouble / total >= 0.97, s"$correct/$total")
  }

  test("every live model family tags through the hashing path") {
    // a silent fall to the string path would slow every tagging query and
    // the tag benchmark: each model that a query tags must hash
    val spark = SparkTestSession.spark
    import spark.implicits._
    val docs = Seq((1L, Seq("the", "fast", "join")), (2L, Seq("spark", "table", "scan", "."))).toDS()
    val families = Seq(
      "default" -> NerModels.default(spark).value,
      "TrainedCrf" -> graft.TrainedCrf.model(spark),
      "TrainedTranscriptsCrf" -> graft.TrainedTranscriptsCrf.model(spark),
      "q41 hash CRF" -> graft.SparkEntry.hashCrfModel(docs),
      "q55 hash CRF" -> graft.SparkEntry.hashCrfModel(docs, windowSize = 2))
    val words = Vector("the", "fast", "join", "Alice", "Johnson", "met", "Acme", "Corp.", ".")
    for ((name, m0) <- families) {
      assert(m0.hashesFeatures, name)
      val m = copyOf(m0) // empty memo: only this tag call can fill it
      assert(m.tag(words).toSeq == viterbi(m, m.encode(m.preprocess(words))), name)
      assert(m.unaryMemo.size > 0, s"$name tagged without the unary memo")
    }
  }

  test("hashesFeatures: the preset hashes, up to useReverse and normalizeTerms; any other field does not") {
    val d = NerFeatures.Spec.default
    val m0 = NerModels.default(SparkTestSession.spark).value
    def model(spec: NerFeatures.Spec) =
      new NerModel(m0.classIndex, m0.backgroundIndex, m0.featureIndex, m0.layout, m0.weights, m0.knownLC, spec)
    for (spec <- Seq(d, d.copy(useReverse = true), d.copy(normalizeTerms = true),
        d.copy(useReverse = true, normalizeTerms = true), d.copy(gazette = Gazette.parse(Nil))))
      assert(spec.hashes && model(spec).hashesFeatures, spec)
    // one row per field but useReverse and normalizeTerms, each away from
    // its default alone
    val others = Seq(
      "gazette" -> d.copy(gazette = Gazette.parse(Seq("PERSON Alice Johnson"))),
      "useOccurrencePatterns" -> d.copy(useOccurrencePatterns = true),
      "distSim" -> d.copy(distSim = Some(new DistSim(Map.empty))),
      "useTags" -> d.copy(useTags = true),
      "useTaggySequences" -> d.copy(useTaggySequences = true),
      "useParenMatching" -> d.copy(useParenMatching = true),
      "ngramOpts" -> d.copy(ngramOpts = NerFeatures.NgramOpts(maxLen = 6)),
      "disjunctionWidth" -> d.copy(disjunctionWidth = 2),
      "miscOpts" -> d.copy(miscOpts = NerFeatures.MiscOpts(useTitle = true)),
      "genericKey" -> d.copy(genericKey = Some("col")))
    assert(others.length + 2 == d.productArity, "a Spec field has no row")
    for ((field, spec) <- others; s <- Seq(spec, spec.copy(useReverse = true, normalizeTerms = true)))
      assert(!s.hashes && !model(s).hashesFeatures, field)
  }

  test("unary memo: two models that see the same words each get their own ids") {
    val m0 = NerModels.default(SparkTestSession.spark).value
    val a = copyOf(m0)
    val b = copyOf(m0, permute = true)
    var differ = 0
    for (conv <- 0L until 40L; t <- 0 until Transcripts.numTurns(9L, conv)) {
      val (words, _) = Transcripts.turnTokens(9L, conv, t)
      assertParity(a, words)
      assertParity(b, words)
      if (a.encodeFast(words).flatten.flatten.toSeq != b.encodeFast(words).flatten.flatten.toSeq)
        differ += 1
      assert(a.tag(words).toSeq == b.tag(words).toSeq)
    }
    assert(differ > 0, "the permuted dictionary must give other ids")
  }

  test("unary memo: 8 threads tagging the same turns at once == one thread") {
    val m0 = NerModels.default(SparkTestSession.spark).value
    val turns = (for (conv <- 0L until 80L; t <- 0 until Transcripts.numTurns(11L, conv))
      yield Transcripts.turnTokens(11L, conv, t)._1).toVector
    val single = copyOf(m0)
    val want = turns.map(w => single.tag(w).toSeq)
    val shared = copyOf(m0) // empty memo: the threads fill it concurrently
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val go = new java.util.concurrent.CountDownLatch(1)
      val jobs = (0 until 8).map { k =>
        pool.submit(new java.util.concurrent.Callable[Vector[Seq[String]]] {
          def call(): Vector[Seq[String]] = {
            go.await()
            val out = new Array[Seq[String]](turns.length)
            // each thread starts at its own offset; odd threads use the POS
            // entry point (this model reads no tags, so labels are the same)
            for (j <- turns.indices) {
              val i = (j + k * turns.length / 8) % turns.length
              val w = turns(i)
              out(i) = (if (k % 2 == 0) shared.tag(w) else shared.tag(w, w.map(_ => "NN"))).toSeq
            }
            out.toVector
          }
        })
      }
      go.countDown()
      jobs.foreach(j => assert(j.get(300, java.util.concurrent.TimeUnit.SECONDS) == want))
    } finally pool.shutdownNow()
    assert(shared.unaryMemo.size > 0)
  }

  test("unary memo: giant, non-BMP and empty tokens keep parity with the string path") {
    val m = copyOf(NerModels.default(SparkTestSession.spark).value)
    val words = Vector("", "Alice", "\uD835\uDC9C\uD835\uDCB7", "\uD83D\uDE00", "x" * 2500 + "7f" * 10,
      "", "Zo\u00EB", "\uD800", "Johnson", ".")
    assertParity(m, words) // fills the memo
    assertParity(m, words) // reads it back
    assertParity(m, words.reverse)
    assert(m.tag(words).length == words.length)
  }

  test("unary memo: stays under its bound; ids and tags stay exact past it") {
    val m = copyOf(NerModels.default(SparkTestSession.spark).value)
    val memo = m.unaryMemo
    val bound = NerFeaturesFast.UnaryMemo.MaxBytes
    // distinct 9-char words (35 hash slots an entry): 300k of them pass the
    // bound more than once
    def doc(d: Int) = (0 until 100).map(i => f"W$d%05d$i%03d")
    var emptied = 0
    var last = 0
    for (d <- 0 until 3000) {
      m.encodeFast(doc(d))
      assert(memo.bytes <= bound, s"${memo.bytes} after document $d")
      if (memo.size < last) emptied += 1
      last = memo.size
    }
    assert(emptied >= 2, s"the memo emptied $emptied times")
    for (d <- 0 until 20) {
      assertParity(m, doc(d)) // words of the first fill: gone, hashed again
      val words = doc(3000 + d) :+ "Alice" :+ "Johnson" :+ "."
      val slow = m.encode(m.preprocess(words))
      assert(m.tag(words).toSeq ==
        Crf.viterbi(Crf.logPotentials(slow, m.params), m.params).map(m.classIndex).toSeq)
    }
    assert(memo.bytes <= bound)
  }

  test("token cache: empties with the unary memo under one bound; tags stay exact") {
    val m = copyOf(NerModels.default(SparkTestSession.spark).value)
    val memo = m.unaryMemo
    val bound = NerFeaturesFast.UnaryMemo.MaxBytes
    // distinct 12-char words; 120k of them pass the shared bound
    def doc(d: Int) = (0 until 100).map(i => f"Tok$d%05d$i%04d")
    var emptied = 0
    var last = (0, 0)
    for (d <- 0 until 1200) {
      val words = doc(d)
      val slow = m.encode(m.preprocess(words))
      assert(m.tag(words).toSeq ==
        Crf.viterbi(Crf.logPotentials(slow, m.params), m.params).map(m.classIndex).toSeq, s"document $d")
      assert(memo.bytes <= bound, s"${memo.bytes} after document $d")
      val now = (memo.tokens, memo.size)
      // the two maps empty together: in a document that empties one, the
      // other shrinks too
      if (now._1 < last._1 || now._2 < last._2) {
        assert(now._1 < last._1 && now._2 < last._2, s"$last -> $now after document $d")
        emptied += 1
      }
      last = now
    }
    assert(emptied >= 1, s"the token cache emptied $emptied times")
    assertParity(m, doc(0)) // words of the first fill: gone, made again
  }
}
