package graft.ner

/** Allocation-free inference path for feature extraction.
  *
  * `NerFeatures.featuresAt` materializes ~60 strings per token position; at
  * hundreds of thousands of turns/sec across 32 threads that allocation rate
  * becomes the scaling bottleneck (GC/memory-bandwidth contention, measured
  * as 0.63 N→4N efficiency in round-1 bench). For TAGGING we only need the
  * feature's dictionary id, so this path streams the exact same template
  * bytes through FNV-1a and probes an open-address long→id table — no
  * strings, no sets, no boxing. Byte-identity with the string path is pinned
  * by a property test (FeatureParitySpec); training and model serialization
  * keep using the string path.
  *
  * Templates that read exactly one token (the default-preset n-grams, WORD,
  * PW, NW, TYPE, PTYPE, NTYPE, DISJN, DISJP and the single-token PSEQ/TPS2/
  * TNS1 sequence templates) are hashed and resolved once per distinct token
  * into a `Unary`, kept in a per-dictionary `UnaryMemo` (bounded by the heap
  * its entries take; emptied when full). `idsAt` emits each cached hash and
  * id at the same point of its sequence as the template it stands for, so
  * ids and their order match the string path. The memo pays off when words
  * repeat ACROSS documents: on the benchmark's conversations (a closed
  * vocabulary of a few hundred words, about nine tokens a turn) over 99.9%
  * of lookups hit it, while only 0.3% of tokens repeat within their own
  * document, and a per-document memo tagged no faster than hashing per
  * position. Open-vocabulary traffic has not been measured.
  */
object NerFeaturesFast {
  import NerFeatures.Tok

  final val FnvOffset = 0xcbf29ce484222325L
  final val FnvPrime = 0x100000001b3L

  @inline private def h(acc: Long, s: String): Long = {
    var x = acc
    var i = 0
    while (i < s.length) { x = (x ^ s.charAt(i).toLong) * FnvPrime; i += 1 }
    x
  }
  @inline private def hc(acc: Long, c: Char): Long = (acc ^ c.toLong) * FnvPrime
  // shape via `get` semantics: null -> the literal "null"
  @inline private def hShapeGet(acc: Long, t: Tok): Long =
    if (t.shape == null) h(acc, "null") else h(acc, t.shape)
  // shape via `getString` semantics: null -> ""
  @inline private def hShapeGS(acc: Long, t: Tok): Long =
    if (t.shape == null) acc else h(acc, t.shape)
  // distsim via `get` semantics: absent -> the literal "null"
  @inline private def hDsGet(acc: Long, t: Tok): Long =
    if (t.ds == null) h(acc, "null") else h(acc, t.ds)
  // distsim via `getString` semantics: absent -> ""
  @inline private def hDsGS(acc: Long, t: Tok): Long =
    if (t.ds == null) acc else h(acc, t.ds)
  // POS tag via `getString` semantics: absent -> ""
  @inline private def hTagGS(acc: Long, t: Tok): Long =
    if (t.tag == null) acc else h(acc, t.tag)
  // POS tag via `get`/concat semantics: absent -> the literal "null"
  @inline private def hTagGet(acc: Long, t: Tok): Long =
    if (t.tag == null) h(acc, "null") else h(acc, t.tag)
  // chunk via `get`/concat semantics: absent -> the literal "null"
  @inline private def hChunkGet(acc: Long, t: Tok): Long =
    if (t.chunk == null) h(acc, "null") else h(acc, t.chunk)
  // UnknownAnnotation via `get`/concat semantics: absent -> the literal "null"
  @inline private def hUnkGet(acc: Long, t: Tok): Long =
    if (t.unknown == null) h(acc, "null") else h(acc, t.unknown)

  /** Open-address long->int map (power-of-two capacity, linear probing).
    * Empty slots marked by value == -1; key 0 is permitted.
    */
  final class LongIntHash(n: Int) extends Serializable {
    private val cap = Integer.highestOneBit(math.max(8, n * 2) - 1) << 1
    private val mask = cap - 1
    private val keys = new Array[Long](cap)
    private val vals = Array.fill(cap)(-1)

    /** Number of DISTINCT keys inserted; if this is ever < number of put()
      * calls with distinct source strings, two strings collided in 64-bit FNV
      * and one weight row would silently shadow another (wrong tags, no error
      * signal) — callers building from a string dictionary must check.
      */
    private var _size = 0
    def size: Int = _size

    def put(k: Long, v: Int): Unit = {
      var i = (java.lang.Long.hashCode(k * 0x9e3779b97f4a7c15L)) & mask
      while (vals(i) != -1 && keys(i) != k) i = (i + 1) & mask
      if (vals(i) == -1) _size += 1
      keys(i) = k; vals(i) = v
    }
    def get(k: Long): Int = {
      var i = (java.lang.Long.hashCode(k * 0x9e3779b97f4a7c15L)) & mask
      while (vals(i) != -1) {
        if (keys(i) == k) return vals(i)
        i = (i + 1) & mask
      }
      -1
    }
  }

  /** Per-thread scratch to avoid re-allocating buffers per position.
    * 4096 covers typical tokens; buffers GROW on demand because the ngram
    * family emits ~2x(token length) hashes and the tokenizer places no bound
    * on alphanumeric run length (a >2030-char token — long base64/hash IDs —
    * must not crash the tagging path; parity forbids capping ngram length
    * since the reference preset leaves maxNGramLeng unset).
    */
  final class Scratch {
    var hashes = new Array[Long](4096)
    // id of hashes(i) when it came resolved from a Unary, else Unresolved
    var hids = new Array[Int](4096)
    val ids = Array.tabulate(3)(_ => new Array[Int](4096))

    private[NerFeaturesFast] def reserve(n: Int): Unit =
      if (hashes.length < n) {
        val cap = Integer.highestOneBit(n - 1) << 1
        hashes = new Array[Long](cap); hids = new Array[Int](cap)
      }
  }

  private final val Unresolved = -2

  // Unary.hs / Unary.ids slots: one per single-token template, then the
  // token's default-preset n-grams from NgramStart on
  private final val UWord = 0
  private final val UPw = 1
  private final val UNw = 2
  private final val UType = 3
  private final val UPType = 4
  private final val UNType = 5
  private final val UDisjN = 6
  private final val UDisjP = 7
  private final val UPseqW = 8
  private final val UPseqPW = 9
  private final val UPseqPS = 10
  private final val UPseqCS = 11
  private final val UPseqPDS = 12
  private final val UPseqCDS = 13
  private final val UTps2 = 14
  private final val UTns1 = 15
  private final val NgramStart = 16

  /** One token's single-token template hashes and their dictionary ids
    * (-1 = unseen), in the slots above; the n-grams follow, deduplicated in
    * emission order. Immutable, so safely shared across task threads.
    */
  final class Unary private[NerFeaturesFast] (val hs: Array[Long], val ids: Array[Int])

  /** Hashes every single-token template of `t` (the bytes of the string
    * path's feature), plus its default-preset n-grams when `ngrams`, and
    * resolves them in `dict`.
    */
  private def unary(t: Tok, dict: LongIntHash, ngrams: Boolean): Unary = {
    val w = t.word
    val shapeGS = if (t.shape == null) "" else t.shape
    var hs = new Array[Long](if (ngrams) NgramStart + 2 * w.length + 1 else NgramStart)
    hs(UWord) = h(h(h(FnvOffset, w), "-WORD"), suffixC)
    hs(UPw) = h(h(h(FnvOffset, w), "-PW"), suffixC)
    hs(UNw) = h(h(h(FnvOffset, w), "-NW"), suffixC)
    hs(UType) = h(h(h(FnvOffset, shapeGS), "-TYPE"), suffixC)
    hs(UPType) = h(h(hShapeGet(FnvOffset, t), "-PTYPE"), suffixC)
    hs(UNType) = h(h(hShapeGet(FnvOffset, t), "-NTYPE"), suffixC)
    hs(UDisjN) = h(h(h(FnvOffset, w), "-DISJN"), suffixC)
    hs(UDisjP) = h(h(h(FnvOffset, w), "-DISJP"), suffixC)
    hs(UPseqW) = h(h(h(FnvOffset, w), "-PSEQW"), suffixCpC)
    hs(UPseqPW) = h(h(h(FnvOffset, w), "-PSEQpW"), suffixCpC)
    hs(UPseqPS) = h(h(h(FnvOffset, shapeGS), "-PSEQpS"), suffixCpC)
    hs(UPseqCS) = h(h(h(FnvOffset, shapeGS), "-PSEQcS"), suffixCpC)
    hs(UPseqPDS) = h(h(hDsGS(FnvOffset, t), "-PSEQpDS"), suffixCpC)
    hs(UPseqCDS) = h(h(hDsGS(FnvOffset, t), "-PSEQcDS"), suffixCpC)
    hs(UTps2) = h(h(hShapeGet(FnvOffset, t), "-TPS2"), suffixCpC)
    hs(UTns1) = h(h(hShapeGet(FnvOffset, t), "-TNS1"), suffixCpC)
    // default-preset n-grams over <word> (virtual < > padding): prefixes and
    // suffixes only (noMidNGrams), deduplicated like `idsAt`'s emit
    var n = NgramStart
    val wLen = if (ngrams) w.length + 2 else 0
    var i0 = 0
    while (i0 < wLen) {
      var j = i0 + 2
      while (j <= wLen) {
        if (i0 == 0 || j == wLen) {
          var x = hc(FnvOffset, '#')
          var k = i0
          while (k < j) {
            x = hc(x, if (k == 0) '<' else if (k == wLen - 1) '>' else w.charAt(k - 1))
            k += 1
          }
          x = h(hc(x, '#'), suffixC)
          var dup = false
          k = NgramStart
          while (k < n && !dup) { dup = hs(k) == x; k += 1 }
          if (!dup) { hs(n) = x; n += 1 }
        }
        j += 1
      }
      i0 += 1
    }
    if (n < hs.length) hs = java.util.Arrays.copyOf(hs, n)
    val ids = new Array[Int](n)
    var k = 0
    while (k < n) { ids(k) = dict.get(hs(k)); k += 1 }
    new Unary(hs, ids)
  }

  /** Token → `Unary` memo for ONE dictionary (a model holds its own, so ids
    * of one dictionary never reach another), together with the word → `Tok`
    * cache whose tokens key it. `ngrams` (the model's `NgramOpts` is the
    * default) adds the n-gram block; other models never read it. The heap of
    * both maps' entries, charged per entry by `UnaryMemo.tokCost` and
    * `UnaryMemo.cost`, stays under `UnaryMemo.MaxBytes`: an entry that would
    * pass it empties both maps first, so words that keep coming back return
    * after one-off tokens (IDs, numbers, URLs) have filled them, and the
    * memo's keys stay the cache's own tokens. Entries go in through
    * `putIfAbsent` of concurrent maps, so task threads share them safely.
    */
  final class UnaryMemo(val dict: LongIntHash, val ngrams: Boolean = true) {
    private val toks = new java.util.concurrent.ConcurrentHashMap[String, Tok]()
    private val map = new java.util.concurrent.ConcurrentHashMap[Tok, Unary]()
    private val used = new java.util.concurrent.atomic.AtomicLong()
    /** The entry of the padding token read outside the document. */
    val pad: Unary = unary(NerFeatures.Pad, dict, ngrams)

    /** Charges `n` bytes, emptying both maps first if they would pass the
      * bound; false when one entry alone would pass it (not stored). */
    private def charge(n: Long): Boolean =
      n <= UnaryMemo.MaxBytes && {
        if (used.addAndGet(n) > UnaryMemo.MaxBytes) { toks.clear(); map.clear(); used.set(n) }
        true
      }

    /** The cached token of word `w`, made by `make` on a miss. */
    def tok(w: String, make: String => Tok): Tok = {
      val hit = toks.get(w)
      if (hit != null) return hit
      val t = make(w)
      val n = UnaryMemo.tokCost(w, t)
      if (!charge(n)) return t
      val prev = toks.putIfAbsent(w, t)
      if (prev == null) t else { used.addAndGet(-n); prev }
    }

    def apply(t: Tok): Unary = {
      val hit = map.get(t)
      if (hit != null) return hit
      val u = unary(t, dict, ngrams)
      val n = UnaryMemo.cost(u)
      if (!charge(n)) return u
      val prev = map.putIfAbsent(t, u)
      if (prev == null) u else { used.addAndGet(-n); prev }
    }

    /** The entries of a document's tokens, aligned with it (`idsAt`'s `un`). */
    def row(toks: IndexedSeq[Tok]): Array[Unary] = {
      val out = new Array[Unary](toks.length)
      var i = 0
      while (i < out.length) { out(i) = apply(toks(i)); i += 1 }
      out
    }

    def size: Int = map.size
    def tokens: Int = toks.size
    /** Heap charged to the stored entries: at most `MaxBytes`. An entry put
      * by one thread while another empties the maps may go uncharged until
      * the next emptying. */
    def bytes: Long = used.get
  }

  object UnaryMemo {
    /** Heap of one `Unary` entry besides its slots, as measured on JDK 17
      * with compressed oops: the map node, the `Unary` and its two arrays'
      * headers. Its key is charged with its word (`tokCost`). */
    final val EntryBytes = 124L
    /** Heap of one cached token besides its strings' characters: the map
      * node, the `Tok` and the word and shape strings' headers. Measured on
      * JDK 17, a 9-char word's token retains 176-194 bytes (charged 196). */
    final val TokBytes = 150L
    /** 64 MiB: about 90k words of 9 chars (35 slots; 740 bytes charged for
      * the entry and its token). */
    final val MaxBytes: Long = 64L << 20
    /** Heap charged to `u`: `EntryBytes` plus 12 bytes a slot (a hash and an
      * id; measured 11.8). */
    def cost(u: Unary): Long = EntryBytes + 12L * u.hs.length
    /** Heap charged to the token `t` of word `w`: `TokBytes` plus two bytes
      * a char of its strings (the fixed word counted even when it is `w`). */
    def tokCost(w: String, t: Tok): Long =
      TokBytes + 2L * (w.length + t.word.length + t.shape.length)
  }

  private val suffixC = "|C"
  private val suffixCpC = "|CpC"
  private val suffixCpCp2C = "|CpCp2C"

  // precomputed hashes for the occurrence-pattern constants (closed set of 9)
  private val occHash: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long]()
    for (s <- Seq("NO-OCCURRENCE-PATTERN|C",
      "XY-NEXT-OCCURRENCE-XY|C", "XY-NEXT-OCCURRENCE-Y|C",
      "XY-PREV-OCCURRENCE-XY|C", "XY-PREV-OCCURRENCE-Y|C",
      "X-NEXT-OCCURRENCE-YX|C", "X-NEXT-OCCURRENCE-XY|C", "X-NEXT-OCCURRENCE-X|C",
      "X-PREV-OCCURRENCE-YX|C", "X-PREV-OCCURRENCE-XY|C", "X-PREV-OCCURRENCE-X|C"))
      m.put(s, java.lang.Long.valueOf(fnv(s)))
    m
  }

  private val hParenCpC = fnv("PAREN-MATCH|CpC")
  private val hParenCp2C = fnv("PAREN-MATCH|Cp2C")
  private val suffixCnC = "|CnC"
  private val suffixCpCnC = "|CpCnC"
  private val hAbbrC = fnv("null-ABBR|C")
  private val hPcAbbr = fnv("null-null-PCABBR|C")
  private val hCnAbbr = fnv("null-null-CNABBR|C")
  private val hPcnAbbr = fnv("null-null-null-PCNABBR|C")
  private val hPabbrans = fnv("null-null-PABBRANS|CpC")
  private val h2Pabbrans = fnv("null-null-null-2PABBRANS|CpCp2C")
  // no-producer annotation-family constants (see NerFeatures.MiscOpts doc)
  private val hConstC: Map[String, Long] = Seq(
    "null-ABGENE|C", "null-PABGENE|C", "null-NABGENE|C",
    "null-ABSTRACT|C", "null-PABSTRACT|C", "null-NABSTRACT|C",
    "null-GENIA|C", "null-PGENIA|C", "null-NGENIA|C",
    "null-WEB|C", "null-PWEB|C", "null-NWEB|C",
    "null-ISURL|C", "null-ENTITYRULE|C", "null-ENTITYTYPE|C",
    "null-ISDATERANGE|C", "null-ABSTRACTnull-FREQ|C", "null-FREQ|C",
    "null-SECTION|C", "null-WORD_POSITION|C", "null-SENT_POSITION|C",
    "null-PARA_POSITION|C", "###|C",
    "null-null-ETSEQ|CpC", "null-null-URLSEQ|CpC",
    "null-null-P2ABBRANS|Cp2C", "null-null-P2AP2CABB|Cp2C",
    "null-HW|C", "null-GW|C", "null-null-HW_GW|C").map(f => f -> fnv(f)).toMap
  private val hPseq = fnv("PSEQ|CpC")
  private val hPpseq = fnv("PPSEQ|CpCp2C")
  private val hBndryPpseq = fnv("BNDRY-SPAN-PPSEQ|CpCp2C")
  private val hNseq = fnv("NSEQ|CnC")
  private val hPnseq = fnv("PNSEQ|CpCnC")


  /** Cold misc-family emissions of group 0, part A (useUnknown through
    * useGenericFeatures) — extracted from `idsAt` to keep its bytecode under
    * HotSpot's 8000-byte DontCompileHugeMethods limit: the NP-head additions
    * pushed the inline body to 8,196 bytes, leaving the hot method
    * INTERPRETED (measured 4.4x tagging CPU; see BASELINE.md). Emission
    * order is preserved exactly: this is the contiguous block between the
    * WORD emission and the DISTSIM/TAG emissions.
    */
  private def emitMiscG0A(misc: NerFeatures.MiscOpts, c: Tok, p: Tok, nt: Tok,
      cWord: String, useTags: Boolean, useDistSim: Boolean, emit: Long => Unit): Unit = {
    if (misc.useUnknown) {                                  // useUnknown (:790-794)
      emit(h(h(hUnkGet(FnvOffset, c), "-UNKNOWN"), suffixC))
      emit(h(h(hUnkGet(FnvOffset, p), "-PUNKNOWN"), suffixC))
      emit(h(h(hUnkGet(FnvOffset, nt), "-NUNKNOWN"), suffixC))
    }
    if (misc.useLemmas && c.lemma != null && c.lemma != "") // useLemmas (:796-801)
      emit(h(h(h(FnvOffset, c.lemma), "-LEM"), suffixC))
    if (misc.usePrevNextLemmas) {                           // usePrevNextLemmas (:802-811)
      if (p.lemma != null && p.lemma != "")
        emit(h(h(h(FnvOffset, p.lemma), "-PLEM"), suffixC))
      if (nt.lemma != null && nt.lemma != "")
        emit(h(h(h(FnvOffset, nt.lemma), "-NLEM"), suffixC))
    }
    if (misc.useChunks) {                                   // useChunks (:1072-1076)
      emit(h(h(hChunkGet(hc(hChunkGet(FnvOffset, p), '-'), c), "-PCCHUNK"), suffixC))
      emit(h(h(hChunkGet(hc(hChunkGet(FnvOffset, c), '-'), nt), "-CNCHUNK"), suffixC))
      emit(h(h(hChunkGet(hc(hChunkGet(hc(hChunkGet(FnvOffset, p), '-'), c), '-'), nt), "-PCNCHUNK"), suffixC))
    }
    // abbr constants (never-set AbbrAnnotation; :1048-1061,1078-1080)
    if (misc.useAbbr || misc.useMinimalAbbr) emit(hAbbrC)
    if (misc.useAbbr) { emit(hPcAbbr); emit(hCnAbbr); emit(hPcnAbbr) }
    if (misc.useMinimalAbbr) emit(h(h(h(FnvOffset, cWord), "-null-CWABB"), suffixC))
    if (misc.useABGENE) {
      emit(hConstC("null-ABGENE|C")); emit(hConstC("null-PABGENE|C")); emit(hConstC("null-NABGENE|C"))
    }
    if (misc.useABSTRFreqDict) {
      emit(h(h(hTagGS(h(FnvOffset, "null-ABSTRACTnull-FREQ"), c), "-TAG"), suffixC))
      emit(h(h(hTagGS(h(FnvOffset, "null-ABSTRACTnull-DICT"), c), "-TAG"), suffixC))
      emit(h(h(hTagGS(h(FnvOffset, "null-ABSTRACTnull-DICTnull-FREQ"), c), "-TAG"), suffixC))
    }
    if (misc.useABSTR) {
      emit(hConstC("null-ABSTRACT|C")); emit(hConstC("null-PABSTRACT|C")); emit(hConstC("null-NABSTRACT|C"))
    }
    if (misc.useGENIA) {
      emit(hConstC("null-GENIA|C")); emit(hConstC("null-PGENIA|C")); emit(hConstC("null-NGENIA|C"))
    }
    if (misc.useWEBFreqDict) {
      emit(h(h(hTagGS(h(FnvOffset, "null-WEBnull-FREQ"), c), "-TAG"), suffixC))
      emit(h(h(hTagGS(h(FnvOffset, "null-WEBnull-DICT"), c), "-TAG"), suffixC))
      emit(h(h(hTagGS(h(FnvOffset, "null-WEBnull-DICTnull-FREQ"), c), "-TAG"), suffixC))
    }
    if (misc.useWEB) {
      emit(hConstC("null-WEB|C")); emit(hConstC("null-PWEB|C")); emit(hConstC("null-NWEB|C"))
    }
    if (misc.useIsURL) emit(hConstC("null-ISURL|C"))
    if (misc.useEntityRule) emit(hConstC("null-ENTITYRULE|C"))
    if (misc.useEntityTypes) emit(hConstC("null-ENTITYTYPE|C"))
    if (misc.useIsDateRange) emit(hConstC("null-ISDATERANGE|C"))
    if (misc.useABSTRFreq) emit(hConstC("null-ABSTRACTnull-FREQ|C"))
    if (misc.useFREQ) emit(hConstC("null-FREQ|C"))
    if (misc.useMUCFeatures) {
      emit(hConstC("null-SECTION|C")); emit(hConstC("null-WORD_POSITION|C"))
      emit(hConstC("null-SENT_POSITION|C")); emit(hConstC("null-PARA_POSITION|C"))
      emit(h(h(hShapeGet(h(FnvOffset, "null-"), c), "-WORD_POSITION_SHAPE"), suffixC))
    }
    if (misc.useNPHead) {                                   // (:1140-1148)
      emit(hConstC("null-HW|C"))
      if (useTags) emit(h(h(hTagGS(h(FnvOffset, "null-"), c), "-HW-T"), suffixC))
      if (useDistSim) emit(h(h(hDsGet(h(FnvOffset, "null-"), c), "-HW-DISTSIM"), suffixC))
    }
    if (misc.useNPGovernor) {                               // (:1150-1158)
      emit(hConstC("null-GW|C"))
      if (useTags) emit(h(h(hTagGS(h(FnvOffset, "null-"), c), "-GW-T"), suffixC))
      if (useDistSim) emit(h(h(hDsGet(h(FnvOffset, "null-"), c), "-DISTSIM-T1"), suffixC))
    }
    if (misc.useHeadGov) emit(hConstC("null-null-HW_GW|C")) // (:1160-1162)
    if (misc.useClassFeature) emit(hConstC("###|C"))
    if (misc.useGenericFeatures && c.generic != null) // (:1466-1476) pre-joined "<value>-<key>"
      emit(h(h(FnvOffset, c.generic), suffixC))
  }

  /** Cold misc-family emissions of group 0, part B (useWideDisjunctive
    * through useEitherSideDisjunctive) — same extraction rationale and
    * order-preservation contract as part A; this is the contiguous block
    * between the disjunctive loop and the gazette emissions.
    */
  private def emitMiscG0B(misc: NerFeatures.MiscOpts, toks: IndexedSeq[Tok], loc: Int,
      reverse: Boolean, useTags: Boolean, useDistSim: Boolean, disjWidth: Int,
      c: Tok, p: Tok, p2: Tok, nt: Tok, cWord: String, pWord: String, nWord: String,
      cShapeGS: String, emit: Long => Unit): Unit = {
    @inline def at(i: Int): Tok = if (i >= 0 && i < toks.length) toks(i) else NerFeatures.Pad
    if (misc.useWideDisjunctive) {
      var wd = 1
      while (wd <= misc.wideDisjunctionWidth) {
        emit(h(h(h(FnvOffset, at(loc + wd).word), "-DISJWN"), suffixC))
        emit(h(h(h(FnvOffset, at(loc - wd).word), "-DISJWP"), suffixC))
        wd += 1
      }
    }
    if (misc.useDisjShape) {
      var ds = 1
      while (ds <= disjWidth) {
        emit(h(h(hShapeGet(FnvOffset, at(loc + ds)), "-NDISJSHAPE"), suffixC))
        emit(h(h(hShapeGet(hc(h(FnvOffset, cShapeGS), '-'), at(loc + ds)), "-CNDISJSHAPE"), suffixC))
        ds += 1
      }
    }
    locally {
      val cShapeMisc = cShapeGS
      val posIdx = if (reverse) toks.length - 1 - loc else loc // pre-reverse position
      if (misc.useTitle && NerFeatures.isTitleWord(cWord)) emit(h(h(FnvOffset, "IS_TITLE"), suffixC))
      if (misc.usePosition) emit(h(h(h(FnvOffset, posIdx.toString), "-POSITION"), suffixC))
      if (misc.useBeginSent) {
        if (posIdx == 0) {
          emit(h(h(FnvOffset, "BEGIN-SENT"), suffixC))
          emit(h(h(h(FnvOffset, cShapeMisc), "-BEGIN-SENT"), suffixC))
        } else {
          emit(h(h(FnvOffset, "IN-SENT"), suffixC))
          emit(h(h(h(FnvOffset, cShapeMisc), "-IN-SENT"), suffixC))
        }
      }
      if (misc.useSymWordPairs)
        emit(h(h(h(hc(h(FnvOffset, pWord), '-'), nWord), "-SWORDS"), suffixC))
      if (misc.useFirstWord)
        emit(h(h(FnvOffset, if (toks.nonEmpty) toks(0).word else ""), suffixC))
      if (misc.useOrdinal) {
        if (NerFeatures.isOrdinal(toks, loc)) {
          emit(h(h(FnvOffset, "C_ORDINAL"), suffixC))
          if (NerFeatures.isOrdinal(toks, loc - 1)) emit(h(h(FnvOffset, "PC_ORDINAL"), suffixC))
        }
        if (NerFeatures.isOrdinal(toks, loc - 1)) emit(h(h(FnvOffset, "P_ORDINAL"), suffixC))
      }
      if (misc.useMoreTags) {
        if (useDistSim)
          emit(h(h(h(hc(hDsGet(FnvOffset, p), '-'), cWord), "-PDISTSIM-CWORD"), suffixC))
        emit(h(h(h(hc(hTagGS(FnvOffset, p), '-'), cWord), "-PTAG-CWORD"), suffixC))
      }
      if (misc.useEitherSideWord) {
        emit(h(h(h(FnvOffset, pWord), "-EW"), suffixC))
        emit(h(h(h(FnvOffset, nWord), "-EW"), suffixC))
      }
      if (misc.useWordTag) {
        emit(h(h(hTagGS(hc(h(FnvOffset, cWord), '-'), c), "-W-T"), suffixC))
        emit(h(h(hTagGS(hc(h(FnvOffset, cWord), '-'), p), "-W-PT"), suffixC))
        emit(h(h(hTagGS(hc(h(FnvOffset, cWord), '-'), nt), "-W-NT"), suffixC))
      }
      if (misc.useSymTags) {
        if (useTags) {
          emit(h(h(hTagGS(hc(hTagGS(hc(hTagGS(FnvOffset, p), '-'), c), '-'), nt), "-PCNTAGS"), suffixC))
          emit(h(h(hTagGS(hc(hTagGS(FnvOffset, c), '-'), nt), "-CNTAGS"), suffixC))
          emit(h(h(hTagGS(hc(hTagGS(FnvOffset, p), '-'), c), "-PCTAGS"), suffixC))
        }
        if (useDistSim) {
          emit(h(h(hDsGet(hc(hDsGet(hc(hDsGet(FnvOffset, p), '-'), c), '-'), nt), "-PCNDISTSIM"), suffixC))
          emit(h(h(hDsGet(hc(hDsGet(FnvOffset, c), '-'), nt), "-CNDISTSIM"), suffixC))
          emit(h(h(hDsGet(hc(hDsGet(FnvOffset, p), '-'), c), "-PCDISTSIM"), suffixC))
        }
      }
      if (misc.usePrevVB || misc.useNextVB || misc.useVB) {
        var prevVB = ""; var nextVB = ""
        if (misc.usePrevVB) {
          var j = loc - 1
          var going = true
          while (going) {
            if (j < 0) { prevVB = "X"; emit(h(h(FnvOffset, "X-PVB"), suffixC)); going = false }
            else if (toks(j).tag != null && toks(j).tag.startsWith("VB")) {
              prevVB = toks(j).word
              emit(h(h(h(FnvOffset, prevVB), "-PVB"), suffixC)); going = false
            } else j -= 1
          }
        }
        if (misc.useNextVB) {
          var j = loc + 1
          var going = true
          while (going) {
            if (j >= toks.length) { nextVB = "X"; emit(h(h(FnvOffset, "X-NVB"), suffixC)); going = false }
            else if (toks(j).tag != null && toks(j).tag.startsWith("VB")) {
              nextVB = toks(j).word
              emit(h(h(h(FnvOffset, nextVB), "-NVB"), suffixC)); going = false
            } else j += 1
          }
        }
        if (misc.useVB)
          emit(h(h(h(hc(h(FnvOffset, prevVB), '-'), nextVB), "-PNVB"), suffixC))
      }
      if (misc.useShapeConjunctions) {
        emit(h(h(h(h(FnvOffset, posIdx.toString), cShapeMisc), "-POS-SH"), suffixC))
        if (useTags) emit(h(h(h(hTagGet(FnvOffset, c), cShapeMisc), "-TAG-SH"), suffixC))
        if (useDistSim) emit(h(h(h(hDsGet(FnvOffset, c), cShapeMisc), "-DISTSIM-SH"), suffixC))
      }
      if (misc.useExtraTaggySequences) {
        val p3 = at(loc - 3)
        if (useTags) {
          emit(h(h(hTagGS(hc(hTagGS(hc(hTagGS(FnvOffset, p2), '-'), p), '-'), c), "-TTS"), suffixC))
          emit(h(h(hTagGS(hc(hTagGS(hc(hTagGS(hc(hTagGS(FnvOffset, p3), '-'), p2), '-'), p), '-'), c), "-TTTS"), suffixC))
        }
        if (useDistSim) {
          emit(h(h(hDsGet(hc(hDsGet(hc(hDsGet(FnvOffset, p2), '-'), p), '-'), c), "-DISTSIM_TTS1"), suffixC))
          emit(h(h(hDsGet(hc(hDsGet(hc(hDsGet(hc(hDsGet(FnvOffset, p3), '-'), p2), '-'), p), '-'), c), "-DISTSIM_TTTS1"), suffixC))
        }
      }
      if (misc.useEitherSideDisjunctive) {
        var ed = 1
        while (ed <= disjWidth) {
          emit(h(h(h(FnvOffset, at(loc + ed).word), "-DISJWE"), suffixC))
          emit(h(h(h(FnvOffset, at(loc - ed).word), "-DISJWE"), suffixC))
          ed += 1
        }
      }
    }
  }

  /** Compute deduplicated feature IDS per clique group at `loc`, mirroring
    * NerFeatures.featuresAt + dictionary lookup. Unseen features (id -1) are
    * dropped, matching CRFClassifier.java:200-207.
    * `un` holds the memo entries of `toks` (`memo.row`, or the row of tokens
    * with the same word, shape and cluster); tokens outside the document
    * read `memo.pad`. Returns per-group arrays sliced from scratch.
    */
  def idsAt(toks: IndexedSeq[Tok], un: Array[Unary], loc: Int, memo: UnaryMemo, scratch: Scratch,
      gaz: Gazette = Gazette.empty, occPatterns: Boolean = false, useDistSim: Boolean = false,
      useTags: Boolean = false, useTaggySeq: Boolean = false, reverse: Boolean = false,
      parenMatching: Boolean = false,
      ngram: NerFeatures.NgramOpts = NerFeatures.NgramOpts.default,
      disjWidth: Int = 4,
      misc: NerFeatures.MiscOpts = NerFeatures.MiscOpts.default): Array[Array[Int]] = {
    @inline def at(i: Int): Tok = if (i >= 0 && i < toks.length) toks(i) else NerFeatures.Pad
    @inline def u(i: Int): Unary = if (i >= 0 && i < un.length) un(i) else memo.pad
    val c = at(loc); val p = at(loc - 1); val p2 = at(loc - 2)
    val nt = at(loc + 1); val n2 = at(loc + 2)
    val cWord = c.word; val pWord = p.word; val nWord = nt.word
    val cU = u(loc); val pU = u(loc - 1); val nU = u(loc + 1)

    // ngrams over <word>: under the default preset the first emissions of
    // group 0 are the token's memoized n-gram block, already deduplicated
    val ngramMemo = memo.ngrams && ngram == NerFeatures.NgramOpts.default
    var hn = if (ngramMemo) cU.hs.length - NgramStart else 0
    scratch.reserve(hn)
    var hb = scratch.hashes
    var hi = scratch.hids
    if (ngramMemo) {
      System.arraycopy(cU.hs, NgramStart, hb, 0, hn)
      System.arraycopy(cU.ids, NgramStart, hi, 0, hn)
    }
    def push(x: Long, id: Int): Unit = {
      // dedup: linear scan (feature sets are small); preserves set semantics
      var i = 0
      var dup = false
      while (i < hn && !dup) { if (hb(i) == x) dup = true; i += 1 }
      if (!dup) {
        if (hn == hb.length) {
          hb = java.util.Arrays.copyOf(hb, hb.length << 1); scratch.hashes = hb
          hi = java.util.Arrays.copyOf(hi, hi.length << 1); scratch.hids = hi
        }
        hb(hn) = x; hi(hn) = id; hn += 1
      }
    }
    def emit(x: Long): Unit = push(x, Unresolved)
    def emitU(e: Unary, slot: Int): Unit = push(e.hs(slot), e.ids(slot))
    val miscOn = misc != NerFeatures.MiscOpts.default
    val emitF: Long => Unit = if (miscOn) x => emit(x) else null

    // ---- group 0 ----
    // non-default NgramOpts take the generic branch over the transformed
    // padded word (one small string per token, options only)
    if (!ngramMemo) {
      var w0 = "<" + cWord + ">"
      if (ngram.lowercase) w0 = w0.toLowerCase
      if (ngram.dehyphenate) w0 = NerFeatures.dehyphenate(w0)
      if (ngram.greekify) w0 = NerFeatures.greekify(w0)
      val cShapeForNGrams = if (c.shape == null) "" else c.shape // getString semantics
      val wLen = w0.length
      var i0 = 0
      while (i0 < wLen) {
        var j = i0 + 2
        while (j <= wLen) {
          if ((!ngram.noMid || i0 == 0 || j == wLen) &&
              (ngram.maxLen < 0 || j - i0 <= ngram.maxLen)) {
            var x = hc(FnvOffset, '#')
            var k = i0
            while (k < j) { x = hc(x, w0.charAt(k)); k += 1 }
            x = hc(x, '#')
            emit(h(x, suffixC))
            if (ngram.conjoinShapes) // "#sub#-<shape>-CNGram-CS|C"
              emit(h(h(h(hc(x, '-'), cShapeForNGrams), "-CNGram-CS"), suffixC))
          }
          j += 1
        }
        i0 += 1
      }
    }
    emitU(cU, UWord) // useWord (default true)
    if (miscOn) emitMiscG0A(misc, c, p, nt, cWord, useTags, useDistSim, emitF)
    if (useDistSim) emit(h(h(hDsGet(FnvOffset, c), "-DISTSIM"), suffixC))
    if (useTags) emit(h(h(hTagGS(FnvOffset, c), "-TAG"), suffixC))
    emitU(pU, UPw)
    if (useTags) emit(h(h(hTagGS(FnvOffset, p), "-PTAG"), suffixC))
    if (useDistSim) emit(h(h(hDsGet(FnvOffset, p), "-PDISTSIM"), suffixC))
    emitU(nU, UNw)
    if (useTags) emit(h(h(hTagGS(FnvOffset, nt), "-NTAG"), suffixC))
    // reference bug mirrored: NDISTSIM reads the PREVIOUS token's cluster
    if (useDistSim) emit(h(h(hDsGet(FnvOffset, p), "-NDISTSIM"), suffixC))
    emit(h(h(h(hc(h(FnvOffset, cWord), '-'), pWord), "-W-PW"), suffixC))
    emit(h(h(h(hc(h(FnvOffset, cWord), '-'), nWord), "-W-NW"), suffixC))
    val cShapeGS = if (c.shape == null) "" else c.shape
    emitU(cU, UType)
    emitU(pU, UPType)
    emitU(nU, UNType)
    emit(h(h(h(h(h(FnvOffset, pWord), "..."), cShapeGS), "-PW_CTYPE"), suffixC))
    emit(h(h(h(h(h(FnvOffset, cShapeGS), "..."), nWord), "-NW_CTYPE"), suffixC))
    emit(h(h(h(h(hShapeGet(FnvOffset, p), "..."), cShapeGS), "-PCTYPE"), suffixC))
    emit(h(h(hShapeGet(h(h(FnvOffset, cShapeGS), "..."), nt), "-CNTYPE"), suffixC))
    emit(h(h(hShapeGet(h(h(h(hShapeGet(FnvOffset, p), "..."), cShapeGS), "..."), nt), "-PCNTYPE"), suffixC))
    if (pWord.length <= 3)
      emit(h(h(h(h(h(FnvOffset, p2.word), "..."), cShapeGS), "-PPW_CTYPE"), suffixC))
    if (nWord.length <= 3)
      emit(h(h(h(h(h(FnvOffset, n2.word), "..."), cShapeGS), "-NNW_CTYPE"), suffixC))
    // occurrence patterns: SHARED algorithm with the string path (the emitted
    // strings are a closed constant set, mapped to precomputed hashes)
    if (occPatterns)
      NerFeatures.occurrenceFeatures(toks, loc, reverse, s => emit(occHash.get(s).longValue))
    var d = 1
    while (d <= disjWidth) {
      emitU(u(loc + d), UDisjN)
      if (misc.useDisjunctiveShapeInteraction)
        emit(h(h(h(hc(h(FnvOffset, at(loc + d).word), '-'), cShapeGS), "-DISJN-CS"), suffixC))
      emitU(u(loc - d), UDisjP)
      if (misc.useDisjunctiveShapeInteraction)
        emit(h(h(h(hc(h(FnvOffset, at(loc - d).word), '-'), cShapeGS), "-DISJP-CS"), suffixC))
      d += 1
    }
    if (miscOn) emitMiscG0B(misc, toks, loc, reverse, useTags, useDistSim,
      disjWidth, c, p, p2, nt, cWord, pWord, nWord, cShapeGS, emitF)
    // useGazettes: hashes precomputed at gazette build (string path parity
    // pinned by FeatureParitySpec); emission point mirrors NerFeatures
    if (!gaz.isEmpty) {
      gaz.sloppyHashes.get(cWord).foreach { fs =>
        var k = 0
        while (k < fs.length) { emit(fs(k)); k += 1 }
      }
      gaz.cleanHashes.get(cWord).foreach { es =>
        var k = 0
        while (k < es.length) {
          val (e, fh) = es(k)
          var ok = true
          var gl = 0
          while (ok && gl < e.words.length) {
            ok = e.words(gl) == at(loc + gl - e.loc).word
            gl += 1
          }
          if (ok) emit(fh)
          k += 1
        }
      }
    }
    val g0n = resolve(0, memo.dict, scratch, hn)

    // ---- group 1: CpC ----
    hn = 0
    if (misc.useOrdinal) {
      if (NerFeatures.isOrdinal(toks, loc)) {
        emit(h(h(FnvOffset, "C_ORDINAL"), suffixCpC))
        if (NerFeatures.isOrdinal(toks, loc - 1)) emit(h(h(FnvOffset, "PC_ORDINAL"), suffixCpC))
      }
      if (NerFeatures.isOrdinal(toks, loc - 1)) emit(h(h(FnvOffset, "P_ORDINAL"), suffixCpC))
    }
    val pShapeGS = if (p.shape == null) "" else p.shape
    emit(hPseq)
    emitU(cU, UPseqW)
    emit(h(h(h(hc(h(FnvOffset, pWord), '-'), cWord), "-PSEQW2"), suffixCpC))
    emitU(pU, UPseqPW)
    emitU(pU, UPseqPDS)
    emitU(cU, UPseqCDS)
    emit(h(h(hDsGS(hc(hDsGS(FnvOffset, p), '-'), c), "-PSEQpcDS"), suffixCpC))
    emitU(pU, UPseqPS)
    emitU(cU, UPseqCS)
    emit(h(h(h(hc(h(FnvOffset, pShapeGS), '-'), cShapeGS), "-PSEQpcS"), suffixCpC))
    emit(h(h(h(hc(h(FnvOffset, pShapeGS), '-'), cShapeGS), "-TYPES"), suffixCpC))
    if (misc.useTypeSeqs3) // pShape(gs)-cShape(gs)-nShape(GET)-PCNSHAPES
      emit(h(h(hShapeGet(hc(h(hc(h(FnvOffset, pShapeGS), '-'), cShapeGS), '-'), nt), "-PCNSHAPES"), suffixCpC))
    emitU(cU, UTps2)
    emitU(nU, UTns1)
    if (useTaggySeq && useTags)
      emit(h(h(hTagGS(hc(hTagGS(FnvOffset, p), '-'), c), "-TS"), suffixCpC))
    if (useTaggySeq && useDistSim) // DISTSIM_TS1 (:1586-1587; was missing)
      emit(h(h(hDsGet(hc(hDsGet(FnvOffset, p), '-'), c), "-DISTSIM_TS1"), suffixCpC))
    if (parenMatching) {
      val hit = if (reverse) NerFeatures.isOpen(cWord) && NerFeatures.isClose(pWord)
                else NerFeatures.isClose(cWord) && NerFeatures.isOpen(pWord)
      if (hit) emit(hParenCpC)
    }
    if (misc.useAbbr || misc.useMinimalAbbr)
      emit(hPabbrans) // (:1531-1533)
    if (misc.useChunkySequences) // useChunkySequences (:1541-1543)
      emit(h(h(hChunkGet(hc(hChunkGet(hc(hChunkGet(FnvOffset, p), '-'), c), '-'), nt), "-PCNCHUNK"), suffixCpC))
    if (misc.useEntityTypeSequences) emit(hConstC("null-null-ETSEQ|CpC"))
    if (misc.useURLSequences) emit(hConstC("null-null-URLSEQ|CpC"))
    if (misc.useNextSequences) { // folded CnC family (word at loc-1), "|CnC"
      emit(hNseq)
      emit(h(h(h(FnvOffset, pWord), "-NSEQW"), suffixCnC))
    }
    val g1n = resolve(1, memo.dict, scratch, hn)

    // ---- group 2: CpCp2C ----
    hn = 0
    if (misc.useAbbr) emit(h2Pabbrans) // (:1789-1791)
    if (misc.useChunks) // useChunks (:1792-1794)
      emit(h(h(hChunkGet(hc(hChunkGet(hc(hChunkGet(FnvOffset, p2), '-'), p), '-'), c), "-2PCHUNKS"), suffixCpCp2C))
    emit(hPpseq)
    if (pWord == NerFeatures.Boundary) emit(hBndryPpseq)
    if (useTaggySeq && useTags) {
      val tts = hTagGS(hc(hTagGS(hc(hTagGS(FnvOffset, p2), '-'), p), '-'), c)
      emit(h(h(tts, "-TTS"), suffixCpCp2C))
      if (misc.useTaggySequencesShapeInteraction)
        emit(h(h(hShapeGet(hc(tts, '-'), c), "-TTS-CS"), suffixCpCp2C))
    }
    if (useTaggySeq && useDistSim) { // DISTSIM_TTS1 (:1819-1824; was missing)
      val dts = hDsGet(hc(hDsGet(hc(hDsGet(FnvOffset, p2), '-'), p), '-'), c)
      emit(h(h(dts, "-DISTSIM_TTS1"), suffixCpCp2C))
      if (misc.useTaggySequencesShapeInteraction)
        emit(h(h(hShapeGet(hc(dts, '-'), c), "-DISTSIM_TTS1-CS"), suffixCpCp2C))
    }
    // Cp2C abbr constants (:1655-1661; the never-set AbbrAnnotation rule)
    if (misc.useMoreAbbr) emit(hConstC("null-null-P2ABBRANS|Cp2C"))
    if (misc.useMinimalAbbr) emit(hConstC("null-null-P2AP2CABB|Cp2C"))
    if (parenMatching) {
      val hit = if (reverse)
        NerFeatures.isOpen(cWord) && NerFeatures.isClose(p2.word) && !NerFeatures.isClose(pWord)
      else
        NerFeatures.isClose(cWord) && NerFeatures.isOpen(p2.word) && !NerFeatures.isOpen(pWord)
      if (hit) emit(hParenCp2C)
    }
    emit(h(h(hShapeGet(hc(hShapeGet(hc(hShapeGet(FnvOffset, p2), '-'), p), '-'), c), "-TYPETYPES"), suffixCpCp2C))
    if (misc.useNextSequences) { // folded CpCnC family (word at loc-1), "|CpCnC"
      emit(hPnseq)
      emit(h(h(h(FnvOffset, pWord), "-PNSEQW"), suffixCpCnC))
    }
    val g2n = resolve(2, memo.dict, scratch, hn)

    Array(
      java.util.Arrays.copyOf(scratch.ids(0), g0n),
      java.util.Arrays.copyOf(scratch.ids(1), g1n),
      java.util.Arrays.copyOf(scratch.ids(2), g2n))
  }

  /** Drain scratch.hashes(0 until hn) into scratch.ids(g): memoized ids as
    * they are, the other hashes through the dict. */
  private def resolve(g: Int, dict: LongIntHash, scratch: Scratch, hn: Int): Int = {
    if (scratch.ids(g).length < hn)
      scratch.ids(g) = new Array[Int](Integer.highestOneBit(hn - 1) << 1)
    val out = scratch.ids(g)
    var n = 0
    var i = 0
    while (i < hn) {
      val known = scratch.hids(i)
      val id = if (known == Unresolved) dict.get(scratch.hashes(i)) else known
      if (id >= 0) { out(n) = id; n += 1 }
      i += 1
    }
    n
  }

  /** FNV-1a of a full string (must equal graft.ops.Hashing.fnv1a64). */
  def fnv(s: String): Long = h(FnvOffset, s)
}
