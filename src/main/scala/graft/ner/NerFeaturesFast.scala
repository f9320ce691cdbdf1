package graft.ner

/** Allocation-free feature ids for the conllNoTags preset.
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
  * It covers the preset's templates only. A model that sets any optional
  * family (gazettes, occurrence patterns, distsim, POS tags, paren matching,
  * n-gram options, another disjunction width, misc flags, generic columns)
  * encodes through `NerFeatures` instead; `NerModel.hashesFeatures` chooses.
  *
  * Templates that read exactly one token (the preset's n-grams, WORD, PW,
  * NW, TYPE, PTYPE, NTYPE, DISJN, DISJP and the single-token PSEQ/TPS2/TNS1
  * sequence templates) are hashed and resolved once per distinct token into
  * a `Unary`, kept in a per-dictionary `UnaryMemo` (bounded by the heap its
  * entries take; emptied when full). `idsAt` emits each cached hash and id at
  * the same point of its sequence as the template it stands for, so ids and
  * their order match the string path. A `Unary` also keeps the FNV states of
  * the token's leading parts of the multi-token templates (its word, shape
  * or cluster followed by `-` or `...`), so those templates hash only the
  * rest of their string. The memo pays off when words repeat
  * ACROSS documents: on the benchmark's conversations (a closed vocabulary
  * of a few hundred words, about nine tokens a turn) over 99.9% of lookups
  * hit it, while only 0.3% of tokens repeat within their own document, and a
  * per-document memo tagged no faster than hashing per position.
  * Open-vocabulary traffic has not been measured.
  *
  * Only the DISJN/DISJP emits are deduplicated (against each other), besides
  * the n-gram block (deduplicated in its `Unary`). Every other template's
  * string ends in its own name, and no name is the tail of another's except
  * -PW/-W-PW, -NW/-W-NW and PPSEQ/BNDRY-SPAN-PPSEQ: a W-PW string is longer
  * than the PW string of the same position, and the PPSEQ pair are distinct
  * constants. So no two other emits of one position can be equal, and the
  * string path's set semantics hold without a scan (FeatureParitySpec checks
  * the names and adversarial words).
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
  // distsim via `getString` semantics: absent -> ""
  @inline private def hDsGS(acc: Long, t: Tok): Long =
    if (t.ds == null) acc else h(acc, t.ds)

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
    * `idsAt` reserves one group's most emits up front: the token's n-gram
    * block plus `G0Emits`, so no emit checks the capacity. 4096 covers
    * typical tokens; the buffers GROW on demand because the ngram family
    * emits ~2x(token length) hashes and the tokenizer places no bound on
    * alphanumeric run length (a >2030-char token — long base64/hash IDs —
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
  // token's n-grams from NgramStart on
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
    * emission order. The other fields are FNV states after the token's
    * leading part of a multi-token template: its word (`word`), its shape
    * with getString (`shape`, null reads "") or get (`shapeGet`, null reads
    * "null") semantics, or its cluster (`ds`, getString), then `-` (`…Dash`)
    * or `...` (`…Dots`). Immutable, so safely shared across task threads.
    */
  final class Unary private[NerFeaturesFast] (val hs: Array[Long], val ids: Array[Int],
      val wordDash: Long, val wordDots: Long, val shapeDash: Long, val shapeDots: Long,
      val shapeGetDash: Long, val shapeGetDots: Long, val dsDash: Long)

  /** Hashes every single-token template of `t` (the bytes of the string
    * path's feature), plus its n-grams, and resolves them in `dict`.
    */
  private def unary(t: Tok, dict: LongIntHash): Unary = {
    val w = t.word
    val hw = h(FnvOffset, w)
    val hShape = h(FnvOffset, if (t.shape == null) "" else t.shape)
    val hShapeG = hShapeGet(FnvOffset, t)
    val hDs = hDsGS(FnvOffset, t)
    var hs = new Array[Long](NgramStart + 2 * w.length + 1)
    hs(UWord) = h(hw, "-WORD|C")
    hs(UPw) = h(hw, "-PW|C")
    hs(UNw) = h(hw, "-NW|C")
    hs(UType) = h(hShape, "-TYPE|C")
    hs(UPType) = h(hShapeG, "-PTYPE|C")
    hs(UNType) = h(hShapeG, "-NTYPE|C")
    hs(UDisjN) = h(hw, "-DISJN|C")
    hs(UDisjP) = h(hw, "-DISJP|C")
    hs(UPseqW) = h(hw, "-PSEQW|CpC")
    hs(UPseqPW) = h(hw, "-PSEQpW|CpC")
    hs(UPseqPS) = h(hShape, "-PSEQpS|CpC")
    hs(UPseqCS) = h(hShape, "-PSEQcS|CpC")
    hs(UPseqPDS) = h(hDs, "-PSEQpDS|CpC")
    hs(UPseqCDS) = h(hDs, "-PSEQcDS|CpC")
    hs(UTps2) = h(hShapeG, "-TPS2|CpC")
    hs(UTns1) = h(hShapeG, "-TNS1|CpC")
    // the preset's n-grams over <word> (virtual < > padding): prefixes and
    // suffixes only (noMidNGrams), deduplicated like `idsAt`'s emit
    var n = NgramStart
    val wLen = w.length + 2
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
          x = h(x, "#|C")
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
    new Unary(hs, ids, hc(hw, '-'), h(hw, "..."), hc(hShape, '-'), h(hShape, "..."),
      hc(hShapeG, '-'), h(hShapeG, "..."), hc(hDs, '-'))
  }

  /** Token → `Unary` memo for ONE dictionary (a model holds its own, so ids
    * of one dictionary never reach another), together with the word → `Tok`
    * cache whose tokens key it. The heap of
    * both maps' entries, charged per entry by `UnaryMemo.tokCost` and
    * `UnaryMemo.cost`, stays under `UnaryMemo.MaxBytes`: an entry that would
    * pass it empties both maps first, so words that keep coming back return
    * after one-off tokens (IDs, numbers, URLs) have filled them, and the
    * memo's keys stay the cache's own tokens. Entries go in through
    * `putIfAbsent` of concurrent maps, so task threads share them safely.
    */
  final class UnaryMemo(val dict: LongIntHash) {
    private val toks = new java.util.concurrent.ConcurrentHashMap[String, Tok]()
    private val map = new java.util.concurrent.ConcurrentHashMap[Tok, Unary]()
    private val used = new java.util.concurrent.atomic.AtomicLong()
    /** The entry of the padding token read outside the document. */
    val pad: Unary = unary(NerFeatures.Pad, dict)

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
      val u = unary(t, dict)
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
      * with compressed oops: the map node, the `Unary` (56 bytes of it the
      * seven prefix states) and its two arrays' headers. Its key is charged
      * with its word (`tokCost`). */
    final val EntryBytes = 180L
    /** Heap of one cached token besides its strings' characters: the map
      * node, the `Tok` and the word and shape strings' headers. Measured on
      * JDK 17, a 9-char word's token retains 176-194 bytes (charged 196). */
    final val TokBytes = 150L
    /** 64 MiB: about 84k words of 9 chars (35 slots; 800 bytes charged for
      * the entry and its token, 801 retained). */
    final val MaxBytes: Long = 64L << 20
    /** Heap charged to `u`: `EntryBytes` plus 12 bytes a slot (a hash and an
      * id; measured 11.8). */
    def cost(u: Unary): Long = EntryBytes + 12L * u.hs.length
    /** Heap charged to the token `t` of word `w`: `TokBytes` plus two bytes
      * a char of its strings (the fixed word counted even when it is `w`). */
    def tokCost(w: String, t: Tok): Long =
      TokBytes + 2L * (w.length + t.word.length + t.shape.length)
  }

  private val hPseq = fnv("PSEQ|CpC")
  private val hPpseq = fnv("PPSEQ|CpCp2C")
  private val hBndryPpseq = fnv("BNDRY-SPAN-PPSEQ|CpCp2C")
  // the preset's disjunctionWidth
  private final val DisjWidth = 4
  /** Most emits of one position's group besides the n-gram block: the 23 of
    * group 0 (groups 1 and 2 emit 13 and 3). */
  private final val G0Emits = 23

  /** Compute deduplicated feature IDS per clique group at `loc`, mirroring
    * NerFeatures.featuresAt under the preset + dictionary lookup. Unseen
    * features (id -1) are dropped, matching CRFClassifier.java:200-207.
    * `un` holds the memo entries of `toks` (`memo.row`); tokens outside the
    * document read `memo.pad`. Returns per-group arrays sliced from scratch.
    */
  def idsAt(toks: IndexedSeq[Tok], un: Array[Unary], loc: Int, memo: UnaryMemo,
      scratch: Scratch): Array[Array[Int]] = {
    @inline def at(i: Int): Tok = if (i >= 0 && i < toks.length) toks(i) else NerFeatures.Pad
    @inline def u(i: Int): Unary = if (i >= 0 && i < un.length) un(i) else memo.pad
    val c = at(loc); val p = at(loc - 1); val nt = at(loc + 1)
    val cWord = c.word; val pWord = p.word; val nWord = nt.word
    val cU = u(loc); val pU = u(loc - 1); val nU = u(loc + 1)

    // the first emissions of group 0 are the token's memoized n-gram block,
    // already deduplicated
    var hn = cU.hs.length - NgramStart
    scratch.reserve(hn + G0Emits)
    val hb = scratch.hashes
    val hi = scratch.hids
    System.arraycopy(cU.hs, NgramStart, hb, 0, hn)
    System.arraycopy(cU.ids, NgramStart, hi, 0, hn)
    // no template's string can equal another's (see the header), so an emit
    // appends without a scan
    def push(x: Long, id: Int): Unit = { hb(hn) = x; hi(hn) = id; hn += 1 }
    def emit(x: Long): Unit = push(x, Unresolved)
    def emitU(e: Unary, slot: Int): Unit = push(e.hs(slot), e.ids(slot))

    // ---- group 0 ----
    emitU(cU, UWord)
    emitU(pU, UPw)
    emitU(nU, UNw)
    emit(h(h(cU.wordDash, pWord), "-W-PW|C"))
    emit(h(h(cU.wordDash, nWord), "-W-NW|C"))
    val cShapeGS = if (c.shape == null) "" else c.shape
    emitU(cU, UType)
    emitU(pU, UPType)
    emitU(nU, UNType)
    emit(h(h(pU.wordDots, cShapeGS), "-PW_CTYPE|C"))
    emit(h(h(cU.shapeDots, nWord), "-NW_CTYPE|C"))
    val pcShapes = h(pU.shapeGetDots, cShapeGS)
    emit(h(pcShapes, "-PCTYPE|C"))
    emit(h(hShapeGet(cU.shapeDots, nt), "-CNTYPE|C"))
    emit(h(hShapeGet(h(pcShapes, "..."), nt), "-PCNTYPE|C"))
    if (pWord.length <= 3) emit(h(h(u(loc - 2).wordDots, cShapeGS), "-PPW_CTYPE|C"))
    if (nWord.length <= 3) emit(h(h(u(loc + 2).wordDots, cShapeGS), "-NNW_CTYPE|C"))
    // DISJN/DISJP repeat when a word (or the pad) repeats within the width:
    // the one block that needs the string path's dedup, against itself only
    val disj = hn
    def emitDisj(e: Unary, slot: Int): Unit = {
      val x = e.hs(slot)
      var i = disj
      while (i < hn && hb(i) != x) i += 1
      if (i == hn) push(x, e.ids(slot))
    }
    var d = 1
    while (d <= DisjWidth) {
      emitDisj(u(loc + d), UDisjN)
      emitDisj(u(loc - d), UDisjP)
      d += 1
    }
    val g0n = resolve(0, memo.dict, scratch, hn)

    // ---- group 1: CpC ----
    hn = 0
    emit(hPseq)
    emitU(cU, UPseqW)
    emit(h(h(pU.wordDash, cWord), "-PSEQW2|CpC"))
    emitU(pU, UPseqPW)
    emitU(pU, UPseqPDS)
    emitU(cU, UPseqCDS)
    emit(h(hDsGS(pU.dsDash, c), "-PSEQpcDS|CpC"))
    emitU(pU, UPseqPS)
    emitU(cU, UPseqCS)
    val pcShape = h(pU.shapeDash, cShapeGS)
    emit(h(pcShape, "-PSEQpcS|CpC"))
    emit(h(pcShape, "-TYPES|CpC"))
    emitU(cU, UTps2)
    emitU(nU, UTns1)
    val g1n = resolve(1, memo.dict, scratch, hn)

    // ---- group 2: CpCp2C ----
    hn = 0
    emit(hPpseq)
    if (pWord == NerFeatures.Boundary) emit(hBndryPpseq)
    emit(h(hShapeGet(hc(hShapeGet(u(loc - 2).shapeGetDash, p), '-'), c), "-TYPETYPES|CpCp2C"))
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
