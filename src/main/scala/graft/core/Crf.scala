package graft.core

/** Linear-chain CRF with windowed label cliques.
  *
  * Semantics follow the reference engine's factor-table formulation
  * (/root/reference/src/edu/stanford/nlp/ie/crf/FactorTable.java:16-29,
  * CRFCliqueTree.java:471-531, sequences/ExactBestSequenceFinder.java:94-230)
  * re-derived as plain Scala suitable for partition-local execution inside
  * Spark typed closures: the per-document data never leaves the closure, so
  * primitive arrays (not Catalyst rows) are the right physical layout.
  *
  * Model shape:
  *  - `windowSize` w: the log-potential at position i is a function of the
  *    label window (y_{i-w+1} .. y_i); labels before the document are fixed
  *    to `backgroundIndex` (pad semantics of CRFClassifier.java:538-575).
  *  - Features attach to *suffix clique groups* g = 0..w-1: a group-g feature
  *    at position i scores the (g+1)-label suffix (y_{i-g} .. y_i).
  *  - Encoding: a window (a, b, c) of size m over C classes is the mixed-radix
  *    int a*C^(m-1) + b*C + c (oldest label in the highest radix position), so
  *    the length-m suffix of a full window enc is simply `enc % C^m`.
  */
object Crf {

  /** Per-document encoded features: feats(pos)(group) = active feature ids. */
  type EncodedDoc = Array[Array[Array[Int]]]

  /** Immutable model parameters, broadcast-friendly.
    *
    * @param weightCol  weightCol(g)(suffixEnc) = column index into a group-g
    *                   feature's weight row, or -1 if that label window is not
    *                   in the model (observed-sequences-only training).
    * @param weights    weights(featureId) = row of length numCols(group(featureId)).
    */
  final class Params(
      val numClasses: Int,
      val windowSize: Int,
      val backgroundIndex: Int,
      val weightCol: Array[Array[Int]],
      val weights: Array[Array[Double]]
  ) extends Serializable {
    require(weightCol.length == windowSize)
    val fullSize: Int = pow(numClasses, windowSize)
    val numStates: Int = pow(numClasses, windowSize - 1)
    /** Encoded all-background state of w-1 labels (the pre-document state). */
    val initState: Int = {
      var s = 0; var i = 0
      while (i < windowSize - 1) { s = s * numClasses + backgroundIndex; i += 1 }
      s
    }
    /** scoredCells(g): the group-g label windows the model scores
      * (`weightCol(g)(e) >= 0`) in increasing order; scoredCols(g) their
      * columns. Built on first use in each JVM, O(C^w). */
    @transient lazy val scoredCells: Array[Array[Int]] =
      weightCol.map(cols => cols.indices.filter(cols(_) >= 0).toArray)
    @transient lazy val scoredCols: Array[Array[Int]] =
      weightCol.map(_.filter(_ >= 0))
  }

  def pow(base: Int, exp: Int): Int = {
    var r = 1; var i = 0
    while (i < exp) { r *= base; i += 1 }
    r
  }

  private val NegInf = Double.NegativeInfinity

  /** Stable log(sum(exp(xs))) over a primitive array slice. */
  def logSumExp(xs: Array[Double]): Double = {
    var max = NegInf
    var i = 0
    while (i < xs.length) { if (xs(i) > max) max = xs(i); i += 1 }
    if (max == NegInf) return NegInf
    var s = 0.0
    i = 0
    while (i < xs.length) { s += math.exp(xs(i) - max); i += 1 }
    max + math.log(s)
  }

  /** Per-position log-potential tables over the full C^w window space.
    * table(pos)(fullEnc) = sum over groups g of the weights of active group-g
    * features at pos for the suffix `fullEnc % C^(g+1)`.
    * (Reference semantic: CRFCliqueTree.getFactorTable, CRFCliqueTree.java:497-531.)
    *
    * A group's scored cells (`Params.scoredCells`) are filled four per pass
    * over its features, in four independent sums; each cell still adds
    * 0.0 + w(f0) + w(f1) + ... in feature order, so every table is
    * bit-identical to one sum per cell. Disallowed windows are -infinity.
    */
  def logPotentials(doc: EncodedDoc, p: Params): Array[Array[Double]] = {
    val C = p.numClasses
    val w = p.windowSize
    val full = p.fullSize
    val n = doc.length
    val out = new Array[Array[Double]](n)
    val weights = p.weights
    val cells = p.scoredCells
    val cellCols = p.scoredCols
    // scratch per-group suffix score vectors
    val groupScore = Array.tabulate(w)(g => new Array[Double](pow(C, g + 1)))
    var pos = 0
    while (pos < n) {
      var g = 0
      while (g < w) {
        val gs = groupScore(g)
        java.util.Arrays.fill(gs, NegInf) // disallowed label windows stay
        val feats = doc(pos)(g)
        val es = cells(g)
        val cols = cellCols(g)
        val last = es.length - 1
        var j = 0
        while (j <= last) {
          // a last pass of fewer than four cells repeats its last cell
          val j1 = math.min(j + 1, last); val j2 = math.min(j + 2, last); val j3 = math.min(j + 3, last)
          val c0 = cols(j); val c1 = cols(j1); val c2 = cols(j2); val c3 = cols(j3)
          var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
          var k = 0
          while (k < feats.length) {
            val row = weights(feats(k))
            s0 += row(c0); s1 += row(c1); s2 += row(c2); s3 += row(c3)
            k += 1
          }
          gs(es(j)) = s0; gs(es(j1)) = s1; gs(es(j2)) = s2; gs(es(j3)) = s3
          j += 4
        }
        g += 1
      }
      // Level g holds the sums over groups 0..g of every suffix of g+1
      // labels: level(e) = level_{g-1}(e % C^g) + groupScore(g)(e), built in
      // place, with the index into the previous level wrapping at C^g instead
      // of a division per cell. Each cell adds the groups in the order
      // 0.0 + g0 + g1 + ..., so the last level is the full table.
      val table = new Array[Double](full)
      var prev: Array[Double] = null
      g = 0
      while (g < w) {
        val gs = groupScore(g)
        val level = if (g == w - 1) table else gs
        var e = 0
        if (prev == null) while (e < gs.length) { level(e) = 0.0 + gs(e); e += 1 }
        else {
          var i = 0
          while (e < gs.length) {
            level(e) = prev(i) + gs(e)
            i += 1
            if (i == prev.length) i = 0
            e += 1
          }
        }
        prev = level
        g += 1
      }
      out(pos) = table
      pos += 1
    }
    out
  }

  /** Viterbi decode: argmax_y sum_i psi_i(window_i(y)). Returns label per position.
    * (Reference semantic: ExactBestSequenceFinder.java:94-230 specialized to the
    * left-window chain; states are the w-1 most recent labels.)
    */
  def viterbi(potentials: Array[Array[Double]], p: Params): Array[Int] = {
    val C = p.numClasses
    val S = p.numStates
    val n = potentials.length
    if (n == 0) return Array.emptyIntArray
    val delta = new Array[Double](S)
    val deltaNext = new Array[Double](S)
    val back = Array.ofDim[Int](n, S)
    java.util.Arrays.fill(delta, NegInf)
    delta(p.initState) = 0.0
    var pos = 0
    while (pos < n) {
      java.util.Arrays.fill(deltaNext, NegInf)
      val psi = potentials(pos)
      var s = 0
      while (s < S) {
        val ds = delta(s)
        if (ds != NegInf) {
          var c = 0
          while (c < C) {
            val fullEnc = s * C + c
            val sNext = fullEnc % S
            val v = ds + psi(fullEnc)
            if (v > deltaNext(sNext)) { deltaNext(sNext) = v; back(pos)(sNext) = s }
            c += 1
          }
        }
        s += 1
      }
      System.arraycopy(deltaNext, 0, delta, 0, S)
      pos += 1
    }
    // best final state, then backtrace; the emitted label at pos is state % C
    var best = 0
    var bestV = NegInf
    var s = 0
    while (s < S) { if (delta(s) > bestV) { bestV = delta(s); best = s }; s += 1 }
    val labels = new Array[Int](n)
    var st = best
    var pos2 = n - 1
    while (pos2 >= 0) {
      labels(pos2) = st % C
      st = back(pos2)(st)
      pos2 -= 1
    }
    labels
  }

  /** Beam-limited decode (reference semantic: BeamBestSequenceFinder,
    * /root/reference/src/edu/stanford/nlp/sequences/BeamBestSequenceFinder.java:176-230):
    * keeps the `beamSize` highest-scoring label PREFIXES at each position —
    * a sequence-level beam with no state merging, exactly like the
    * reference's TagSeq beam (two prefixes ending in the same window both
    * occupy slots). The speed/accuracy knob for wide label sets: cost is
    * O(n * beam * C) independent of C^w; exactness at beamSize -> inf is
    * property-tested against `viterbi`.
    */
  def beamViterbi(potentials: Array[Array[Double]], p: Params, beamSize: Int): Array[Int] = {
    val C = p.numClasses
    val S = p.numStates
    val n = potentials.length
    if (n == 0) return Array.emptyIntArray
    require(beamSize >= 1)
    // hypothesis = score + state + backpointer chain
    final class Hyp(val prev: Hyp, val label: Int, val state: Int, val score: Double)
    var beam = Array(new Hyp(null, -1, p.initState, 0.0))
    var pos = 0
    val cand = scala.collection.mutable.ArrayBuffer[Hyp]()
    while (pos < n) {
      val psi = potentials(pos)
      cand.clear()
      var i = 0
      while (i < beam.length) {
        val hcur = beam(i)
        var c = 0
        while (c < C) {
          val fullEnc = hcur.state * C + c
          val v = psi(fullEnc)
          if (v != NegInf)
            cand += new Hyp(hcur, c, fullEnc % S, hcur.score + v)
          c += 1
        }
        i += 1
      }
      // top beamSize by score; stable on ties (insertion order) for determinism
      beam = cand.zipWithIndex
        .sortBy { case (hyp, idx) => (-hyp.score, idx) }
        .take(beamSize).map(_._1).toArray
      pos += 1
    }
    val labels = new Array[Int](n)
    var hcur = beam(0)
    var pos2 = n - 1
    while (pos2 >= 0) { labels(pos2) = hcur.label; hcur = hcur.prev; pos2 -= 1 }
    labels
  }

  /** K-best Viterbi decode (reference semantic: KBestSequenceFinder,
    * /root/reference/src/edu/stanford/nlp/sequences/KBestSequenceFinder.java:19-23):
    * the k highest-scoring label sequences with their joint scores, best first.
    * Standard k-best extension of the window-chain recurrence: each (pos,
    * state) keeps its top-k partial derivations.
    */
  def kBestViterbi(potentials: Array[Array[Double]], p: Params, k: Int): Seq[(Array[Int], Double)] = {
    val C = p.numClasses
    val S = p.numStates
    val n = potentials.length
    if (n == 0) return Seq((Array.emptyIntArray, 0.0))
    // entry = (score, prevState, prevRank); per (pos, state) sorted desc
    final case class Ent(score: Double, prevState: Int, prevRank: Int)
    val best = Array.ofDim[Vector[Ent]](n, S)
    var pos = 0
    while (pos < n) {
      val psi = potentials(pos)
      var sNext = 0
      while (sNext < S) {
        val cand = Vector.newBuilder[Ent]
        // predecessors of sNext = states s with s*C + c ≡ sNext (mod S), c = sNext % C
        val c = sNext % C
        val aMax = if (S >= C) C else 1 // w=1: single empty context state
        var a = 0
        while (a < aMax) {
          val s = (sNext / C) + a * (S / C) // prepend class a to the w-2 recent labels
          val fullEnc = s * C + c
          if (fullEnc % S == sNext) {
            if (pos == 0) {
              if (s == p.initState && psi(fullEnc) != NegInf)
                cand += Ent(psi(fullEnc), s, -1)
            } else {
              val prev = best(pos - 1)(s)
              var r = 0
              while (r < prev.length) {
                val sc = prev(r).score + psi(fullEnc)
                if (sc != NegInf) cand += Ent(sc, s, r)
                r += 1
              }
            }
          }
          a += 1
        }
        best(pos)(sNext) = cand.result().sortBy(-_.score).take(k)
        sNext += 1
      }
      pos += 1
    }
    // gather global top-k over final states, then backtrace
    val finals = for {
      s <- 0 until S
      (e, r) <- best(n - 1)(s).zipWithIndex
    } yield (e.score, s, r)
    finals.sortBy(-_._1).take(k).map { case (score, sEnd, rEnd) =>
      val labels = new Array[Int](n)
      var s = sEnd; var r = rEnd; var i = n - 1
      while (i >= 0) {
        labels(i) = s % C
        val e = best(i)(s)(r)
        s = e.prevState; r = e.prevRank
        i -= 1
      }
      (labels, score)
    }
  }

  /** Result of the forward-backward (clique-tree calibration) pass:
    * logZ and per-position posterior log P(full window = enc | x).
    * (Reference semantic: CRFCliqueTree.getCalibratedCliqueTree,
    * CRFCliqueTree.java:471-495.)
    */
  final class Calibrated(val logZ: Double, val logMarginals: Array[Array[Double]])

  /** Marginal + conditional query surface over a calibrated tree — the
    * reference's CRFCliqueTree queries (logProb/prob at one or more positions,
    * condLogProbGivenPrevious/Next; CRFCliqueTree.java:185-448). All values
    * are normalized log-probabilities (our calibrated tables already divide
    * by Z, so the reference's `- z` terms cancel identically).
    *
    * Deviation, documented: the reference's condLogProbGivenNext branches for
    * |next|+1 != windowSize pass (next, label) to conditionalLogProbGivenPREVIOUS,
    * transposing which end of the window is conditioned on — a latent bug in
    * paths its own callers never exercise (CRFClassifier always conditions on
    * exactly windowSize-1 labels). We compute the positionally correct
    * conditional in every branch; the |next|+1 == windowSize branch matches
    * the reference exactly.
    */
  final class Marginals(cal: Calibrated, p: Params) {
    private val C = p.numClasses
    private val w = p.windowSize

    def length: Int = cal.logMarginals.length

    private def enc(labels: Array[Int]): Int = {
      var e = 0
      var i = 0
      while (i < labels.length) { e = e * C + labels(i); i += 1 }
      e
    }

    /** Marginal table over the newest k window slots at pos (sumOutFront
      * repeated w-k times, FactorTable.java:418-433).
      */
    private def reduced(pos: Int, k: Int): Array[Double] = {
      require(k >= 1 && k <= w)
      val full = cal.logMarginals(pos)
      if (k == w) return full
      val size = pow(C, k)
      val t = Array.fill(size)(NegInf)
      var e = 0
      while (e < full.length) {
        val v = full(e)
        if (v != NegInf) {
          val i = e % size
          val cur = t(i)
          t(i) =
            if (cur == NegInf) v
            else if (cur > v) cur + math.log1p(math.exp(v - cur))
            else v + math.log1p(math.exp(cur - v))
        }
        e += 1
      }
      t
    }

    /** log P(labels end at pos): labels(last) is the label AT pos, the others
      * precede it (CRFCliqueTree.logProb(int, int[]), :238-259). Lengths
      * beyond windowSize chain via conditionals, exactly like the reference.
      */
    def logProb(pos: Int, labels: Array[Int]): Double = {
      val len = labels.length
      if (len < w) reduced(pos, len)(enc(labels))
      else if (len == w) cal.logMarginals(pos)(enc(labels))
      else {
        var l = labels.slice(0, w)
        var pos1 = pos - len + w
        var lp = cal.logMarginals(pos1)(enc(l))
        var prev = labels.slice(1, w)
        var i = w
        while (i < len) {
          pos1 += 1
          lp += condLogProbGivenPrevious(pos1, labels(i), prev)
          System.arraycopy(prev, 1, prev, 0, prev.length - 1)
          prev(prev.length - 1) = labels(i)
          i += 1
        }
        lp
      }
    }

    def logProb(pos: Int, label: Int): Double = logProb(pos, Array(label))
    def prob(pos: Int, label: Int): Double = math.exp(logProb(pos, label))
    def prob(pos: Int, labels: Array[Int]): Double = math.exp(logProb(pos, labels))

    /** log P(y_pos = label | y_{pos-|prev|..pos-1} = prev); more than w-1
      * conditioning labels truncate to the nearest w-1 (Markov property —
      * same as CRFCliqueTree.condLogProbGivenPrevious, :353-367).
      */
    def condLogProbGivenPrevious(pos: Int, label: Int, prev: Array[Int]): Double = {
      val k = prev.length + 1
      if (k > w) return condLogProbGivenPrevious(pos, label, prev.takeRight(w - 1))
      val t = reduced(pos, k)
      val base = enc(prev) * C
      var z = NegInf
      var c = 0
      while (c < C) {
        val v = t(base + c)
        if (v != NegInf)
          z = if (z == NegInf) v
              else if (z > v) z + math.log1p(math.exp(v - z))
              else v + math.log1p(math.exp(z - v))
        c += 1
      }
      t(base + label) - z
    }

    /** log P(y_pos = label | y_{pos+1..pos+|next|} = next); more than w-1
      * conditioning labels truncate to the nearest w-1.
      */
    def condLogProbGivenNext(pos: Int, label: Int, next: Array[Int]): Double = {
      if (next.length + 1 > w) return condLogProbGivenNext(pos, label, next.take(w - 1))
      val k = next.length + 1
      val t = reduced(pos + next.length, k)
      val stride = pow(C, k - 1)
      val nextEnc = enc(next)
      var z = NegInf
      var c = 0
      while (c < C) {
        val v = t(c * stride + nextEnc)
        if (v != NegInf)
          z = if (z == NegInf) v
              else if (z > v) z + math.log1p(math.exp(v - z))
              else v + math.log1p(math.exp(z - v))
        c += 1
      }
      t(label * stride + nextEnc) - z
    }
  }

  def forwardBackward(potentials: Array[Array[Double]], p: Params): Calibrated = {
    val C = p.numClasses
    val S = p.numStates
    val full = p.fullSize
    val n = potentials.length
    if (n == 0) return new Calibrated(0.0, Array.empty)
    // alpha(i)(s) = log sum over prefixes ending in state s after position i
    val alpha = Array.ofDim[Double](n, S)
    val acc = new Array[Double](S) // scratch: contributions per predecessor
    var pos = 0
    while (pos < n) {
      val psi = potentials(pos)
      val prev: Array[Double] = if (pos == 0) null else alpha(pos - 1)
      var sNext = 0
      while (sNext < S) { alpha(pos)(sNext) = NegInf; sNext += 1 }
      var s = 0
      while (s < S) {
        val base = if (pos == 0) { if (s == p.initState) 0.0 else NegInf } else prev(s)
        if (base != NegInf) {
          var c = 0
          while (c < C) {
            val fullEnc = s * C + c
            val tgt = fullEnc % S
            val v = base + psi(fullEnc)
            val cur = alpha(pos)(tgt)
            // incremental logAdd
            alpha(pos)(tgt) =
              if (cur == NegInf) v
              else if (v == NegInf) cur
              else if (cur > v) cur + math.log1p(math.exp(v - cur))
              else v + math.log1p(math.exp(cur - v))
            c += 1
          }
        }
        s += 1
      }
      pos += 1
    }
    val logZ = logSumExp(alpha(n - 1))
    // beta(i)(s) = log sum over suffixes starting after position i from state s
    val beta = Array.ofDim[Double](n, S)
    java.util.Arrays.fill(beta(n - 1), 0.0)
    pos = n - 2
    while (pos >= 0) {
      val psi = potentials(pos + 1)
      var s = 0
      while (s < S) {
        var c = 0
        var m = NegInf
        var k = 0
        while (c < C) {
          val fullEnc = s * C + c
          val v = psi(fullEnc) + beta(pos + 1)(fullEnc % S)
          acc(k) = v; k += 1
          if (v > m) m = v
          c += 1
        }
        var sum = 0.0
        var j = 0
        if (m == NegInf) beta(pos)(s) = NegInf
        else {
          while (j < k) { sum += math.exp(acc(j) - m); j += 1 }
          beta(pos)(s) = m + math.log(sum)
        }
        s += 1
      }
      pos -= 1
    }
    // posterior over full windows: alpha_{i-1}(s) + psi_i(s*C+c) + beta_i((s*C+c)%S) - logZ
    val marg = Array.ofDim[Double](n, full)
    pos = 0
    while (pos < n) {
      val psi = potentials(pos)
      var s = 0
      while (s < S) {
        val aPrev =
          if (pos == 0) { if (s == p.initState) 0.0 else NegInf }
          else alpha(pos - 1)(s)
        var c = 0
        while (c < C) {
          val fullEnc = s * C + c
          marg(pos)(fullEnc) =
            if (aPrev == NegInf) NegInf
            else aPrev + psi(fullEnc) + beta(pos)(fullEnc % S) - logZ
          c += 1
        }
        s += 1
      }
      pos += 1
    }
    new Calibrated(logZ, marg)
  }

  /** Encode the full label window ending at `pos` (pads = background). */
  def windowEnc(labels: Array[Int], pos: Int, p: Params): Int = {
    var enc = 0
    var i = pos - p.windowSize + 1
    while (i <= pos) {
      val y = if (i < 0) p.backgroundIndex else labels(i)
      enc = enc * p.numClasses + y
      i += 1
    }
    enc
  }

  /** Reference-faithful calibrated clique tree — what `-printProbs` /
    * `-printFirstOrderProbs` ACTUALLY print, replicated op-for-op
    * (CRFCliqueTree.getCalibratedCliqueTree, CRFCliqueTree.java:471-497;
    * FactorTable sum-out/multiply-in/divide, FactorTable.java:324-443;
    * SloppyMath.logAdd with LOGTOLERANCE=30, SloppyMath.java:196,248-264;
    * ArrayMath.logSum first-max index-order accumulation, ArrayMath.java:
    * 819-847).
    *
    * THE QUIRK this class preserves — and the exact `Marginals` does not:
    * `getFactorTable` iterates the GLOBAL `labelIndices` at every position
    * (CRFCliqueTree.java:505-520), so the tables at positions 0..windowSize-2
    * carry finite entries for label windows whose PAD coordinates are
    * non-background — labelings no real sequence can have (decode clamps pads
    * to the background tag, CRFClassifier.TestSequenceModel.getPossibleValues,
    * CRFClassifier.java:613-618). This PHANTOM PAD MASS flows into the forward
    * messages and into z, so the reference's printed marginals are NOT the
    * model's true marginals. The contamination factors through the forward
    * message only, hence is CONSTANT along each table row (fixed front
    * coordinates): every row-normalized query — Gibbs sampling conditionals,
    * the search-graph lattice's condLogProbGivenPrevious — cancels it exactly
    * (which is why those differentials match the exact engine to ~1e-13),
    * while cross-row queries (unary/pairwise marginals, z) are off by the
    * phantom-mass fraction (observed ~2.6e-6 absolute on real-model
    * probabilities; up to ~15 nats on deep-tail TABLE entries). Use
    * `Marginals` for true probabilities; use this class only for parity with
    * the reference's printed output.
    */
  object RefCliqueTree {
    private final val LogTolerance = 30.0

    /** SloppyMath.logAdd — note `log(1.0 + x)`, NOT log1p (bit-parity). */
    private def logAdd(lx: Double, ly: Double): Double = {
      var max = 0.0; var negDiff = 0.0
      if (lx > ly) { max = lx; negDiff = ly - lx } else { max = ly; negDiff = lx - ly }
      if (max == Double.NegativeInfinity) max
      else if (negDiff < -LogTolerance) max
      else max + math.log(1.0 + math.exp(negDiff))
    }

    /** ArrayMath.logSum over strided masses: first-max, index-order sum of
      * exp(x-max) for terms above max-30 skipping the max itself.
      */
    private def logSumStrided(t: Array[Double], start: Int, stride: Int, count: Int): Double = {
      var maxIdx = 0
      var max = t(start)
      var i = 1
      while (i < count) {
        val v = t(start + i * stride)
        if (v > max) { maxIdx = i; max = v }
        i += 1
      }
      var haveTerms = false
      var intermediate = 0.0
      val cutoff = max - LogTolerance
      i = 0
      while (i < count) {
        val v = t(start + i * stride)
        if (i != maxIdx && v > cutoff) { haveTerms = true; intermediate += math.exp(v - max) }
        i += 1
      }
      if (haveTerms) max + math.log(1.0 + intermediate) else max
    }

    final class Tables(tables: Array[Array[Double]], p: Params) {
      private val C = p.numClasses
      private val W = p.windowSize
      /** z = totalMass(factorTables[0]) (CRFCliqueTree.java:39). */
      val z: Double = logSumStrided(tables(0), 0, 1, tables(0).length)

      def length: Int = tables.length

      /** FactorTable.unnormalizedLogProbEnd over the indicesEnd stride
        * (FactorTable.java:137-151,307-339): labels are the NEWEST
        * `labels.length` window slots.
        */
      def unnormalizedLogProbEnd(pos: Int, labels: Array[Int]): Double = {
        var idx = 0
        var i = 0
        while (i < labels.length) { idx = idx * C + labels(i); i += 1 }
        val offset = pow(C, labels.length)
        logSumStrided(tables(pos), idx, offset, tables(pos).length / offset)
      }

      /** CRFCliqueTree.prob/logProb (CRFCliqueTree.java:62-84,220-236). */
      def logProb(pos: Int, labels: Array[Int]): Double =
        if (labels.length < W) unnormalizedLogProbEnd(pos, labels) - z
        else {
          var idx = 0
          var i = 0
          while (i < W) { idx = idx * C + labels(i); i += 1 }
          tables(pos)(idx) - z
        }
      def prob(pos: Int, labels: Array[Int]): Double = math.exp(logProb(pos, labels))
      def prob(pos: Int, label: Int): Double = math.exp(logProb(pos, Array(label)))
    }

    /** getCalibratedCliqueTree on the engine's per-position potential tables
      * (which equal the reference's uncalibrated factor tables — feature
      * multisets pinned by RefFeatureDumpSpec, phantom pad entries included).
      */
    def calibrate(potentials: Array[Array[Double]], p: Params): Tables = {
      val C = p.numClasses
      val W = p.windowSize
      val full = pow(C, W)
      val sep = pow(C, W - 1)
      val n = potentials.length
      val tables = Array.tabulate(n)(i => potentials(i).clone())
      val msgs = new Array[Array[Double]](math.max(0, n - 1))
      // FactorTable.sumOutFront: logIncrementValue(x % C^{W-1}) in x order
      def sumOutFront(t: Array[Double]): Array[Double] = {
        val r = Array.fill(sep)(Double.NegativeInfinity)
        var x = 0
        while (x < full) { val j = x % sep; r(j) = logAdd(r(j), t(x)); x += 1 }
        r
      }
      // FactorTable.sumOutEnd: logIncrementValue(x / C) in x order
      def sumOutEnd(t: Array[Double]): Array[Double] = {
        val r = Array.fill(sep)(Double.NegativeInfinity)
        var x = 0
        while (x < full) { val j = x / C; r(j) = logAdd(r(j), t(x)); x += 1 }
        r
      }
      var i = 1
      while (i < n) {
        msgs(i - 1) = sumOutFront(tables(i - 1))
        val t = tables(i); val m = msgs(i - 1)
        var x = 0
        while (x < full) { t(x) += m(x / C); x += 1 } // multiplyInFront, divisor C^{W-(W-1)}
        i += 1
      }
      i = n - 2
      while (i >= 0) {
        val so = sumOutEnd(tables(i + 1))
        val m = msgs(i)
        var x = 0
        while (x < sep) { // divideBy incl. the both--inf guard (FactorTable.java:436-443)
          if (so(x) != Double.NegativeInfinity || m(x) != Double.NegativeInfinity) so(x) -= m(x)
          x += 1
        }
        val t = tables(i)
        x = 0
        while (x < full) { t(x) += so(x % sep); x += 1 } // multiplyInEnd, modulus C^{W-1}
        i -= 1
      }
      new Tables(tables, p)
    }
  }
}
