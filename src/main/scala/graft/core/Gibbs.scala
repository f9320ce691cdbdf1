package graft.core

import scala.util.Random

/** Gibbs sampling / simulated-annealing decode + factored priors (reference
  * semantics: SequenceGibbsSampler.java:84-272, CoolingSchedule.java,
  * FactoredSequenceModel.java; dispatched by CRFClassifier under `doGibbs`,
  * CRFClassifier.java:720-794). This is the reference's only mechanism for
  * cross-sentence/document label consistency — a non-Markovian prior scores
  * whole sequences next to the CRF, and annealed Gibbs decodes the sum.
  *
  * The reference samples with an unseeded RNG, so no bitwise differential is
  * possible; correctness is property-tested instead (GibbsSpec): the sampled
  * per-position conditionals match enumeration exactly, annealing recovers
  * the exact Viterbi optimum on random CRFs, and a consistency prior flips
  * inconsistent labelings the plain CRF keeps.
  */
object Gibbs {

  /** SequenceModel.scoresOf contract (sequences/SequenceModel.java:13-60):
    * unnormalized log-score for EACH label at `pos` given the rest of `seq`;
    * exp-normalizing must give the true conditional P(y_pos | y_rest).
    */
  trait SequenceScorer {
    def length: Int
    def numClasses: Int
    def logScoresAt(seq: Array[Int], pos: Int): Array[Double]
    def scoreOf(seq: Array[Int]): Double
  }

  /** CRF scorer over precomputed log-potentials: the label at `pos`
    * participates in the factor windows ending at pos .. pos+w-1.
    */
  final class CrfScorer(potentials: Array[Array[Double]], p: Crf.Params) extends SequenceScorer {
    def length: Int = potentials.length
    def numClasses: Int = p.numClasses
    def logScoresAt(seq: Array[Int], pos: Int): Array[Double] = {
      val out = new Array[Double](p.numClasses)
      val orig = seq(pos)
      var c = 0
      while (c < p.numClasses) {
        seq(pos) = c
        var s = 0.0
        var k = 0
        while (k < p.windowSize && pos + k < length) {
          s += potentials(pos + k)(Crf.windowEnc(seq, pos + k, p))
          k += 1
        }
        out(c) = s
        c += 1
      }
      seq(pos) = orig
      out
    }
    def scoreOf(seq: Array[Int]): Double = {
      var s = 0.0
      var pos = 0
      while (pos < length) { s += potentials(pos)(Crf.windowEnc(seq, pos, p)); pos += 1 }
      s
    }
  }

  /** Reference-faithful CRF term for Gibbs sampling — what `classifyGibbs`
    * ACTUALLY samples from (CRFCliqueTree.scoresOf, CRFCliqueTree.java:86-139):
    * the sum of two CALIBRATED window marginals,
    * `M_pos(prev ++ label) + M_{pos+nl}(label ++ next)`, where the
    * "conditional given first" normalization is commented out in the source
    * (FactorTable.unnormalizedConditionalLogProbGivenFirst,
    * FactorTable.java:280-299, returns the raw marginal) — so the sampling
    * distribution is proportional to the TRUE conditional times the label's
    * own window marginal, and for windowSize > 2 it additionally drops the
    * cross-window coupling (the file-head TODO at SequenceGibbsSampler.java:13
    * concedes scoresOf is not used "properly"). Near the right edge the next
    * table is reduced with sumOutFront (FactorTable.java:426-433, oldest
    * label marginalized out); at the last position the next term is the
    * constant 1.0 (`Arrays.fill(probNextGivenThis, 1.0)` — a literal 1.0 in
    * LOG space, label-independent so it cancels in the softmax).
    * `CrfScorer` is the exact-conditional alternative (enumeration-pinned by
    * GibbsSpec); this class exists for sampling-trajectory parity.
    *
    * Why OUR exact tables (`Crf.forwardBackward`) are bit-faithful here even
    * though the reference's calibrated tables carry phantom pad mass (global
    * labelIndices give pad positions finite non-background entries — see
    * Crf.RefCliqueTree): the contamination rides the forward message only,
    * so it is CONSTANT along each table row, and this scorer's softmax over
    * the current label (fixed front coordinates) cancels it exactly — the
    * seeded-RNG sampler differential's 9.8e-14 agreement is that
    * cancellation observed.
    */
  final class RefCliqueScorer(potentials: Array[Array[Double]], p: Crf.Params)
      extends SequenceScorer {
    private val cal = Crf.forwardBackward(potentials, p)
    private val C = p.numClasses
    def length: Int = potentials.length
    def numClasses: Int = C

    // factorTables[pos] with the `drop` oldest labels summed out, memoized
    private val reduced = new java.util.HashMap[Long, Array[Double]]
    private def table(pos: Int, drop: Int): Array[Double] = {
      if (drop == 0) return cal.logMarginals(pos)
      val key = pos.toLong * 8 + drop
      var t = reduced.get(key)
      if (t == null) {
        val src = table(pos, drop - 1)
        val out = Array.fill(src.length / C)(Double.NegativeInfinity)
        var i = 0
        while (i < src.length) {
          val j = i % out.length // low digits = newest labels kept
          val a = out(j); val b = src(i)
          out(j) =
            if (a == Double.NegativeInfinity) b
            else if (b == Double.NegativeInfinity) a
            else { val m = math.max(a, b); m + math.log1p(math.exp(math.min(a, b) - m)) }
          i += 1
        }
        reduced.put(key, out)
        t = out
      }
      t
    }

    def logScoresAt(seq: Array[Int], pos: Int): Array[Double] = {
      val n = length
      val w = p.windowSize
      val prevLen = w - 1
      // prev window at table `pos`, left-padded with background
      // (CRFCliqueTree.java:96-109)
      var base = 0
      var i = 0
      while (i < prevLen) {
        val q = pos - prevLen + i
        base = base * C + (if (q < 0) p.backgroundIndex else seq(q))
        i += 1
      }
      val mPrev = cal.logMarginals(pos)
      var nextLength = w - 1
      if (pos + nextLength >= n) nextLength = n - pos - 1
      val tNext = if (nextLength == 0) null else table(pos + nextLength, w - 1 - nextLength)
      var nextLow = 0
      i = 0
      while (i < nextLength) { nextLow = nextLow * C + seq(pos + 1 + i); i += 1 }
      val stride = Crf.pow(C, nextLength)
      val out = new Array[Double](C)
      var c = 0
      while (c < C) {
        val v2 = if (tNext == null) 1.0 else tNext(c * stride + nextLow)
        out(c) = mPrev(base * C + c) + v2
        c += 1
      }
      out
    }

    /** Raw potential sum — the reference's ct.scoreOf is this minus the
      * constant logZ, so best-iterate tracking decisions coincide.
      */
    def scoreOf(seq: Array[Int]): Double = {
      var s = 0.0
      var pos = 0
      while (pos < length) { s += potentials(pos)(Crf.windowEnc(seq, pos, p)); pos += 1 }
      s
    }
  }

  /** Sum of scorers (FactoredSequenceModel.java): CRF + priors. */
  final class FactoredScorer(scorers: Seq[SequenceScorer]) extends SequenceScorer {
    require(scorers.nonEmpty && scorers.forall(s =>
      s.length == scorers.head.length && s.numClasses == scorers.head.numClasses))
    def length: Int = scorers.head.length
    def numClasses: Int = scorers.head.numClasses
    def logScoresAt(seq: Array[Int], pos: Int): Array[Double] = {
      val out = scorers.head.logScoresAt(seq, pos)
      for (s <- scorers.tail) {
        val o = s.logScoresAt(seq, pos)
        var c = 0
        while (c < out.length) { out(c) += o(c); c += 1 }
      }
      out
    }
    def scoreOf(seq: Array[Int]): Double = scorers.iterator.map(_.scoreOf(seq)).sum
  }

  /** Document-consistency prior — the engine's analogue of the reference's
    * entity priors (EntityCachingAbstractSequencePrior / EmpiricalNERPrior:
    * non-Markovian, window = the whole document): every ordered pair of
    * positions sharing the same (fixed) word but carrying different labels
    * costs `penalty` in log space. logScoresAt is the exact restriction of
    * scoreOf to the terms touching `pos` (both orientations of each pair), so
    * Gibbs conditionals are exact for the factored model.
    */
  final class ConsistencyPrior(words: IndexedSeq[String], val numClasses: Int,
      penalty: Double) extends SequenceScorer {
    def length: Int = words.length
    private val sameWord: Array[Array[Int]] = {
      val byWord = words.indices.groupBy(words)
      Array.tabulate(words.length)(i => byWord(words(i)).filter(_ != i).toArray)
    }
    def logScoresAt(seq: Array[Int], pos: Int): Array[Double] = {
      val out = new Array[Double](numClasses)
      val peers = sameWord(pos)
      var c = 0
      while (c < numClasses) {
        var disagree = 0
        var k = 0
        while (k < peers.length) { if (seq(peers(k)) != c) disagree += 1; k += 1 }
        out(c) = -2.0 * penalty * disagree // ordered pairs: (pos,j) and (j,pos)
        c += 1
      }
      out
    }
    def scoreOf(seq: Array[Int]): Double = {
      var s = 0.0
      var i = 0
      while (i < length) {
        val peers = sameWord(i)
        var k = 0
        while (k < peers.length) { if (seq(peers(k)) != seq(i)) s -= penalty; k += 1 }
        i += 1
      }
      s
    }
  }

  /** Cooling schedules (CoolingSchedule.java:12-38). */
  sealed trait Cooling { def numIterations: Int; def temperature(i: Int): Double }
  def linearCooling(start: Double, n: Int): Cooling = new Cooling {
    private val rate = start / n
    val numIterations: Int = n + 1 // hits zero (pure argmax) on the last sweep
    def temperature(i: Int): Double = start - rate * i
  }

  /** One Gibbs update at `pos` (samplePosition, SequenceGibbsSampler.java:245-272):
    * temperature 0 = argmax; otherwise log-scores scaled by 1/T, softmax-sampled.
    */
  def samplePosition(scorer: SequenceScorer, seq: Array[Int], pos: Int,
      temperature: Double, rng: Random): Unit = {
    val dist = scorer.logScoresAt(seq, pos)
    if (temperature == 0.0) {
      var best = 0
      var c = 1
      while (c < dist.length) { if (dist(c) > dist(best)) best = c; c += 1 }
      seq(pos) = best
      return
    }
    var mx = Double.NegativeInfinity
    var c = 0
    while (c < dist.length) {
      dist(c) /= temperature
      if (dist(c) > mx) mx = dist(c)
      c += 1
    }
    var z = 0.0
    c = 0
    while (c < dist.length) { dist(c) = math.exp(dist(c) - mx); z += dist(c); c += 1 }
    var u = rng.nextDouble() * z
    c = 0
    while (c < dist.length - 1 && u >= dist(c)) { u -= dist(c); c += 1 }
    seq(pos) = c
  }

  def sampleSweepForward(scorer: SequenceScorer, seq: Array[Int], temperature: Double,
      rng: Random): Unit = {
    var pos = 0
    while (pos < seq.length) { samplePosition(scorer, seq, pos, temperature, rng); pos += 1 }
  }

  /** Annealed decode (findBestUsingAnnealing, SequenceGibbsSampler.java:89-125):
    * one forward sweep per schedule step, tracking the best-scoring sequence.
    * Reference quirk mirrored: the initial sequence's score is computed but
    * overwritten before any comparison (`score` at :98 is reassigned at :109
    * before the first `score>bestScore` test), so best is tracked over
    * POST-SWEEP iterates only — the init itself can never be returned unless
    * a sweep reproduces it.
    */
  def findBestUsingAnnealing(scorer: SequenceScorer, schedule: Cooling,
      init: Array[Int], rng: Random): Array[Int] = {
    val seq = init.clone()
    var best: Array[Int] = null
    var bestScore = Double.NegativeInfinity
    var i = 0
    while (i < schedule.numIterations) {
      sampleSweepForward(scorer, seq, schedule.temperature(i), rng)
      val sc = scorer.scoreOf(seq)
      if (sc > bestScore) { bestScore = sc; best = seq.clone() }
      i += 1
    }
    if (best == null) init.clone() else best
  }

  def findBestUsingAnnealing(scorer: SequenceScorer, schedule: Cooling,
      init: Array[Int], seed: Long = 0x91bb5L): Array[Int] =
    findBestUsingAnnealing(scorer, schedule, init, new Random(seed))
}
