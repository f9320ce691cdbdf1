package graft.core

import graft.train.{CrfObjective, WeightLayout}
import org.scalatest.funsuite.AnyFunSuite

/** Core CRF math vs brute-force enumeration (the reference validates the same
  * algebra with ad-hoc mains: FactorTable.java:443-520 and the hand-built
  * Viterbi fixture in ExactBestSequenceFinder.java:21-86; we enumerate instead).
  */
class CrfSpec extends AnyFunSuite {

  private def mkRandom(seed: Long, numClasses: Int, windowSize: Int, nFeat: Int, docLen: Int) = {
    val rng = new scala.util.Random(seed)
    val featGroup = Array.tabulate(nFeat)(_ => rng.nextInt(windowSize))
    val layout = WeightLayout.fullProduct(numClasses, windowSize, 0, featGroup)
    val flat = Array.fill(layout.totalSize)(rng.nextGaussian() * 0.7)
    // random active features per position per group (only of that group)
    val byGroup = Array.tabulate(windowSize)(g => (0 until nFeat).filter(f => featGroup(f) == g).toArray)
    val doc: Crf.EncodedDoc = Array.tabulate(docLen) { _ =>
      Array.tabulate(windowSize) { g =>
        val pool = byGroup(g)
        if (pool.isEmpty) Array.emptyIntArray
        else Array.fill(1 + rng.nextInt(3))(pool(rng.nextInt(pool.length))).distinct
      }
    }
    val labels = Array.fill(docLen)(rng.nextInt(numClasses))
    (layout, flat, doc, labels)
  }

  private def bruteScores(doc: Crf.EncodedDoc, p: Crf.Params): Map[Seq[Int], Double] = {
    val n = doc.length
    val pots = Crf.logPotentials(doc, p)
    def allSeqs(len: Int): Seq[Seq[Int]] =
      if (len == 0) Seq(Seq.empty)
      else for (s <- allSeqs(len - 1); c <- 0 until p.numClasses) yield s :+ c
    allSeqs(n).map { seq =>
      val arr = seq.toArray
      var s = 0.0
      for (pos <- 0 until n) s += pots(pos)(Crf.windowEnc(arr, pos, p))
      seq -> s
    }.toMap
  }

  test("forwardBackward logZ and marginals match enumeration") {
    for (seed <- 1 to 5; c <- Seq(2, 3); w <- Seq(2, 3)) {
      val (layout, flat, doc, _) = mkRandom(seed, c, w, nFeat = 12, docLen = 5)
      val p = layout.params(flat)
      val scores = bruteScores(doc, p)
      val logZ = math.log(scores.values.map(math.exp).sum)
      val cal = Crf.forwardBackward(Crf.logPotentials(doc, p), p)
      assert(math.abs(cal.logZ - logZ) < 1e-9, s"logZ seed=$seed c=$c w=$w")
      // marginal of full window at each position
      for (pos <- doc.indices; enc <- 0 until p.fullSize) {
        val expect = scores.collect {
          case (seq, s) if Crf.windowEnc(seq.toArray, pos, p) == enc => math.exp(s - logZ)
        }.sum
        val got = math.exp(cal.logMarginals(pos)(enc)) // exp(-inf) = 0
        assert(math.abs(got - expect) < 1e-9, s"marginal pos=$pos enc=$enc seed=$seed c=$c w=$w")
      }
    }
  }

  test("viterbi matches argmax enumeration") {
    for (seed <- 1 to 8; c <- Seq(2, 3); w <- Seq(2, 3)) {
      val (layout, flat, doc, _) = mkRandom(seed * 31, c, w, nFeat = 15, docLen = 6)
      val p = layout.params(flat)
      val scores = bruteScores(doc, p)
      val best = scores.maxBy(_._2)
      val got = Crf.viterbi(Crf.logPotentials(doc, p), p)
      val gotScore = scores(got.toSeq)
      assert(math.abs(gotScore - best._2) < 1e-9, s"viterbi seed=$seed c=$c w=$w: got $gotScore want ${best._2}")
    }
  }

  test("beam search: exact at full beam width, never beats exact, knob is real") {
    val inexact = scala.collection.mutable.Map[Int, Int]().withDefaultValue(0)
    val beams = Seq(1, 2, 4, 8, 30)
    for (seed <- 1 to 8; c <- Seq(2, 3); w <- Seq(2, 3)) {
      val (layout, flat, doc, _) = mkRandom(seed * 53, c, w, nFeat = 15, docLen = 6)
      val p = layout.params(flat)
      val pots = Crf.logPotentials(doc, p)
      val scores = bruteScores(doc, p)
      val exact = scores(Crf.viterbi(pots, p).toSeq)
      // beamSize >= C^n covers every prefix -> must equal exact Viterbi score
      val full = Crf.beamViterbi(pots, p, beamSize = math.pow(c, doc.length).toInt)
      assert(math.abs(scores(full.toSeq) - exact) < 1e-9, s"seed=$seed c=$c w=$w")
      for (b <- beams) {
        val s = scores(Crf.beamViterbi(pots, p, b).toSeq)
        assert(s <= exact + 1e-9, s"beam $b beat exact?! (seed=$seed c=$c w=$w)")
        if (math.abs(s - exact) > 1e-9) inexact(b) += 1
      }
    }
    // accuracy/speed tradeoff is real and goes the right way in aggregate
    // (per-instance monotonicity is NOT guaranteed for sequence-level beams)
    info(s"inexact runs of 32 by beam size: ${beams.map(b => s"$b->${inexact(b)}").mkString(", ")}")
    assert(inexact(1) > 0, "greedy (beam=1) should miss the optimum somewhere")
    assert(inexact(30) <= inexact(1))
    assert(inexact(8) <= inexact(1))
  }

  test("analytic gradient matches finite differences") {
    // mirrors the reference's StochasticDiffFunctionTester gradient check
    // (CRFClassifier.java:1077-1087)
    val (layout, flat, doc, labels) = mkRandom(7, 3, 3, nFeat = 10, docLen = 5)
    val eps = 1e-6
    def value(x: Array[Double]): Double = {
      val g = new Array[Double](layout.totalSize)
      CrfObjective.docValueGrad(doc, labels, layout.params(x), layout, g)
    }
    val grad = new Array[Double](layout.totalSize)
    CrfObjective.docValueGrad(doc, labels, layout.params(flat), layout, grad)
    for (i <- 0 until layout.totalSize by 7) { // sample every 7th param
      val xp = flat.clone(); xp(i) += eps
      val xm = flat.clone(); xm(i) -= eps
      val fd = (value(xp) - value(xm)) / (2 * eps)
      assert(math.abs(fd - grad(i)) < 1e-4, s"grad[$i]: fd=$fd analytic=${grad(i)}")
    }
  }

  test("k-best viterbi matches top-k enumeration") {
    for (seed <- 1 to 5; c <- Seq(2, 3); w <- Seq(2, 3)) {
      val (layout, flat, doc, _) = mkRandom(seed * 17, c, w, nFeat = 12, docLen = 5)
      val p = layout.params(flat)
      val scores = bruteScores(doc, p)
      val k = 4
      val want = scores.values.toSeq.sorted.reverse.take(k)
      val got = Crf.kBestViterbi(Crf.logPotentials(doc, p), p, k)
      assert(got.length == k)
      // scores match top-k enumeration; each sequence's score is consistent
      got.map(_._2).zip(want).foreach { case (g, w0) =>
        assert(math.abs(g - w0) < 1e-9, s"seed=$seed c=$c w=$w got=${got.map(_._2)} want=$want")
      }
      got.foreach { case (seq, sc) => assert(math.abs(scores(seq.toSeq) - sc) < 1e-9) }
      // sequences are distinct
      assert(got.map(_._1.toSeq).distinct.length == k)
      // rank 1 equals plain viterbi
      assert(got.head._1.toSeq == Crf.viterbi(Crf.logPotentials(doc, p), p).toSeq)
    }
  }

  test("marginal/conditional queries match enumeration (CRFCliqueTree surface)") {
    def logAddAll(vs: Iterable[Double]): Double = math.log(vs.map(math.exp).sum)
    for (seed <- 1 to 4; c <- Seq(2, 3); w <- Seq(2, 3)) {
      val (layout, flat, doc, _) = mkRandom(seed * 97, c, w, nFeat = 12, docLen = 6)
      val p = layout.params(flat)
      val scores = bruteScores(doc, p)
      val logZ = logAddAll(scores.values)
      val post = scores.map { case (s, v) => s -> (v - logZ) } // normalized log-probs
      val m = new Crf.Marginals(Crf.forwardBackward(Crf.logPotentials(doc, p), p), p)

      def joint(cond: Seq[Int] => Boolean): Double =
        logAddAll(post.collect { case (s, lp) if cond(s) => lp })

      for (pos <- doc.indices) {
        // single-label and multi-label end-anchored marginals, incl. len > w
        for (len <- 1 to math.min(pos + 1, w + 2)) {
          val rng = new scala.util.Random(seed * 1000 + pos * 10 + len)
          val labels = Array.fill(len)(rng.nextInt(c))
          val want = joint(s => (0 until len).forall(i => s(pos - len + 1 + i) == labels(i)))
          val got = m.logProb(pos, labels)
          assert(math.abs(got - want) < 1e-9 || (got == want),
            s"logProb pos=$pos len=$len seed=$seed c=$c w=$w: got $got want $want")
        }
        // conditional given previous labels (1..w-1 of them)
        for (k <- 1 until w; if pos - k >= 0) {
          val rng = new scala.util.Random(seed * 2000 + pos * 10 + k)
          val prev = Array.fill(k)(rng.nextInt(c))
          val label = rng.nextInt(c)
          val pPrev = joint(s => (0 until k).forall(i => s(pos - k + i) == prev(i)))
          val pBoth = joint(s => s(pos) == label && (0 until k).forall(i => s(pos - k + i) == prev(i)))
          val got = m.condLogProbGivenPrevious(pos, label, prev)
          assert(math.abs(got - (pBoth - pPrev)) < 1e-9,
            s"condPrev pos=$pos k=$k seed=$seed c=$c w=$w")
        }
        // conditional given next labels
        for (k <- 1 until w; if pos + k < doc.length) {
          val rng = new scala.util.Random(seed * 3000 + pos * 10 + k)
          val next = Array.fill(k)(rng.nextInt(c))
          val label = rng.nextInt(c)
          val pNext = joint(s => (0 until k).forall(i => s(pos + 1 + i) == next(i)))
          val pBoth = joint(s => s(pos) == label && (0 until k).forall(i => s(pos + 1 + i) == next(i)))
          val got = m.condLogProbGivenNext(pos, label, next)
          assert(math.abs(got - (pBoth - pNext)) < 1e-9,
            s"condNext pos=$pos k=$k seed=$seed c=$c w=$w")
        }
      }
      // truncation beyond the Markov horizon changes nothing
      if (doc.length >= w + 2) {
        val prevLong = Array.fill(w + 1)(0)
        val a = m.condLogProbGivenPrevious(w + 1, 1 % c, prevLong)
        val b = m.condLogProbGivenPrevious(w + 1, 1 % c, prevLong.takeRight(w - 1))
        assert(math.abs(a - b) < 1e-12)
      }
    }
  }

  test("empty and single-token documents") {
    val (layout, flat, _, _) = mkRandom(3, 3, 3, nFeat = 6, docLen = 1)
    val p = layout.params(flat)
    assert(Crf.viterbi(Array.empty, p).isEmpty)
    val doc1: Crf.EncodedDoc = Array(Array(Array(0), Array.emptyIntArray, Array.emptyIntArray))
    val tags = Crf.viterbi(Crf.logPotentials(doc1, p), p)
    assert(tags.length == 1)
    val cal = Crf.forwardBackward(Crf.logPotentials(doc1, p), p)
    val total = (0 until p.fullSize).map(e => math.exp(cal.logMarginals(0)(e))).sum
    assert(math.abs(total - 1.0) < 1e-9)
  }

  /** Reference build of the potential tables: one sum per cell, every cell
    * adding the groups' scores at enc % C^(g+1). */
  private def moduloTables(doc: Crf.EncodedDoc, p: Crf.Params): Array[Array[Double]] = {
    val C = p.numClasses
    doc.map { byGroup =>
      val gs = Array.tabulate(p.windowSize) { g =>
        Array.tabulate(Crf.pow(C, g + 1)) { e =>
          val col = p.weightCol(g)(e)
          if (col < 0) Double.NegativeInfinity
          else {
            var s = 0.0
            for (f <- byGroup(g)) s += p.weights(f)(col)
            s
          }
        }
      }
      Array.tabulate(p.fullSize) { enc =>
        var s = 0.0
        var mod = C
        for (g <- 0 until p.windowSize) { s += gs(g)(enc % mod); mod *= C }
        s
      }
    }
  }

  private def assertSameBits(got: Array[Array[Double]], want: Array[Array[Double]], what: => String): Unit = {
    assert(got.length == want.length, what)
    for (pos <- got.indices; enc <- got(pos).indices)
      assert(java.lang.Double.doubleToRawLongBits(got(pos)(enc)) ==
        java.lang.Double.doubleToRawLongBits(want(pos)(enc)), s"$what pos=$pos enc=$enc")
  }

  test("potential tables are bit-identical to the per-cell modulo build") {
    val rng = new scala.util.Random(17)
    var disallowed = 0
    val tails = scala.collection.mutable.Set[Int]()
    for (w <- 1 to 4; c <- 2 to 5; rep <- 0 until 3) {
      // roughly one window in six disallowed (column -1), never a whole group
      val weightCol = Array.tabulate(w) { g =>
        var next = 0
        Array.tabulate(Crf.pow(c, g + 1)) { e =>
          if (e > 0 && rng.nextInt(6) == 0) { disallowed += 1; -1 } else { next += 1; next - 1 }
        }
      }
      val nCols = weightCol.map(_.max + 1).max
      val nFeat = 60
      val weights = Array.fill(nFeat, nCols)(rng.nextGaussian() * math.pow(10, rng.nextInt(7) - 3))
      val p = new Crf.Params(c, w, 0, weightCol, weights)
      p.scoredCells.foreach(cells => tails += cells.length % 4)
      // 0-40 features a group (the default model's group 0 averages 30)
      val doc: Crf.EncodedDoc = Array.fill(1 + rng.nextInt(6)) {
        Array.fill(w)(Array.fill(rng.nextInt(41))(rng.nextInt(nFeat)))
      }
      assertSameBits(Crf.logPotentials(doc, p), moduloTables(doc, p), s"w=$w c=$c")
    }
    assert(disallowed > 0)
    assert(tails == Set(0, 1, 2, 3), "scored-cell counts of every residue mod 4")
  }

  test("potential tables of the default model are bit-identical over 500 generated turns") {
    import graft.pipeline.{SparkTestSession, Transcripts}
    val model = graft.ner.NerModels.default(SparkTestSession.spark).value
    val p = model.params
    var turns = 0
    for (conv <- 0L until 200L; t <- 0 until Transcripts.numTurns(5L, conv) if turns < 500) {
      val enc = model.encodeFast(Transcripts.turnTokens(5L, conv, t)._1)
      assertSameBits(Crf.logPotentials(enc, p), moduloTables(enc, p), s"conv=$conv t=$t")
      turns += 1
    }
    assert(turns == 500)
  }
}
