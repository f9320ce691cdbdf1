package graft.train

import graft.core.Crf

/** Flat parameter layout for L-BFGS over ragged per-feature weight rows.
  *
  * Each feature belongs to a clique group g; its weight row has one column per
  * allowed label window of size g+1 (reference semantic: weights[featureId][labelWindowId],
  * /root/reference/src/edu/stanford/nlp/ie/crf/CRFClassifier.java:119-121).
  */
final class WeightLayout(
    val numClasses: Int,
    val windowSize: Int,
    val backgroundIndex: Int,
    /** featGroup(f) = clique group of feature f. */
    val featGroup: Array[Int],
    /** weightCol(g)(suffixEnc) -> column or -1 (observed-sequences-only support). */
    val weightCol: Array[Array[Int]]
) extends Serializable {
  /** numCols(g) = number of allowed windows for group g. */
  val numCols: Array[Int] = weightCol.map(_.count(_ >= 0))
  val featOffset: Array[Int] = {
    val off = new Array[Int](featGroup.length)
    var acc = 0
    var f = 0
    while (f < featGroup.length) { off(f) = acc; acc += numCols(featGroup(f)); f += 1 }
    off
  }
  val totalSize: Int =
    if (featGroup.isEmpty) 0
    else featOffset(featGroup.length - 1) + numCols(featGroup(featGroup.length - 1))

  /** Ragged view (copies) of a flat weight vector, for Crf.Params. */
  def toRagged(flat: Array[Double]): Array[Array[Double]] = {
    val rows = new Array[Array[Double]](featGroup.length)
    var f = 0
    while (f < featGroup.length) {
      rows(f) = java.util.Arrays.copyOfRange(flat, featOffset(f), featOffset(f) + numCols(featGroup(f)))
      f += 1
    }
    rows
  }

  def params(flat: Array[Double]): Crf.Params =
    new Crf.Params(numClasses, windowSize, backgroundIndex, weightCol, toRagged(flat))
}

object WeightLayout {
  def fullProduct(numClasses: Int, windowSize: Int, backgroundIndex: Int, featGroup: Array[Int]): WeightLayout = {
    val weightCol = Array.tabulate(windowSize)(g => Array.tabulate(Crf.pow(numClasses, g + 1))(identity))
    new WeightLayout(numClasses, windowSize, backgroundIndex, featGroup, weightCol)
  }

  /** Weight columns for the observed label windows only
    * (useObservedSequencesOnly, CRFClassifier.java:482-489): `encsByGroup(g)`
    * lists group g's window encodings in column order; every other window of
    * the group is forbidden (column -1).
    */
  def observed(numClasses: Int, windowSize: Int, backgroundIndex: Int, featGroup: Array[Int],
      encsByGroup: Array[Array[Int]]): WeightLayout = {
    val weightCol = Array.tabulate(windowSize) { g =>
      val cols = Array.fill(Crf.pow(numClasses, g + 1))(-1)
      encsByGroup(g).zipWithIndex.foreach { case (enc, k) => cols(enc) = k }
      cols
    }
    new WeightLayout(numClasses, windowSize, backgroundIndex, featGroup, weightCol)
  }
}

/** Per-document negative log-likelihood + gradient of a windowed-clique CRF.
  * (Reference semantic: CRFLogConditionalObjectiveFunction.calculate,
  * /root/reference/src/edu/stanford/nlp/ie/crf/CRFLogConditionalObjectiveFunction.java:160-270 —
  * value = sum_docs [logZ - score(gold)], grad = E_model - E_empirical; the L2
  * prior is added once on the driver, not per document.)
  */
object CrfObjective {

  /** Adds this doc's gradient into `grad` and returns its negative log-likelihood. */
  def docValueGrad(
      doc: Crf.EncodedDoc,
      labels: Array[Int],
      params: Crf.Params,
      layout: WeightLayout,
      grad: Array[Double]
  ): Double = {
    val n = doc.length
    if (n == 0) return 0.0
    val w = layout.windowSize
    val pots = Crf.logPotentials(doc, params)
    val cal = Crf.forwardBackward(pots, params)
    var goldScore = 0.0
    var pos = 0
    while (pos < n) {
      val obsEnc = Crf.windowEnc(labels, pos, params)
      goldScore += pots(pos)(obsEnc)
      // empirical counts: -1 per active feature at the gold suffix window
      var g = 0
      var mod = layout.numClasses
      while (g < w) {
        val col = layout.weightCol(g)(obsEnc % mod)
        if (col >= 0) {
          val feats = doc(pos)(g)
          var k = 0
          while (k < feats.length) { grad(layout.featOffset(feats(k)) + col) -= 1.0; k += 1 }
        }
        mod *= layout.numClasses
        g += 1
      }
      pos += 1
    }
    // expected counts from calibrated marginals
    val full = params.fullSize
    pos = 0
    while (pos < n) {
      val lm = cal.logMarginals(pos)
      var g = 0
      var mod = layout.numClasses
      while (g < w) {
        val feats = doc(pos)(g)
        if (feats.length > 0) {
          val mg = new Array[Double](mod)
          var e = 0
          while (e < full) {
            val p = lm(e)
            if (p != Double.NegativeInfinity) mg(e % mod) += math.exp(p)
            e += 1
          }
          var se = 0
          while (se < mod) {
            val col = layout.weightCol(g)(se)
            val pm = mg(se)
            if (col >= 0 && pm != 0.0) {
              var k = 0
              while (k < feats.length) { grad(layout.featOffset(feats(k)) + col) += pm; k += 1 }
            }
            se += 1
          }
        }
        mod *= layout.numClasses
        g += 1
      }
      pos += 1
    }
    cal.logZ - goldScore
  }
}
