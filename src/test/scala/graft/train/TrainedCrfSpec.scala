package graft.train

import graft.TrainedCrf
import graft.pipeline.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** Engine-side certification of the q48 trained-weights model: the dictionary
  * restriction (Trainer.Config.dictionaryFilter) holds exactly, the fit is a
  * usable model on its own corpus, and the engine's full inference path
  * (featuresAt -> idsAt -> logPotentials -> viterbi) agrees with an
  * INDEPENDENT brute-force enumeration over the four-family potential
  * algebra — the same algebra the q48 DuckDB oracle implements, so this spec
  * pins the engine side of the hash gate without needing DuckDB in the JVM.
  */
class TrainedCrfSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  lazy val model = TrainedCrf.model(spark)

  test("dictionary holds ONLY the four SQL-expressible families, each non-empty") {
    var nWord = 0; var nType = 0; var nPseq = 0; var nTypes = 0
    model.featureIndex.forEach { (f, _) =>
      if (f.endsWith("-WORD|C")) nWord += 1
      else if (f.endsWith("-TYPE|C")) nType += 1
      else if (f == "PSEQ|CpC") nPseq += 1
      else if (f.endsWith("-TYPES|CpC")) nTypes += 1
      else fail(s"unexpected feature family in trained dictionary: '$f'")
    }
    info(s"dictionary: $nWord WORD + $nType TYPE + $nPseq PSEQ + $nTypes TYPES = ${model.numFeatures}")
    assert(nWord > 0 && nType > 0 && nPseq == 1 && nTypes > 0)
    assert(model.classIndex.toSeq == Seq("O", "LOCATION", "PERSON"))
    assert(model.knownLC.isEmpty, "maxKnownLCWords=0 must freeze an empty knownLC set")
    assert(model.weights.forall(_.forall(w => !w.isNaN && !w.isInfinite)))
  }

  test("the fit recovers its own corpus labeling (sanity of the reduced-family objective)") {
    var ok = 0L; var tot = 0L
    for (d <- TrainedCrf.corpus) {
      val got = model.tag(d.words.toIndexedSeq)
      for (i <- d.words.indices) { if (got(i) == d.labels(i)) ok += 1; tot += 1 }
    }
    info(f"train-corpus token accuracy = ${ok.toDouble / tot}%.4f over $tot tokens")
    assert(ok.toDouble / tot >= 0.9,
      "a context-rule corpus over 4 families should be nearly separable")
  }

  test("engine Viterbi == independent brute-force enumeration of the 4-family algebra") {
    import graft.text.WordShape
    val w0 = Map.newBuilder[String, Array[Double]]
    val w1 = Map.newBuilder[String, Array[Double]]
    model.featureIndex.forEach { (f, id) =>
      if (f.endsWith("|CpC")) w1 += f -> model.weights(id.intValue)
      else w0 += f -> model.weights(id.intValue)
    }
    val u = w0.result(); val tr = w1.result()
    def score(words: IndexedSeq[String], labs: IndexedSeq[Int]): Double = {
      var s = 0.0
      for (i <- words.indices) {
        val c = labs(i)
        val prev = if (i == 0) 0 else labs(i - 1)
        val shape = WordShape.dan2(words(i), _ => false)
        val pShape = if (i == 0) "" else WordShape.dan2(words(i - 1), _ => false)
        // same association order as the engine (and the oracle): the group-0
        // factor sum, then the group-1 factor sum, then factor + factor
        var g0 = 0.0
        u.get(words(i) + "-WORD|C").foreach(r => g0 += r(c))
        u.get(shape + "-TYPE|C").foreach(r => g0 += r(c))
        var g1 = 0.0
        tr.get("PSEQ|CpC").foreach(r => g1 += r(prev * 3 + c))
        tr.get(pShape + "-" + shape + "-TYPES|CpC").foreach(r => g1 += r(prev * 3 + c))
        s += g0 + g1
      }
      s
    }
    // deterministic pseudo-documents over vocab words the model has seen plus
    // unseen words (feature-drop path), short enough for 3^n enumeration
    val docs = (0 until 12).map { d =>
      val n = 5 + (graft.ops.Hashing.splitmix64(0xe11L + d) & 3).toInt
      (0 until n).map { i =>
        val r = graft.ops.Hashing.splitmix64(d * 977L + i)
        if ((r & 7) == 0) "zunseen" + (r & 3)
        else TrainedCrf.Vocab(((r >>> 8) % TrainedCrf.Vocab.length).toInt)
      }
    }
    for (words <- docs) {
      val got = model.tag(words)
      var best = -1.0 / 0.0
      var bestLabs: IndexedSeq[Int] = null
      // lexicographic enumeration; strict > keeps the first maximum (float
      // ties do not occur with trained weights — asserted below)
      val n = words.length
      for (enc <- 0 until math.pow(3, n).toInt) {
        var e = enc
        val labs = new Array[Int](n)
        var i = n - 1
        while (i >= 0) { labs(i) = e % 3; e /= 3; i -= 1 }
        val s = score(words, labs.toIndexedSeq)
        if (s > best) { best = s; bestLabs = labs.toIndexedSeq }
      }
      val expect = bestLabs.map(model.classIndex)
      assert(got.toSeq == expect.toSeq, s"words=$words got=${got.toSeq} expect=${expect.toSeq}")
    }
  }
}
