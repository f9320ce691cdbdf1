package graft

import graft.ner.ModelMemo
import graft.ops.Hashing
import graft.train.{LabeledDoc, Trainer}

/** The q48 trained-weights CRF: a REAL L-BFGS fit (the same Trainer path every
  * model in this repo trains through — distributed dictionary build, Ehat,
  * treeAggregate gradient, Breeze L-BFGS with the reference's sigma/tolerance)
  * over a deterministic synthetic corpus drawn from the documents-table
  * vocabulary, with the dictionary restricted (Trainer.Config.dictionaryFilter)
  * to the four SQL-expressible families the q41 oracle machinery knows how to
  * emit: `word-WORD|C` (useWord, NERFeatureFactory.java:786-788), the dan2
  * `shape-TYPE|C` (useTypeSeqs), `PSEQ|CpC` (usePrevSequences, :1545-1561) and
  * the `pShape-cShape-TYPES|CpC` pair (useTypeSeqs2, :1571). Restricting the
  * template set is a reference-legal operation — a model over any template
  * subset loads and runs because unseen features hash-miss and drop
  * (CRFClassifier.java:200-207) — and the fit is a genuine CRF optimum for
  * that feature set.
  *
  * Everything here is deterministic-by-construction WITHIN one JVM: the corpus
  * is a pure function of the doc index, the model is trained once and
  * memoized, and both the q48 Spark query and the q48 oracle SQL (which embeds
  * `featureIndex` + learned weights as `CAST('<repr>' AS DOUBLE)` VALUES rows —
  * the q47 DECIMAL lesson) read the SAME in-memory weights, so Verify's
  * engine-vs-DuckDB compare is bit-exact regardless of L-BFGS run-to-run
  * float-summation order.
  */
object TrainedCrf {

  /** Closed lowercase vocabulary of the driver's synthetic documents table
    * (TESTDATA.md): `fixWord` is identity on every entry and on every
    * documents-table token (established bit-exactly by q41's hash gate), so
    * engine and oracle emit byte-identical feature strings.
    */
  val Vocab: Vector[String] = Vector(
    "the", "a", "fast", "slow", "big", "small", "key", "order", "sort",
    "table", "scan", "merge", "part", "window", "hash", "join", "batch",
    "stream", "spark", "group", "query", "row", "data", "filter",
    "customer", "line", "value", "agg", "column", "vector", "dup")

  private val Ops = Set("join", "merge", "filter", "scan", "sort", "group", "agg", "order")
  private val Ents = Set("spark", "customer", "table", "row", "column", "line", "data", "stream")

  /** 48 docs x 10-17 tokens, pure in the doc index via splitmix64. Labels are
    * CONTEXT-dependent — an operator word is labeled only after a determiner
    * or an entity word — so the transition features (PSEQ, shape pairs) carry
    * real signal and L-BFGS gives them non-trivial weights. The label NAMES
    * reuse the standard 3-class set (entity words -> LOCATION, contextual
    * operator words -> PERSON) so the trained tag stream flows through the
    * regular KG machinery (span fold, entity linking, graph rollups) for the
    * q49-q53 trained-pipeline oracles.
    */
  def corpus: Seq[LabeledDoc] = (0 until 48).map { d =>
    val n = (10 + (Hashing.splitmix64(0x48c0L + d) & 7)).toInt
    val words = (0 until n).map { i =>
      Vocab(((Hashing.splitmix64(d * 131L + i * 7L + 1L) >>> 8) % Vocab.length).toInt)
    }
    val labels = words.zipWithIndex.map { case (w, i) =>
      val prev = if (i == 0) "" else words(i - 1)
      if (Ops(w) && (prev == "the" || prev == "a" || Ents(prev))) "PERSON"
      else if (Ents(w)) "LOCATION"
      else "O"
    }
    LabeledDoc(words, labels)
  }

  /** The four SQL-expressible families (see object doc). Suffix matching is
    * unambiguous across NerFeatures' emission set: `-TYPE|C` is only the
    * cShape unary (PTYPE/NTYPE/PCTYPE/... all differ before the suffix) and
    * `-TYPES|CpC` only the useTypeSeqs2 pair (TYPETYPES is |CpCp2C).
    */
  val dictFilter: (Int, String) => Boolean = (g, f) =>
    (g == 0 && (f.endsWith("-WORD|C") || f.endsWith("-TYPE|C"))) ||
      (g == 1 && (f == "PSEQ|CpC" || f.endsWith("-TYPES|CpC")))

  def trainConfig: Trainer.Config = Trainer.Config(
    maxIterations = 100,
    // fullProduct layout: every (prev, cur) window carries a weight column,
    // so the oracle's 3-col / 9-col VALUES rows map 1:1 onto weight rows
    observedSequencesOnly = false,
    // empty knownLCWords: the dan2 shape never takes the 'k' suffix, matching
    // the oracle's dan2Sql (same contract as the q41 hash model)
    maxKnownLCWords = 0,
    dictionaryFilter = Some(dictFilter))

  /** Train-once memo: both the q48 query and the q48 oracle-SQL generator read
    * the same in-memory model (see object doc for why that makes the gate
    * bit-exact).
    */
  val model = new ModelMemo("graft-q48-train", spark => {
    import spark.implicits._
    Trainer.train(spark, spark.createDataset(corpus), trainConfig)
  })
}
