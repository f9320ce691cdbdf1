package graft.ner

import graft.core.Crf
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Dataset
import scala.collection.mutable

/** Viterbi search-graph (lattice) export — the reference's
  * `-searchGraphPrefix` surface: `classifyAndWriteViterbiSearchGraph`
  * (AbstractSequenceClassifier.java:897-924) builds one DFSA per document
  * (ViterbiSearchGraphBuilder.java:14-135) over the calibrated clique tree's
  * conditional scores (CRFClassifier.TestSequenceModel.scoresOf,
  * CRFClassifier.java:630-641: `condLogProbGivenPrevious` per class) and
  * prints it in AT&T FSM format (DFSA.printAttFsmFormat, DFSA.java:95-117):
  * BFS from the start state, per-state transitions in natural label order
  * (TreeSet), one `src \t tgt \t label \t score` line per transition with
  * score = -condLogProb (Double.toString), and the accepting end state as
  * `id \t 0.0` when polled.
  *
  * Domain, pinned empirically against the compiled reference
  * (RefLatticeSpec):
  *
  *   - windowSize must be 2 (maxLeft 1). For every windowSize-3 model —
  *     i.e. every stock 3-class CRF — the REFERENCE ITSELF crashes with
  *     ArrayIndexOutOfBoundsException at ViterbiSearchGraphBuilder.java:123:
  *     `graphStates[pos-leftWindow][predTag]` indexes the 1-sized pad layer
  *     (layer `pos-leftWindow == 1` is allocated with `tags[1].length == 1`
  *     while `predTag` ranges over all classes). No reference lattice can
  *     exist for such models, so we reject loudly rather than invent
  *     unverifiable output.
  *   - documents need >= 2 tokens: for a 1-word document the first-position
  *     branch indexes `graphStates[leftWindow]` of a length-1 array
  *     (ViterbiSearchGraphBuilder.java:110) — same crash family, same loud
  *     rejection here.
  *
  * State ids replicate the reference's allocation order exactly: 0 = start;
  * 1 = the pad-layer state (allocated from `tags[0]`, never linked — a
  * reference quirk, invisible in the BFS print); `2 + (i-1)*C + c` = class
  * `c` of word `i-1` at layer `i` (1 <= i <= n-1); the accepting end state
  * last. A transition (layer i, predTag) -> (layer i+1, curTag) carries
  * `-condLogProb(curTag at word i | predTag at word i-1)`: at windowSize 2
  * each (predTag, curTag) pair is produced by exactly one product of the
  * reference's window-product loop, so its HashMap last-put-wins transition
  * storage (DFSAState.addTransition, DFSAState.java:49-51) is conflict-free
  * and this direct form is the faithful semantic.
  */
object SearchGraph {

  /** AT&T FSM lattice lines for one document (no trailing newline). */
  def attLattice(model: NerModel, words: IndexedSeq[String]): Vector[String] = {
    val p = model.params
    require(p.windowSize == 2,
      s"searchGraph requires a windowSize-2 (maxLeft 1) model; the reference's own " +
        s"builder throws ArrayIndexOutOfBoundsException for windowSize ${p.windowSize} " +
        "(ViterbiSearchGraphBuilder.java:123 — pinned by RefLatticeSpec)")
    // Reader-level reversal (no un-reverse on the lattice) — then the DOUBLE
    // WRAP quirk: getViterbiSearchGraph re-runs ObjectBankWrapper
    // .processDocument on the already-wrapped doc (AbstractSequenceClassifier
    // .java:233-235), and doBasicStuff computes the SHAPE annotation from the
    // current word BEFORE fix() runs (ObjectBankWrapper.java:131-155) — so on
    // this path, unlike classify, shapes reflect the timex-FIXED word
    // (months/days lowercased). Pre-fixing the words here reproduces that:
    // tok() then shapes the fixed word and re-fixing is idempotent. Pinned by
    // RefLatticeSpec (drift was up to 2.92 nats on timex docs without this).
    val in = (if (model.useReverse) words.reverse else words).map(model.features.fix)
    val n = in.length
    require(n >= 2,
      "searchGraph requires >= 2 tokens; the reference's builder indexes " +
        "graphStates[1] of a length-1 array for 1-word documents (ViterbiSearchGraphBuilder.java:110)")
    val C = p.numClasses
    val marg = new Crf.Marginals(
      Crf.forwardBackward(Crf.logPotentials(model.encodeFast(in), p), p), p)

    // state ids in reference allocation order (start, pad layer, word layers, end)
    val startId = 0
    def stateId(layer: Int, c: Int): Int = 2 + (layer - 1) * C + c
    val endId = 2 + (n - 1) * C

    // per-source transition maps: label -> (target, score); HashMap put order
    // is irrelevant because printing sorts labels and (src,label) is unique
    val trans = mutable.LinkedHashMap.empty[Int, mutable.HashMap[String, (Int, Double)]]
    def put(src: Int, label: String, tgt: Int, score: Double): Unit =
      trans.getOrElseUpdate(src, mutable.HashMap.empty).put(label, (tgt, score))

    // conditional scores per word position; prev label = background pad at word 0
    val prevBuf = new Array[Int](1)
    for (i <- 0 until n; pred <- 0 until (if (i == 0) 1 else C)) {
      prevBuf(0) = if (i == 0) p.backgroundIndex else pred
      var c = 0
      while (c < C) {
        val score = -marg.condLogProbGivenPrevious(i, c, prevBuf)
        if (i == 0) put(startId, model.classIndex(c), stateId(1, c), score)
        else put(stateId(i, pred), model.classIndex(c),
          if (i + 1 == n) endId else stateId(i + 1, c), score)
        c += 1
      }
    }

    // DFSA.printAttFsmFormat: BFS with a plain queue (duplicates possible,
    // dedup at poll), transitions in natural label order, accepting end state
    // printed as `id \t score` when polled
    val out = Vector.newBuilder[String]
    val q = mutable.Queue(startId)
    val visited = mutable.Set.empty[Int]
    while (q.nonEmpty) {
      val s = q.dequeue()
      if (!visited.contains(s)) {
        visited += s
        if (s == endId) out += s"$endId\t0.0"
        else {
          val m = trans(s)
          for (label <- m.keys.toSeq.sorted) {
            val (tgt, score) = m(label)
            if (!visited.contains(tgt)) q.enqueue(tgt)
            out += s"$s\t$tgt\t$label\t$score"
          }
        }
      }
    }
    out.result()
  }

  /** The `-searchGraphPrefix` write surface (classifyAndWriteViterbiSearchGraph,
    * AbstractSequenceClassifier.java:897-924): for document number N, write
    * `prefix.N.lattice` (AT&T FSM lines) and an EMPTY `prefix.N.wlattice` —
    * faithful to this source drop, where no DocumentReaderAndWriter implements
    * LatticeWriter, so the reference always creates the .wlattice file and
    * writes nothing to it.
    *
    * Scale design: one small output file pair per document, written from the
    * executors through the Hadoop FileSystem API (works on HDFS/object stores,
    * not just local disk) — no driver materialization, no shuffle; document
    * numbering must be supplied by the caller (the reference numbers by file
    * read order). Returns the number of documents written.
    */
  def writeAll(docs: Dataset[(Long, Seq[String])], model: Broadcast[NerModel], prefix: String): Long = {
    val spark = docs.sparkSession
    val confSer = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val written = spark.sparkContext.longAccumulator("lattices_written")
    docs.foreachPartition { (it: Iterator[(Long, Seq[String])]) =>
      val fs = new org.apache.hadoop.fs.Path(prefix).getFileSystem(confSer.value)
      val m = model.value
      it.foreach { case (n, words) =>
        val lines = attLattice(m, words.toIndexedSeq)
        val out = fs.create(new org.apache.hadoop.fs.Path(s"$prefix.$n.lattice"), true)
        try {
          val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(out, "UTF-8"))
          lines.foreach { l => w.write(l); w.write('\n') }
          w.flush()
        } finally out.close()
        fs.create(new org.apache.hadoop.fs.Path(s"$prefix.$n.wlattice"), true).close()
        written.add(1L)
      }
    }
    written.value
  }
}
