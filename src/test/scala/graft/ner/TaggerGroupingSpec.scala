package graft.ner

import graft.pipeline.{SparkTestSession, Transcripts}
import org.scalatest.funsuite.AnyFunSuite

class TaggerGroupingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("conversation-grouped tagging equals the shuffle-free path") {
    val model = NerModels.default(spark)
    val turns = Transcripts.synth(spark, 120L)
    val flat = Tagger.mentions(turns, model).collect().toSet
    val grouped = Tagger.mentionsByConversation(turns, model).collect().toSet
    assert(grouped == flat)
    assert(flat.nonEmpty)
    // the grouped plan contains exactly one exchange; the flat plan none
    val gPlan = Tagger.mentionsByConversation(turns, model).queryExecution.executedPlan.toString
    val fPlan = Tagger.mentions(turns, model).queryExecution.executedPlan.toString
    assert(gPlan.contains("Exchange"))
    assert(!fPlan.contains("Exchange"))
  }

  test("maxDocSize split at the 10k limit; tagLongDoc == concatenated piece tags") {
    // ObjectBankWrapper.fixDocLengths semantics at the REAL default limit:
    // cut after the latest '.' in (maxSize/2, maxSize], else at maxSize
    val words = IndexedSeq.tabulate(25000)(i => if (i % 997 == 0) "." else s"w$i")
    val pieces = NerModel.fixDocLengths(words, 10000)
    assert(pieces.flatten == words, "split must be a partition of the document")
    assert(pieces.length > 1)
    // every non-final piece ends at a sentence boundary or exactly at maxSize
    for (p <- pieces.dropRight(1)) assert(p.last == "." || p.length == 10000)
    assert(pieces.dropRight(1).forall(_.length <= 10001)) // '.' AT maxSize -> maxSize+1
    // no '.' in the window -> hard cut at maxSize
    assert(NerModel.fixDocLengths(IndexedSeq.tabulate(23)(i => s"t$i"), 10)
      .map(_.length) == Seq(10, 10, 3))
    // documents within the limit pass through untouched
    assert(NerModel.fixDocLengths(words.take(100), 10000) == Seq(words.take(100)))

    val model = NerModels.default(spark).value
    val (w0, _) = Transcripts.turnTokens(8L, 1L, 0)
    val longDoc = (0 until 40).flatMap(_ => w0 :+ ".").toIndexedSeq
    val got = model.tagLongDoc(longDoc, maxDocSize = 64)
    val exp = NerModel.fixDocLengths(longDoc, 64).flatMap(p => model.tag(p))
    assert(got.length == longDoc.length)
    assert(got.toSeq == exp)
  }

  test("triplesAndMentions tags the corpus exactly once for the whole q35 shape") {
    // round-2 review finding: q35 re-ran the tagger up to 4x (triples,
    // mentions, the surface map's count, final join). The shared-pass + pinned
    // intermediates version must scan the input turns exactly once, counted
    // by an accumulator on the input rows.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val model = NerModels.default(spark)
    val turns = Transcripts.synth(spark, 60L)
    val nTurns = turns.count()
    val scans = spark.sparkContext.longAccumulator("turnScans")
    val instrumented = turns.map { t => scans.add(1); t }
    scans.reset()
    val (tps, ments) = graft.kg.KgPipeline.triplesAndMentions(instrumented, model)
    val linked = graft.kg.EntityLink.link(ments).localCheckpoint()
    val edges = graft.kg.GraphMaterializer.joinEndpoints(tps.toDF(), linked)
      .groupBy(col("subj_id"), col("pred"), col("obj_id"))
      .agg(count(lit(1)).as("weight"))
    assert(edges.count() > 0)
    assert(scans.value == nTurns,
      s"expected exactly one scan of $nTurns turns, saw ${scans.value} row reads")

    // the docs-corpus Edges shape (q46, q53) shares the same one-pass fold
    val docs = (0L until 60L).map(c => (c, Transcripts.turnTokens(42L, c, 0)._1: Seq[String]))
    val docScans = spark.sparkContext.longAccumulator("docScans")
    val instrumentedDocs = docs.toDS().map { d => docScans.add(1); d }
    val docEdges = graft.kg.KgPipeline.compose(graft.kg.Corpus.docs(instrumentedDocs), model,
      graft.kg.Stage.Edges)
    assert(docEdges.count() > 0)
    assert(docScans.value == docs.length,
      s"expected exactly one scan of ${docs.length} docs, saw ${docScans.value} row reads")
  }
}
