package graft.kg

import graft.ner.{NerModel, Tagger}
import graft.ner.Tagger.TaggedSentence
import graft.pipeline.{Mention, Triple, Turn}
import graft.text.{SentenceSplitter, Tokenizer}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions.col

/** Where a KG chain's tagging units come from — a dataset of units and how
  * each splits into sentences — and the key columns its tag, span and
  * triple rows carry (the engine side of `graft.oracle.Kg.Corpus`).
  */
final case class Corpus[U](units: Dataset[U], sentences: (U, NerModel) => Iterator[TaggedSentence],
    keys: Seq[Column], spanKeys: Seq[Column]) {
  private[kg] def fold[R: Encoder](model: Broadcast[NerModel])(
      emit: Iterator[TaggedSentence] => IterableOnce[R]): Dataset[R] =
    Tagger.fold(units, model, sentences)(emit)
}

object Corpus {
  /** Transcript turns: PTB tokenize, sentence split, offsets into the turn
    * text. Keys (conv_id, turn_idx), spans also sent_idx.
    */
  def turns(turns: Dataset[Turn]): Corpus[Turn] = Corpus(turns, Tagger.turnSentences,
    Seq(col("conv_id"), col("turn_idx")), Seq(col("conv_id"), col("turn_idx"), col("sent_idx")))

  /** Tokenized documents (doc_id, tokens): one sentence each, tokens joined
    * by single spaces. Key doc_id.
    */
  def docs(docs: Dataset[(Long, Seq[String])]): Corpus[(Long, Seq[String])] = {
    val key = Seq(col("conv_id").cast("long").as("doc_id"))
    Corpus(docs, Tagger.docSentences, key, key)
  }
}

/** The KG chain: a corpus → tags → mention spans → (subj, pred, obj)
  * triples, in ONE shuffle-free pass (tokenize/tag/span/triple all happen
  * partition-locally with the model broadcast), then linking and the graph
  * rollups. Downstream linking/canonicalization (EntityLink,
  * ConnectedComponents, GraphMaterializer) add the only shuffles in the DAG.
  */
object KgPipeline {

  /** One stage of the chain over `corpus`, with the output columns of the
    * oracle stage of the same name.
    */
  def compose(corpus: Corpus[_], model: Broadcast[NerModel], stage: Stage): DataFrame = {
    import Stage._
    val spark = corpus.units.sparkSession
    import spark.implicits._
    stage match {
      case Tags => corpus.fold(model)(_.flatMap(_.tokens))
          .select(corpus.keys ++ Seq(col("token_idx").as("pos"), col("word").as("token"),
            col("answer").as("tag")): _*)
      case Spans => mentions(corpus, model)
          .select(corpus.spanKeys ++ Seq("etype", "begin_char", "end_char", "surface").map(col): _*)
      case Triples => triples(corpus, model)
          .select(corpus.keys ++ Seq("subj", "subj_type", "pred", "obj", "obj_type").map(col): _*)
      case Link => EntityLink.link(mentions(corpus, model))
      case Nodes => GraphMaterializer.rollupNodes(EntityLink.link(mentions(corpus, model)))
      case Edges =>
        // one tag pass feeds both sides; the linking result is pinned, so the
        // surface map's size guard and both joins replay blocks instead of
        // re-running tag -> link
        val (tps, ments) = triplesAndMentions(corpus, model)
        GraphMaterializer.rollupEdges(tps.toDF(), EntityLink.link(ments).localCheckpoint())
    }
  }

  def triples(turns: Dataset[Turn], model: Broadcast[NerModel]): Dataset[Triple] =
    triples(Corpus.turns(turns), model)

  /** Triples AND mention spans from ONE tagging pass (round-2 review finding:
    * q35 tagged the corpus once for triples and again for mentions; tagging
    * dominates the stage, so consumers needing both must share the pass).
    * The per-unit (triples, mentions) rows are pinned via localCheckpoint so
    * the two returned views replay pinned blocks instead of re-tagging —
    * TaggerGroupingSpec asserts exactly one scan of the input.
    */
  def triplesAndMentions(turns: Dataset[Turn], model: Broadcast[NerModel])
      : (Dataset[Triple], Dataset[Mention]) =
    triplesAndMentions(Corpus.turns(turns), model)

  private def triples(corpus: Corpus[_], model: Broadcast[NerModel]): Dataset[Triple] = {
    val spark = corpus.units.sparkSession
    import spark.implicits._
    corpus.fold(model)(_.flatMap(_.triples))
  }

  private def mentions(corpus: Corpus[_], model: Broadcast[NerModel]): Dataset[Mention] = {
    val spark = corpus.units.sparkSession
    import spark.implicits._
    corpus.fold(model)(_.flatMap(_.spans))
  }

  private def triplesAndMentions(corpus: Corpus[_], model: Broadcast[NerModel])
      : (Dataset[Triple], Dataset[Mention]) = {
    val spark = corpus.units.sparkSession
    import spark.implicits._
    val both = corpus.fold[(Seq[Triple], Seq[Mention])](model) { ss =>
      val tagged = ss.toVector
      Iterator.single((tagged.flatMap(_.triples), tagged.flatMap(_.spans)))
    }.localCheckpoint()
    (both.flatMap(_._1), both.flatMap(_._2))
  }

  /** Gold triples from pre-tokenized gold turns (for eval / the differential
    * harness): runs the SAME span fold + rules over gold labels.
    */
  def goldTriples(convId: String, turnIdx: Int, words: IndexedSeq[String], labels: IndexedSeq[String]): Seq[Triple] = {
    // reconstruct offsets from the detokenized text so spans match the tagger's
    val text = graft.pipeline.Transcripts.detokenize(words)
    val toks = Tokenizer.tokenize(text)
    require(toks.length == words.length, s"detokenize round-trip mismatch: $words vs ${toks.map(_.word)}")
    val sentences = SentenceSplitter.split(toks)
    var off = 0
    sentences.zipWithIndex.flatMap { case (sent, sentIdx) =>
      val sentLabels = (off until off + sent.length).map(labels)
      off += sent.length
      val mentions = Tagger.spansOfSentence(convId, turnIdx, sentIdx, sent, sentLabels, text, "O")
      TripleRules.fromSentence(mentions, sent.map(t => (t.word, t.begin)))
    }
  }
}
