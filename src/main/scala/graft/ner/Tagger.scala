package graft.ner

import graft.kg.TripleRules
import graft.pipeline.{Mention, TaggedToken, Triple, Turn}
import graft.text.{RawToken, SentenceSplitter, Tokenizer}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, Encoder}
import scala.collection.immutable.ArraySeq

/** Distributed NER tagging: the reference's per-document classify loop
  * (CRFClassifier.classifyMaxEnt, /root/reference/src/edu/stanford/nlp/ie/crf/
  * CRFClassifier.java:685-717) re-shaped as a shuffle-free `mapPartitions`
  * over typed `Dataset[Turn]` with the model broadcast once.
  *
  * Scale design: the inference unit is one turn (each sentence decoded
  * independently), so tagging is embarrassingly parallel — NO shuffle, NO
  * groupBy — and scales linearly with input splits. Cross-turn state is not
  * needed by the conllNoTags feature set; per-conversation document assembly
  * (for e.g. occurrence-pattern features) would add exactly one shuffle via
  * `groupByKey(conv_id).flatMapSortedGroups`, documented in SURVEY.md §2.6.
  *
  * Every tagging path goes through one per-sentence fold, [[TaggedSentence]]:
  * `model.tag`, then [[spansOfSentence]], then `TripleRules.fromSentence`.
  */
object Tagger {

  /** One sentence through the fold: the model's tags at once, the spans over
    * them on first use, the triples over the spans on request.
    */
  final class TaggedSentence(val convId: String, val turnIdx: Int, val sentIdx: Int,
      val toks: IndexedSeq[RawToken], val text: String, m: NerModel) {
    val answers: Array[String] = m.tag(toks.map(_.word))

    lazy val spans: Vector[Mention] = spansOfSentence(convId, turnIdx, sentIdx, toks,
      ArraySeq.unsafeWrapArray(answers), text, m.classIndex(m.backgroundIndex))

    def triples: Seq[Triple] = TripleRules.fromSentence(spans, toks.map(t => (t.word, t.begin)))

    def tokens: Iterator[TaggedToken] = toks.indices.iterator.map { i =>
      val t = toks(i)
      TaggedToken(convId, turnIdx, sentIdx, i, t.word, t.begin, t.end, answers(i))
    }
  }

  /** A text's sentences (PTB tokenize, sentence split), each tagged when
    * reached; none for null or empty text.
    */
  def sentencesOf(convId: String, turnIdx: Int, text: String, m: NerModel): Iterator[TaggedSentence] =
    if (text == null || text.isEmpty) Iterator.empty
    else SentenceSplitter.split(Tokenizer.tokenize(text)).iterator.zipWithIndex.map {
      case (sent, sentIdx) => new TaggedSentence(convId, turnIdx, sentIdx, sent, text, m)
    }

  val turnSentences: (Turn, NerModel) => Iterator[TaggedSentence] =
    (turn, m) => sentencesOf(turn.conv_id, turn.turn_idx, turn.text, m)

  /** A tokenized document as one sentence: its tokens joined by single
    * spaces (the offsets invert the join), keyed by the doc id.
    */
  val docSentences: ((Long, Seq[String]), NerModel) => Iterator[TaggedSentence] = {
    case ((id, tk), m) =>
      if (tk == null || tk.isEmpty) Iterator.empty
      else {
        var off = 0
        val raws = tk.iterator.map { w =>
          val b = off; off += w.length + 1; RawToken(w, b, b + w.length)
        }.toVector
        Iterator.single(new TaggedSentence(id.toString, 0, 0, raws, tk.mkString(" "), m))
      }
  }

  /** The one tagging pass: in each partition, with the model taken from the
    * broadcast once, every unit's tagged sentences are handed to `emit`,
    * whose rows are the output. Shuffle-free.
    */
  def fold[U, R: Encoder](units: Dataset[U], model: Broadcast[NerModel],
      sentences: (U, NerModel) => Iterator[TaggedSentence])(
      emit: Iterator[TaggedSentence] => IterableOnce[R]): Dataset[R] =
    units.mapPartitions { it =>
      val m = model.value
      it.flatMap(u => emit(sentences(u, m)))
    }

  /** Tokenize + sentence-split + Viterbi-tag each turn. */
  def tagTurns(turns: Dataset[Turn], model: Broadcast[NerModel]): Dataset[TaggedToken] = {
    import turns.sparkSession.implicits._
    fold(turns, model, turnSentences)(_.flatMap(_.tokens))
  }

  /** Collapse per-token answers into mention spans with character offsets.
    * Reference semantic (AbstractSequenceClassifier.classifyToCharacterOffsets,
    * :473-516): a span extends while the answer is unchanged; ANY label change
    * — including entity-type to entity-type adjacency — closes the span.
    * Pure per-sentence fold; runs inside the same partition as tagging.
    */
  def spansOfSentence(
      convId: String, turnIdx: Int, sentIdx: Int,
      toks: IndexedSeq[RawToken], answers: IndexedSeq[String],
      text: String, background: String): Vector[Mention] = {
    val out = Vector.newBuilder[Mention]
    var i = 0
    val n = toks.length
    while (i < n) {
      val a = answers(i)
      if (a != background) {
        var j = i + 1
        while (j < n && answers(j) == a) j += 1
        val begin = toks(i).begin
        val end = toks(j - 1).end
        out += Mention(convId, turnIdx, sentIdx, a, begin, end, text.substring(begin, end))
        i = j
      } else i += 1
    }
    out.result()
  }

  /** Conversation-grouped tagging: assemble each conversation's turns in
    * stable (conv_id, turn_idx) order and tag them inside one group closure —
    * the north-star `groupByKey(conv_id).flatMapSortedGroups` shape. The
    * decode unit stays the sentence, so under the conllNoTags feature set the
    * output is IDENTICAL to the shuffle-free `mentions` path (asserted in
    * TaggerGroupingSpec); this path is where conversation-scoped state
    * (occurrence-pattern features, cross-turn consistency priors) plugs in,
    * at the cost of exactly one shuffle.
    */
  def mentionsByConversation(turns: Dataset[Turn], model: Broadcast[NerModel]): Dataset[Mention] = {
    val spark = turns.sparkSession
    import spark.implicits._
    turns.groupByKey(_.conv_id).flatMapSortedGroups(Seq($"turn_idx".asc): _*) { (_, it) =>
      val m = model.value
      it.flatMap(turn => turnSentences(turn, m).flatMap(_.spans))
    }
  }

  /** Tag turns and emit mentions directly (single pass, still shuffle-free). */
  def mentions(turns: Dataset[Turn], model: Broadcast[NerModel]): Dataset[Mention] = {
    import turns.sparkSession.implicits._
    fold(turns, model, turnSentences)(_.flatMap(_.spans))
  }
}
