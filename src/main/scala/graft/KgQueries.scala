package graft

import graft.kg.Stage
import graft.kg.Stage._

/** The KG queries: each one is one stage of one model family's chain.
  * `SparkEntry.queries` builds each from its family's corpus and model, and
  * `graft.oracle.Oracles.sql` from its family's tag prefix, so which stage of
  * which family a query checks is written here only.
  */
object KgQueries {

  sealed trait Family
  /** The default on-disk model over the transcript turns: the production
    * shapes, checked for rows only. */
  case object Production extends Family
  /** A CRF over the tokenized documents whose weights derive from
    * splitmix64(fnv(feature)), so the oracle derives the same weights with
    * no dictionary and replays the whole tag → span → triple → link → graph
    * chain in SQL. */
  case object HashDocs extends Family
  /** The q41 machinery with weights from a real L-BFGS fit (TrainedCrf); the
    * oracle embeds the in-memory weights. */
  case object TrainedDocs extends Family
  /** A CRF trained on gold transcript turns (TrainedTranscriptsCrf), tagging
    * the turns through the PTB tokenizer; the oracle regenerates the tokens
    * from the generator's formulas, so agreement also certifies the
    * tokenizer's offsets. */
  case object TrainedTurns extends Family
  /** The default on-disk model over the turns, under the oracle gate: the
    * oracle re-derives the conllNoTags feature surface and a second-order
    * Viterbi from the weight matrix. */
  case object DefaultTurns extends Family

  val table: Seq[(String, Family, Stage)] = Seq(
    ("q31_mentions", Production, Spans),
    ("q32_triples", Production, Triples),
    ("q33_entity_link", Production, Link),
    ("q34_graph_nodes", Production, Nodes),
    ("q35_graph_edges", Production, Edges),
    ("q41_crf_viterbi", HashDocs, Tags),
    ("q42_crf_spans", HashDocs, Spans),
    ("q43_crf_triples", HashDocs, Triples),
    ("q44_entity_link", HashDocs, Link),
    ("q45_graph_nodes", HashDocs, Nodes),
    ("q46_graph_edges", HashDocs, Edges),
    ("q48_crf_trained", TrainedDocs, Tags),
    ("q49_crf_trained_spans", TrainedDocs, Spans),
    ("q50_crf_trained_triples", TrainedDocs, Triples),
    ("q51_trained_entity_link", TrainedDocs, Link),
    ("q52_trained_graph_nodes", TrainedDocs, Nodes),
    ("q53_trained_graph_edges", TrainedDocs, Edges),
    ("q56_trained_transcripts_tags", TrainedTurns, Tags),
    ("q57_trained_transcripts_spans", TrainedTurns, Spans),
    ("q58_trained_transcripts_triples", TrainedTurns, Triples),
    ("q59_trained_transcripts_link", TrainedTurns, Link),
    ("q60_trained_transcripts_nodes", TrainedTurns, Nodes),
    ("q61_trained_transcripts_edges", TrainedTurns, Edges),
    ("q62_default_model_tags", DefaultTurns, Tags),
    ("q63_default_model_triples", DefaultTurns, Triples),
    ("q64_default_model_link", DefaultTurns, Link))
}
