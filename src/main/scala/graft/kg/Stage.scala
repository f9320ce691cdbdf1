package graft.kg

/** The stage a KG query ends in. The engine (`KgPipeline.compose`) and the
  * oracle generator (`graft.oracle.Kg.compose`) switch on the same values.
  */
sealed trait Stage

object Stage {
  /** Per-token tags. */
  case object Tags extends Stage
  /** Mention spans (Tagger.spansOfSentence). */
  case object Spans extends Stage
  /** (subj, pred, obj) triples (TripleRules.fromSentence). */
  case object Triples extends Stage
  /** The surface map (EntityLink.link). */
  case object Link extends Stage
  /** Node rollup (GraphMaterializer.rollupNodes): per-entity aggregation
    * with the max-struct canonical pick. */
  case object Nodes extends Stage
  /** Weighted edges (GraphMaterializer.rollupEdges): triples joined to the
    * surface map on both endpoints. */
  case object Edges extends Stage
}
