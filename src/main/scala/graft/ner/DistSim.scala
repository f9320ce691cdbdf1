package graft.ner

/** Distributional-similarity lexicon (NERFeatureFactory.initLexicon /
  * distSimAnnotate, /root/reference/src/edu/stanford/nlp/ie/NERFeatureFactory.java:497-530):
  * `word cluster` lines, keyed by the LOWERCASED (fixed) word; words absent
  * from the lexicon annotate as the literal string "null" — pad tokens are
  * never annotated (get -> "null" under string concat, getString -> "").
  *
  * Under the conllNoTags template set + useDistSim, exactly four sites fire:
  *   C:   cDS-DISTSIM (:771), pDS-PDISTSIM under usePrev (:966),
  *        pDS-NDISTSIM under useNext (:982 — the reference reads the PREVIOUS
  *        token's cluster there; a latent bug we mirror byte-for-byte, since
  *        feature identity is string equality)
  *   CpC: the PSEQpDS/PSEQcDS/PSEQpcDS templates (:1553-1555) carry real
  *        cluster strings instead of the empty-string degeneration.
  */
final class DistSim(val lexicon: Map[String, String]) extends Serializable {
  /** Cluster of a REAL token's (fixed) word — "null" when unknown. */
  def clusterOf(word: String): String = lexicon.getOrElse(word.toLowerCase, "null")
  def size: Int = lexicon.size
}

object DistSim {
  def parse(lines: IterableOnce[String]): DistSim =
    new DistSim(lines.iterator.filter(_.trim.nonEmpty).map { l =>
      val bits = l.split("\\s+")
      bits(0).toLowerCase -> bits(1)
    }.toMap)
}
