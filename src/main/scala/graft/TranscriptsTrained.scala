package graft

import graft.ner.ModelMemo
import graft.pipeline.Transcripts
import graft.train.{LabeledDoc, Trainer}
import org.apache.spark.sql.{Dataset, SparkSession}

/** The q56/q57 trained-on-TRANSCRIPTS CRF: the same real-L-BFGS-fit design as
  * [[TrainedCrf]] (full Trainer path, dictionary restricted to the four
  * SQL-expressible families), but trained on the ACTUAL transcript corpus —
  * gold-labeled turns from the deterministic generator — and tagged over the
  * ACTUAL transcript table through the REAL serving path
  * (`Tagger.tagTurns`: text → PTB tokenize → sentence split → Viterbi).
  *
  * This closes the gap between the q48-q53 certificates (trained weights, but
  * a documents-vocabulary synthetic corpus) and the q30-q35 production queries
  * (real transcripts, but rows-only): here the corpus, the tokenizer, the
  * 4-class label set (O/PERSON/ORGANIZATION/LOCATION) and the learned weights
  * are all the production shape, and the DuckDB oracle (graft.oracle)
  * recomputes everything independently — it regenerates the token stream
  * from the generator's splitmix64 formulas (the q54 pattern; the engine side
  * consumes the DETOKENIZED text and re-tokenizes with the real tokenizer, so
  * agreement also certifies the tokenizer round-trip), embeds the learned
  * weights as CAST-string VALUES, and replays shape → emission → weight join
  * → Viterbi.
  *
  * Determinism contract: same as TrainedCrf — train-once memoization makes
  * the gate bit-exact regardless of L-BFGS float-summation order, because the
  * query and the oracle SQL read the same in-memory weights within one
  * Verify JVM.
  */
object TrainedTranscriptsCrf {

  /** Gold-labeled training corpus: the first 300 conversations of the same
    * deterministic generator the q30-q35 queries tag (seed 42), pre-tokenized
    * with gold labels (PERSON/ORGANIZATION/LOCATION entity slots, weekday and
    * filler tokens O). ~1,100 single-sentence docs, ~100-word closed
    * vocabulary.
    */
  def corpus(spark: SparkSession): Dataset[LabeledDoc] = {
    import spark.implicits._
    Transcripts.synthGold(spark, 300L).map(g => LabeledDoc(g.words, g.labels))
  }

  /** Same reduction levers as TrainedCrf.trainConfig (see its doc for the
    * reference-legality argument): fullProduct layout so oracle VALUES rows
    * map 1:1 onto weight columns (4 unary / 16 pair for the 4-class model),
    * empty knownLCWords so dan2 never takes the 'k' suffix, dictionary
    * restricted to word / shape / PSEQ / shape-pair.
    */
  def trainConfig: Trainer.Config = Trainer.Config(
    maxIterations = 100,
    observedSequencesOnly = false,
    maxKnownLCWords = 0,
    dictionaryFilter = Some(TrainedCrf.dictFilter))

  val model = new ModelMemo("graft-q56-train", spark => Trainer.train(spark, corpus(spark), trainConfig))
}
