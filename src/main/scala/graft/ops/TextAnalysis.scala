package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines: token
  * counting, quality scoring, language ID, fingerprinting. All but the
  * fingerprint are pure Catalyst column expressions (codegen'd, no UDF), so
  * they run inside WholeStageCodegen directly over the parquet scan — at
  * 100 TB these are scan-bound single-pass jobs with zero shuffle.
  */
object TextAnalysis {

  /** The shared word-token regex (kept ANSI-SQL-portable so the DuckDB oracle
    * can reproduce it: letters+digits runs, or single non-space symbols).
    */
  val TokenPattern = "[A-Za-z0-9]+|[^A-Za-z0-9\\s]"

  def tokensCol(text: Column): Column = regexp_extract_all(text, lit(TokenPattern), lit(0))

  private val stopwords = Seq("the", "a", "an", "of", "and", "or", "to", "in", "is", "it",
    "on", "for", "with", "as", "at", "by", "this", "that")

  /** Heuristic quality score in [0,1] from length / punctuation / stopword
    * ratios (the C4/Gopher-style cheap filters, as column algebra).
    */
  def qualityScore(docs0: DataFrame): DataFrame = {
    val docs = Par.fan(docs0.select(col("doc_id"), col("text"))) // guide §2.5: 1-split scan
    val toks = tokensCol(lower(col("text")))
    val nTok = size(toks).cast("double")
    val nStop = size(filter(toks, t => t.isInCollection(stopwords))).cast("double")
    val nPunct = size(filter(toks, t => t.rlike("^[^A-Za-z0-9]$"))).cast("double")
    val stopRatio = nStop / greatest(nTok, lit(1.0))
    val punctRatio = nPunct / greatest(nTok, lit(1.0))
    val lenScore = least(nTok / lit(50.0), lit(1.0))
    val score = round(greatest(lit(0.0),
      lenScore * (lit(1.0) - punctRatio) * (lit(0.5) + least(stopRatio * lit(2.5), lit(0.5)))), 4)
    docs.select(
      col("doc_id"),
      size(toks).as("n_tokens"),
      round(stopRatio, 4).as("stopword_ratio"),
      round(punctRatio, 4).as("punct_ratio"),
      score.as("quality"))
  }

  /** Marker-word language ID: count hits against per-language stopword lists,
    * argmax with a fixed tie order. Deliberately SQL-portable (the DuckDB
    * oracle runs the same rule); a char-n-gram profile model would slot in
    * behind the same output schema.
    */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "you", "that", "it", "for"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "mit", "auf", "zu"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "se", "un", "por", "con"),
    "fr" -> Seq("le", "la", "les", "et", "des", "est", "un", "une", "dans", "pour"))

  def langId(docs0: DataFrame): DataFrame = {
    val docs = Par.fan(docs0.select(col("doc_id"), col("text"))) // guide §2.5: 1-split scan
    val toks = tokensCol(lower(col("text")))
    def hits(lang: String): Column =
      size(filter(toks, t => t.isInCollection(langMarkers(lang)))).as(s"hits_$lang")
    val withHits = docs.select(col("doc_id") +: langMarkers.keys.toSeq.sorted.map(hits): _*)
    val langs = langMarkers.keys.toSeq.sorted // de, en, es, fr — fixed tie order
    // argmax via chained when(): first language (in sorted order) with max hits
    val maxHits = greatest(langs.map(l => col(s"hits_$l")): _*)
    val pred = langs.foldRight(lit("und")) { (l, acc) =>
      when(col(s"hits_$l") === maxHits && maxHits > 0, lit(l)).otherwise(acc)
    }
    withHits.select(
      (col("doc_id") +: langs.map(l => col(s"hits_$l"))) :+ pred.as("pred_lang"): _*)
  }

  /** Polynomial rolling-hash fingerprint per document (not SQL-portable —
    * covered by the rows-only check + HashingSpec).
    */
  def fingerprints(docs: DataFrame): DataFrame = {
    val fp = udf((s: String) => Hashing.rollingFingerprint(s))
    val sh = udf((s: String) => Hashing.simHash(Hashing.wordShingles(s.toLowerCase, 3)))
    Par.fan(docs.select(col("doc_id"), col("text"))) // guide §2.5: 1-split scan
      .select(col("doc_id"), fp(col("text")).as("fingerprint"), sh(lower(col("text"))).as("simhash"))
  }
}
