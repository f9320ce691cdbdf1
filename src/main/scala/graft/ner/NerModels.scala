package graft.ner

import graft.pipeline.Transcripts
import graft.train.{LabeledDoc, Trainer}
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession

/** Default-model management: the NER model is a build artifact derived purely
  * from the deterministic synthetic corpus (seed 42, 400 conversations), so it
  * is trained once and cached on disk; queries load + broadcast it. The file
  * is `models/ner-conllnotags-v1.gz` under the working directory (the
  * checkout's root when run through sbt); set GRAFT_MODEL_PATH to override;
  * delete the file to force retraining.
  */
object NerModels {
  def defaultPath: String =
    sys.env.getOrElse("GRAFT_MODEL_PATH", "models/ner-conllnotags-v1.gz")

  private val defaultModel = new ModelMemo("graft-default-model", spark => {
    val path = defaultPath
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(path))) NerModel.load(path)
    else {
      import spark.implicits._
      val gold = Transcripts.synthGold(spark, nConvs = 400L, seed = 42L)
        .map(g => LabeledDoc(g.words, g.labels))
      val m = Trainer.train(spark, gold, Trainer.Config(maxIterations = 120))
      NerModel.save(m, path)
      m
    }
  })

  def default(spark: SparkSession): Broadcast[NerModel] = defaultModel.broadcast(spark)
}

/** A model built once per JVM on first use and broadcast once per
  * SparkContext (Bench restarts sessions at different parallelism, and a
  * broadcast from a stopped context must not be reused). Queries and the
  * oracle generator read the same in-memory model; a caller without a
  * session (the oracle generator outside Verify) builds in a small local one.
  */
final class ModelMemo(appName: String, build: SparkSession => NerModel) {
  @volatile private var model: NerModel = _
  private var shared: (SparkContext, Broadcast[NerModel]) = _

  def apply(spark: SparkSession): NerModel = {
    var m = model
    if (m == null) synchronized {
      m = model
      if (m == null) { m = build(spark); model = m }
    }
    m
  }

  def apply(): NerModel = apply(
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).getOrElse(
      SparkSession.builder().master("local[4]").appName(appName)
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false").getOrCreate()))

  def broadcast(spark: SparkSession): Broadcast[NerModel] = synchronized {
    val sc = spark.sparkContext
    if (shared == null || (shared._1 ne sc)) shared = (sc, sc.broadcast(apply(spark)))
    shared._2
  }
}
