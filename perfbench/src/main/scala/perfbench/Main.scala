package perfbench

import graft.SparkEntry
import graft.kg.{EntityLink, GraphMaterializer, KgPipeline}
import graft.ner.{NerModel, NerModels}
import graft.pipeline.{Mention, Transcripts, Triple, Turn}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** The JVM half of the benchmark (`perfbench/run.py` is the entry point).
  *
  * One process runs one workload at local[nproc] and writes a JSON record of
  * raw samples (set-up times, one entry per timed operation with its check
  * result, host facts, and with `--trace 1` the per-layer figures). The
  * Python runner turns the samples into medians and adds the DuckDB oracle
  * checks. Inputs come from `--seed`; every operation's output is checked
  * outside the timed window.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      out: String, work: String, data: String, inject: String)

  /** Fixed input sizes. */
  val TagConvs = 12000L
  val ChainConvs = 6000L
  /** Same split count at every parallelism level: the work units stay
    * identical when the core count changes.
    */
  val Parts = 32
  val SetupReps = 3
  /** Conversations in set-up's small job. */
  val SetupConvs = 200L

  val Headline: Seq[String] = Seq(
    "q01_pricing_summary", "q02_revenue_by_nation", "q03_top_orders_per_customer",
    "q04_running_supplier_revenue", "q08_sessionize_events", "q11_tokens",
    "q12_token_stats", "q16_dedup_exact", "q18_jaccard_pairs", "q20_dedup_minhash",
    "q21_dedup_simhash", "q22_knn_brute", "q23_knn_lsh", "q24_embed_pairs",
    "q25_windowed_events", "q31_mentions", "q32_triples")
  /** Headline queries whose answers come from the generator's gold labels
    * rather than an oracle SQL.
    */
  val GoldChecked = Set("q31_mentions", "q32_triples")
  /** Headline queries whose definitions run no job and together read every
    * sf table: defining them resolves the session's table handles (traced
    * run).
    */
  val HandleQueries = Seq("q01_pricing_summary", "q02_revenue_by_nation", "q08_sessionize_events",
    "q11_tokens", "q22_knn_brute")
  /** Seconds of untimed operations before the timed ones: the JIT needs
    * about two chains to settle.
    */
  val TagWarmupSeconds = 4.0
  val ChainWarmupSeconds = 12.0

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (kv.contains("dump-oracles")) { dumpOracles(kv("dump-oracles")); return }
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv("out"), kv("work"), kv.getOrElse("data", ""), kv.getOrElse("inject", ""))
    val rec = new Record
    rec.put("host", Host.facts)
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val errors = mutable.ArrayBuffer.empty[String]
    val ctx = new Ctx(a, rec, ops, errors)
    try {
      if (a.trace) Trace.run(ctx)
      else a.workload match {
        case "tag" => tag(ctx)
        case "kg_chain" => kgChain(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } catch {
      case e: Throwable =>
        errors += s"run aborted: $e"
        e.printStackTrace()
    } finally {
      SparkSession.getActiveSession.foreach(_.stop())
    }
    rec.put("ops", ops.toSeq)
    rec.put("errors", errors.toSeq)
    rec.put("peak_rss_mb", Host.peakRssMb)
    rec.write(a.out)
  }

  /** State shared by the parts of one run. */
  final class Ctx(val a: Args, val rec: Record, val ops: mutable.ArrayBuffer[Map[String, Any]],
      val errors: mutable.ArrayBuffer[String]) {
    def localDir: String = s"${a.work}/spark-local"
    val full: Int = Host.nproc
    val half: Int = math.max(1, Host.nproc / 2)

    /** Records one operation; `problems` empty means its answer was right. */
    def op(name: String, sec: Double, problems: Seq[String], extra: (String, Any)*): Unit = {
      problems.foreach(p => errors += s"$name: $p")
      ops += Map[String, Any]("op" -> name, "sec" -> sec, "ok" -> problems.isEmpty) ++ extra
    }
  }

  def seconds[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val r = f
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** Runs `body` until `budget` seconds have passed, at least once. */
  def repeatFor(budget: Double)(body: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i == 0 || (System.nanoTime() - t0) / 1e9 < budget) { body(i); i += 1 }
  }

  /** Set-up, repeated: a fresh session at `cores`, the default model loaded
    * and broadcast, then `warm` — the workload's table handles and a small
    * job of the workload's own kind. Records the wall time of each
    * repetition and keeps the last session open.
    */
  def setup(ctx: Ctx, cores: Int, reps: Int)(
      warm: (SparkSession, Broadcast[NerModel], Int) => Unit): SparkSession = {
    var s: SparkSession = null
    val times = (0 until reps).map { i =>
      if (s != null) s.stop()
      seconds {
        s = Sessions.open(cores, ctx.localDir)
        warm(s, NerModels.default(s), i)
      }._1
    }
    ctx.rec.put("setup_s", times)
    s
  }

  /** Set-up's small job for the tagging workloads. */
  def smallTag(s: SparkSession, m: Broadcast[NerModel], seed: Long): Unit =
    KgPipeline.triples(Transcripts.synth(s, SetupConvs, seed), m).toDF()
      .write.format("noop").mode("overwrite").save()

  /** Seeded turns pinned in memory before any timing. */
  def pinnedTurns(s: SparkSession, nConvs: Long, seed: Long): (Dataset[Turn], Long) = {
    val t = Transcripts.synth(s, nConvs, seed).repartition(Parts).cache()
    (t, t.count())
  }

  /** The tagging operation: turns → triples, to the noop sink, digested on
    * the way. The self-test's `drop_triple` fault removes one triple first.
    */
  def tagOnce(ctx: Ctx, turns: Dataset[Turn], m: Broadcast[NerModel], victim: Triple): Digest = {
    val out = KgPipeline.triples(turns, m)
    val dropped = if (ctx.a.inject == "drop_triple") out.filter((t: Triple) => t != victim) else out
    Digest.ofNoopWrite(dropped.toDF())
  }

  def tag(ctx: Ctx): Unit = {
    val s = setup(ctx, ctx.full, SetupReps)((s, m, _) => smallTag(s, m, ctx.a.seed))
    val m = NerModels.default(s)
    val (turns, nTurns) = pinnedTurns(s, TagConvs, ctx.a.seed)
    val goldDs = Gold.triples(s, TagConvs, ctx.a.seed)
    val gold = Digest.of(goldDs.toDF())
    val victim = goldDs.head()
    ctx.rec.put("turns", nTurns)
    def check(d: Digest) = if (d == gold) Nil else Seq(s"triple digest $d != gold $gold")
    repeatFor(TagWarmupSeconds) { _ => // checked, not timed
      val (sec, d) = seconds(tagOnce(ctx, turns, m, victim))
      ctx.op("tag_warmup", sec, check(d), "timed" -> false)
    }
    repeatFor(ctx.a.seconds) { _ =>
      val (sec, d) = seconds(tagOnce(ctx, turns, m, victim))
      ctx.op("tag", sec, check(d), "level" -> ctx.full)
    }
  }

  // ----- kg_chain -----

  /** Transcripts → triples and mentions → entity link → nodes and edges
    * tables, written into `dir`. Returns the pinned triples and mentions the
    * check needs.
    */
  def chainOnce(turns: Dataset[Turn], m: Broadcast[NerModel], dir: String, fp: String)
      : (Dataset[Triple], Dataset[Mention]) = {
    val (tp, me) = KgPipeline.triplesAndMentions(turns, m)
    val linked = EntityLink.link(me)
    GraphMaterializer.materialize(tp, linked, dir, fp, sink = GraphMaterializer.ParquetBucketSink)
    (tp, me)
  }

  /** Invariants of one written graph, plus the triples against gold. */
  def checkChain(ctx: Ctx, s: SparkSession, dir: String, tp: Dataset[Triple],
      me: Dataset[Mention], gold: Digest): Seq[String] = {
    val bad = mutable.ArrayBuffer.empty[String]
    val nodes = s.read.parquet(s"$dir/nodes")
    val edges0 = s.read.parquet(s"$dir/edges")
    val edges = if (ctx.a.inject != "edge_weight") edges0 else {
      val r = edges0.orderBy("subj_id", "pred", "obj_id").head()
      edges0.withColumn("weight", when(col("subj_id") === r.getAs[Long]("subj_id") &&
        col("pred") === r.getAs[String]("pred") && col("obj_id") === r.getAs[Long]("obj_id"),
        col("weight") + 1).otherwise(col("weight")))
    }
    val nNodes = nodes.count()
    val nEdges = edges.count()
    if (nNodes == 0 || nEdges == 0) bad += s"rows written: $nNodes nodes, $nEdges edges"
    for ((stage, n) <- Seq("nodes" -> nNodes, "edges" -> nEdges)) {
      val lineage = GraphMaterializer.Lineage.read(dir, stage).map(_._2.values.sum)
      if (!lineage.contains(n)) bad += s"$stage lineage rows $lineage != rows read back $n"
    }
    val nTriples = tp.count()
    val weight = edges.agg(coalesce(sum("weight"), lit(0L))).head().getLong(0)
    if (weight != nTriples) bad += s"sum of edge weights $weight != $nTriples triples"
    val nMentions = me.count()
    val mentions = nodes.agg(coalesce(sum("n_mentions"), lit(0L))).head().getLong(0)
    if (mentions != nMentions) bad += s"sum of node n_mentions $mentions != $nMentions mentions"
    val ends = edges.select(col("subj_id").as("id")).union(edges.select(col("obj_id").as("id")))
    val dangling = ends.join(nodes, col("id") === col("entity_id"), "left_anti").count()
    if (dangling != 0) bad += s"$dangling edge endpoints are not nodes"
    val d = Digest.of(tp.toDF())
    if (d != gold) bad += s"triple digest $d != gold $gold"
    bad.toSeq
  }

  def kgChain(ctx: Ctx): Unit = {
    val fp = s"seed${ctx.a.seed}-convs$ChainConvs"
    val s = setup(ctx, ctx.full, SetupReps)((s, m, _) => smallTag(s, m, ctx.a.seed))
    val m = NerModels.default(s)
    val (turns, nTurns) = pinnedTurns(s, ChainConvs, ctx.a.seed)
    val gold = Digest.of(Gold.triples(s, ChainConvs, ctx.a.seed).toDF())
    ctx.rec.put("turns", nTurns)
    // every repetition writes into a fresh directory: the materializer skips
    // a stage whose directory already holds the same fingerprint
    def run(name: String, i: Int, extra: (String, Any)*): Unit = {
      val dir = s"${ctx.a.work}/chain-$name-$i"
      val (sec, (tp, me)) = seconds(chainOnce(turns, m, dir, fp))
      ctx.op(name, sec, checkChain(ctx, s, dir, tp, me, gold), extra: _*)
      deleteTree(new java.io.File(dir))
    }
    repeatFor(ChainWarmupSeconds)(i => run("kg_chain_warmup", i, "timed" -> false))
    repeatFor(ctx.a.seconds)(i => run("kg_chain", i, "level" -> ctx.full))
  }

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  // ----- battery -----

  def query(s: SparkSession, dir: String, q: String): DataFrame = SparkEntry.queries(q)(s, dir)

  /** Gold digests for the two tagging queries of the battery: their input is
    * the seed-42 transcripts at the sf directory's conversation count.
    */
  def batteryGold(s: SparkSession, dir: String): Map[String, Digest] = {
    val n = SparkEntry.nConvs(dir)
    Map("q31_mentions" -> Digest.of(Gold.mentions(s, n, 42L).toDF()),
      "q32_triples" -> Digest.of(Gold.triples(s, n, 42L).toDF()))
  }

  /** Writes every headline query's answer under `outDir` (the runner checks
    * the oracle-backed ones in DuckDB; q31/q32 are checked here against gold)
    * and returns each query's row count.
    */
  def batteryVerify(ctx: Ctx, s: SparkSession, dir: String, outDir: String,
      gold: Map[String, Digest]): Map[String, Long] = Headline.flatMap { q =>
    try {
      val (sec, _) = seconds(query(s, dir, q).write.mode("overwrite").parquet(s"$outDir/$q"))
      val back = s.read.parquet(s"$outDir/$q")
      val problems = gold.get(q).toSeq.flatMap { g =>
        val d = Digest.of(back)
        if (d == g) Nil else Seq(s"digest $d != gold $g")
      }
      ctx.op(q, sec, problems, "timed" -> false)
      Some(q -> back.count())
    } catch {
      case e: Exception => ctx.op(q, 0.0, Seq(s"threw $e"), "timed" -> false); None
    }
  }.toMap

  // ----- oracle SQL -----

  /** Writes the oracle SQL of the oracle-backed headline queries as one JSON
    * object. Building the engine's
    * oracle map trains a small model, so the runner calls this once per
    * build and keeps the file.
    */
  def dumpOracles(path: String): Unit = {
    val s = Sessions.open(math.min(4, Host.nproc), s"${new java.io.File(path).getParent}/spark-local")
    try {
      val all = SparkEntry.oracleSql
      val keep = Headline.filterNot(GoldChecked)
      val missing = keep.filterNot(all.contains)
      require(missing.isEmpty, s"no oracle SQL for $missing")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
        Record.json(keep.map(q => q -> all(q)).toMap))
    } finally s.stop()
  }
}
