package perfbench

import graft.core.Crf
import graft.kg.{ConnectedComponents, EntityLink, GraphMaterializer, KgPipeline, TripleRules}
import graft.ner.{NerModel, NerModels, Tagger}
import graft.pipeline.{Transcripts, Turn}
import graft.text.{SentenceSplitter, Tokenizer}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, SparkSession}
import scala.collection.mutable

/** The traced run (`--trace 1`): per-layer figures for every layer the three
  * workloads load, whatever `--workload` names. Spans are taken here, around
  * calls into each module's public functions, and stage task metrics come
  * from a listener registered on the benchmark's own session. The workload
  * named by `--workload` is also run untraced and traced, and the difference
  * is reported as the tracing overhead.
  */
object Trace {
  import Main._

  /** Turns the single-threaded tagging profile walks. */
  val ProfileConvs = 600L
  val ProfilePasses = 3
  val PairQueries = Seq("q18_jaccard_pairs", "q20_dedup_minhash", "q21_dedup_simhash", "q24_embed_pairs")

  def run(ctx: Ctx): Unit = {
    val layers = mutable.LinkedHashMap.empty[String, Double]
    val dir = ctx.a.data
    val s = setup(ctx, ctx.full, 1) { (s, m, _) =>
      HandleQueries.foreach(query(s, dir, _))
      smallTag(s, m, ctx.a.seed)
    }
    val listener = new StageMetrics
    var overhead = 0.0

    /** Runs `f` as job group `group` with the listener attached. */
    def traced[A](group: String)(f: => A): (Double, A, listener.Acc) = {
      val sc = SparkSession.active.sparkContext
      sc.addSparkListener(listener)
      sc.setJobGroup(group, group, interruptOnCancel = false)
      try {
        val (sec, r) = seconds(f)
        (sec, r, listener.settle(sc, group))
      } finally {
        sc.clearJobGroup()
        sc.removeSparkListener(listener)
      }
    }

    tagLayers(ctx, s, layers)

    // ----- tagging job, full parallelism -----
    val m = NerModels.default(s)
    val (turns, nTurns) = pinnedTurns(s, TagConvs, ctx.a.seed)
    val goldDs = Gold.triples(s, TagConvs, ctx.a.seed)
    val gold = Digest.of(goldDs.toDF())
    val victim = goldDs.head()
    def tagCheck(d: Digest) = if (d == gold) Nil else Seq(s"triple digest $d != gold $gold")
    /** Turns per second at `level`: the median of three untimed-window
      * passes after a warm-up. At full parallelism a fourth, traced pass
      * gives the task metrics and the tracing overhead.
      */
    def tagRuns(level: Int, turns: Dataset[Turn], m: Broadcast[NerModel], warmup: Double): Double = {
      repeatFor(warmup) { _ =>
        val (ws, wd) = seconds(tagOnce(ctx, turns, m, victim))
        ctx.op("tag_warmup", ws, tagCheck(wd), "timed" -> false)
      }
      val secs = (0 until 3).map { _ =>
        val (sec, d) = seconds(tagOnce(ctx, turns, m, victim))
        ctx.op("tag", sec, tagCheck(d), "level" -> level)
        sec
      }
      if (level == ctx.full) {
        val (ts, td, acc) = traced(s"tag.$level")(tagOnce(ctx, turns, m, victim))
        ctx.op("tag", ts, tagCheck(td), "level" -> level, "traced" -> true)
        if (ctx.a.workload == "tag") overhead = ts - median(secs)
        layers("tag.task_skew") = acc.skew
        layers("tag.gc_s") = acc.gcMs / 1e3
        layers("tag.cpu_s") = acc.cpuNs / 1e9
        layers("tag.shuffle_bytes") = acc.shuffleBytes.toDouble
      }
      nTurns / median(secs)
    }
    val fullTps = tagRuns(ctx.full, turns, m, TagWarmupSeconds)
    layers("tag.turns_per_s") = fullTps
    layers("tag.turns") = nTurns.toDouble
    layers("tag.tokens") = turns.rdd.map(t => Tokenizer.tokenize(t.text).length.toLong).fold(0L)(_ + _).toDouble
    val (tp, me) = KgPipeline.triplesAndMentions(turns, m)
    layers("tag.mentions") = me.count().toDouble
    layers("tag.triples") = tp.count().toDouble
    turns.unpersist(blocking = true)

    // ----- kg chain, call by call -----
    val (chainTurns, _) = pinnedTurns(s, ChainConvs, ctx.a.seed)
    val chainGold = Digest.of(Gold.triples(s, ChainConvs, ctx.a.seed).toDF())
    val fp = s"seed${ctx.a.seed}-convs$ChainConvs"
    def chainRun(name: String, dir: String, extra: (String, Any)*): Double = {
      val (sec, (ctp, cme)) = seconds(chainOnce(chainTurns, m, dir, fp))
      ctx.op(name, sec, checkChain(ctx, s, dir, ctp, cme, chainGold), extra: _*)
      sec
    }
    if (ctx.a.workload == "kg_chain") {
      chainRun("kg_chain_warmup", s"${ctx.a.work}/trace-chain-w", "timed" -> false)
      val untraced = chainRun("kg_chain", s"${ctx.a.work}/trace-chain-u", "level" -> ctx.full)
      val (tracedSec, _, _) = traced("kg.chain")(
        chainRun("kg_chain", s"${ctx.a.work}/trace-chain-t", "level" -> ctx.full, "traced" -> true))
      overhead = tracedSec - untraced
    }

    def call[A](name: String)(f: => A): A = {
      val (sec, r, acc) = traced(s"kg.$name")(f)
      layers(s"kg.${name}_s") = sec
      layers(s"kg.$name.shuffle_bytes") = acc.shuffleBytes.toDouble
      layers(s"kg.$name.spill_bytes") = acc.spillBytes.toDouble
      layers(s"kg.$name.task_skew") = acc.skew
      r
    }
    val (ktp, kme) = call("tag_pass")(KgPipeline.triplesAndMentions(chainTurns, m))
    val surf = call("surfaces")(EntityLink.surfaces(kme).localCheckpoint())
    layers("kg.surfaces") = surf.count().toDouble
    val sim = call("blocking")(EntityLink.similarityEdges(surf).localCheckpoint())
    layers("kg.sim_edges") = sim.count().toDouble
    val cc = call("cc")(ConnectedComponents.run(sim).localCheckpoint())
    layers("kg.components") = cc.select("component").distinct().count().toDouble
    val linked = call("link")(EntityLink.link(kme).localCheckpoint())
    val kdir = s"${ctx.a.work}/trace-chain-layers"
    call("materialize")(GraphMaterializer.materialize(ktp, linked, kdir, fp))
    for (stage <- Seq("nodes", "edges"))
      layers(s"kg.$stage") = GraphMaterializer.Lineage.read(kdir, stage).map(_._2.values.sum).getOrElse(0L).toDouble
    layers("kg.bytes_written") = treeBytes(new java.io.File(kdir)).toDouble
    ctx.op("kg_chain_layers", 0.0, checkChain(ctx, s, kdir, ktp, kme, chainGold), "timed" -> false)
    chainTurns.unpersist(blocking = true)

    // ----- battery, query by query -----
    val rows = batteryVerify(ctx, s, dir, s"${ctx.a.work}/verify", batteryGold(s, dir))
    ctx.rec.put("battery_check", Map("dir" -> s"${ctx.a.work}/verify", "sf_dir" -> dir,
      "queries" -> Headline.filterNot(GoldChecked)))
    for (q <- Headline) {
      val (sec, n, acc) = traced(s"battery.$q") {
        try Right(Digest.noopCount(query(s, dir, q))) catch { case e: Exception => Left(e.toString) }
      }
      val problems = n match {
        case Right(c) if rows.get(q).contains(c) => Nil
        case Right(c) => Seq(s"$c rows, checked answer has ${rows.get(q)}")
        case Left(e) => Seq(s"threw $e")
      }
      ctx.op(q, sec, problems, "pass" -> 1, "level" -> ctx.full, "traced" -> true)
      layers(s"battery.${q}_s") = sec
      if (PairQueries.contains(q)) {
        layers(s"ops.$q.shuffle_bytes") = acc.shuffleBytes.toDouble
        layers(s"ops.$q.spill_bytes") = acc.spillBytes.toDouble
        layers(s"ops.$q.task_skew") = acc.skew
        layers(s"ops.$q.rows_out") = n.getOrElse(-1L).toDouble
      }
    }
    s.stop()

    // ----- tagging job, half parallelism (its own session) -----
    val sh = Sessions.open(ctx.half, ctx.localDir)
    val mh = NerModels.default(sh)
    val (hturns, _) = pinnedTurns(sh, TagConvs, ctx.a.seed)
    val halfTps = tagRuns(ctx.half, hturns, mh, 0.0) // one warm-up pass for the new session
    layers("tag.turns_per_s_half") = halfTps
    layers("tag.scaling_eff") = (fullTps / halfTps) / (ctx.full.toDouble / ctx.half)
    sh.stop()

    layers("trace.overhead_s") = overhead
    ctx.rec.put("layers", layers)
  }

  def median(xs: Seq[Double]): Double = {
    val v = xs.sorted
    val n = v.length
    if (n % 2 == 1) v(n / 2) else (v(n / 2 - 1) + v(n / 2)) / 2.0
  }

  def treeBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(treeBytes).sum).getOrElse(0L)
    else f.length()

  /** Each tagging function timed on its own, single-threaded on the driver,
    * over a seeded turn sample, in the order the tagging pass calls them.
    * The sample's triples must equal the generator gold.
    */
  def tagLayers(ctx: Ctx, s: SparkSession, layers: mutable.Map[String, Double]): Unit = {
    val seed = ctx.a.seed
    val model = NerModels.default(s).value
    val bg = model.classIndex(model.backgroundIndex)
    val sample = for {
      c <- 0L until ProfileConvs
      t <- 0 until Transcripts.numTurns(seed, c)
      if !Transcripts.isToolTurn(seed, c, t)
    } yield (Transcripts.turn(seed, c, t), Transcripts.turnTokens(seed, c, t))
    val ns = mutable.LinkedHashMap("text.tokenize" -> 0L, "text.split" -> 0L, "ner.encode" -> 0L,
      "core.potentials" -> 0L, "core.viterbi" -> 0L, "ner.spans" -> 0L, "kg.rules" -> 0L)
    var tokens = 0L
    var wrong = 0
    for (pass <- 0 to ProfilePasses) { // pass 0 warms up and is not counted
      def span[A](k: String)(f: => A): A = {
        val t0 = System.nanoTime()
        val r = f
        if (pass > 0) ns(k) += System.nanoTime() - t0
        r
      }
      for ((turn, (words, labels)) <- sample) {
        val toks = span("text.tokenize")(Tokenizer.tokenize(turn.text))
        if (pass > 0) tokens += toks.length
        val sents = span("text.split")(SentenceSplitter.split(toks))
        val triples = sents.zipWithIndex.flatMap { case (sent, si) =>
          val w = sent.map(_.word)
          val in = if (model.useReverse) w.reverse else w
          val enc = span("ner.encode")(model.encodeFast(in))
          val pots = span("core.potentials")(Crf.logPotentials(enc, model.params))
          val path = span("core.viterbi")(Crf.viterbi(pots, model.params)).map(model.classIndex)
          val answers = (if (model.useReverse) path.reverse else path).toIndexedSeq
          val mentions = span("ner.spans")(
            Tagger.spansOfSentence(turn.conv_id, turn.turn_idx, si, sent, answers, turn.text, bg))
          span("kg.rules")(TripleRules.fromSentence(mentions, sent.map(t => (t.word, t.begin))))
        }
        if (pass == 0 && triples != KgPipeline.goldTriples(turn.conv_id, turn.turn_idx, words, labels))
          wrong += 1
      }
    }
    for ((k, v) <- ns) layers(s"${k}_us_per_tok") = v / 1e3 / tokens
    ctx.op("tag_layers", 0.0, if (wrong == 0) Nil else Seq(s"$wrong sample turns differ from gold"),
      "timed" -> false)
  }
}
