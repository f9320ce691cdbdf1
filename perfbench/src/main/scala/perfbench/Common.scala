package perfbench

import graft.pipeline.Transcripts
import graft.kg.KgPipeline
import graft.pipeline.{Mention, Triple}
import graft.text.{SentenceSplitter, Tokenizer}
import graft.ner.Tagger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** A JSON object built up during a run and written once at its end. */
final class Record {
  private val fields = mutable.LinkedHashMap.empty[String, Any]
  def put(k: String, v: Any): Unit = fields(k) = v
  def get(k: String): Option[Any] = fields.get(k)

  def write(path: String): Unit = Files.writeString(Paths.get(path), Record.json(fields) + "\n")
}

object Record {
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** Facts about the machine a result was measured on: results from hosts with
  * different core counts or CPU quotas are not comparable.
  */
object Host {
  def nproc: Int = Runtime.getRuntime.availableProcessors

  private def read(path: String): Option[String] =
    try Some(Files.readString(Paths.get(path)).trim) catch { case _: Exception => None }

  /** VmHWM of this JVM in MB: its peak resident set so far. */
  def peakRssMb: Double = read("/proc/self/status").flatMap(_.linesIterator
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0))
    .getOrElse(-1.0)

  def facts: Map[String, Any] = Map(
    "nproc" -> nproc,
    "cgroup_cpu_max" -> read("/sys/fs/cgroup/cpu.max").getOrElse("unknown"),
    "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
    "calib_spin_ms" -> graft.Bench.calibSpinMs(),
    "java_version" -> System.getProperty("java.version"))
}

object Sessions {
  /** The session shape of the engine's own Bench: local[k], k shuffle
    * partitions, AQE on, UTC, no UI.
    */
  def open(cores: Int, localDir: String): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$cores")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Order-independent digest of a multiset of rows: the row count plus two
  * sums of independent 32-bit row hashes. Dropping, adding or changing any
  * one row changes it.
  */
final case class Digest(rows: Long, h1: Long, h2: Long)

object Digest {
  private val mask = lit(0xffffffffL)
  private def cols(df: DataFrame): Seq[Column] = df.columns.sorted.toSeq.map(col)
  private def aggs(df: DataFrame): Seq[Column] = Seq(
    count(lit(1)).as("rows"),
    coalesce(sum(xxhash64(cols(df): _*).bitwiseAND(mask)), lit(0L)).as("h1"),
    coalesce(sum(hash(cols(df): _*).cast("long").bitwiseAND(mask)), lit(0L)).as("h2"))

  def of(df: DataFrame): Digest = {
    val r = df.agg(aggs(df).head, aggs(df).tail: _*).head()
    Digest(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Runs `df` to the noop sink, digesting its rows on the way: no extra
    * pass and no extra shuffle.
    */
  def ofNoopWrite(df: DataFrame): Digest = {
    val obs = Observation(s"digest-${System.nanoTime()}")
    val a = aggs(df)
    df.observe(obs, a.head, a.tail: _*).write.format("noop").mode("overwrite").save()
    val m = obs.get
    Digest(m("rows").asInstanceOf[Long], m("h1").asInstanceOf[Long], m("h2").asInstanceOf[Long])
  }

  /** Rows written to the noop sink, counted on the way. */
  def noopCount(df: DataFrame): Long = {
    val obs = Observation(s"rows-${System.nanoTime()}")
    df.observe(obs, count(lit(1)).as("rows")).write.format("noop").mode("overwrite").save()
    obs.get("rows").asInstanceOf[Long]
  }
}

/** Generator gold: the mentions and triples the labels of
  * `Transcripts.turnTokens` imply, through the engine's own span fold and
  * triple rules. A perfect tagger reproduces them exactly.
  */
object Gold {
  def mentions(convId: String, turnIdx: Int, words: IndexedSeq[String],
      labels: IndexedSeq[String]): Seq[Mention] = {
    val text = Transcripts.detokenize(words)
    var off = 0
    SentenceSplitter.split(Tokenizer.tokenize(text)).zipWithIndex.flatMap { case (sent, si) =>
      val l = (off until off + sent.length).map(labels)
      off += sent.length
      Tagger.spansOfSentence(convId, turnIdx, si, sent, l, text, "O")
    }
  }

  private def turns(spark: SparkSession, nConvs: Long, seed: Long) = {
    import spark.implicits._
    spark.range(nConvs).as[Long].flatMap { c =>
      (0 until Transcripts.numTurns(seed, c)).iterator
        .filterNot(t => Transcripts.isToolTurn(seed, c, t))
        .map { t => val (w, l) = Transcripts.turnTokens(seed, c, t); (f"conv$c%08d", t, w, l) }
    }
  }

  def triples(spark: SparkSession, nConvs: Long, seed: Long): Dataset[Triple] = {
    import spark.implicits._
    turns(spark, nConvs, seed).flatMap { case (c, t, w, l) => KgPipeline.goldTriples(c, t, w, l) }
  }

  def mentions(spark: SparkSession, nConvs: Long, seed: Long): Dataset[Mention] = {
    import spark.implicits._
    turns(spark, nConvs, seed).flatMap { case (c, t, w, l) => mentions(c, t, w, l) }
  }
}

/** Per-group task metrics from a listener the benchmark registers on its own
  * session. A group is a Spark job group; the traced run sets one around each
  * call it measures.
  */
final class StageMetrics extends SparkListener {
  final class Acc {
    val taskMs = mutable.ArrayBuffer.empty[Long]
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L

    def skew: Double = {
      val d = taskMs.sorted
      if (d.isEmpty) 1.0
      else {
        val n = d.length
        val med = if (n % 2 == 1) d(n / 2).toDouble else (d(n / 2 - 1) + d(n / 2)) / 2.0
        d.last / math.max(med, 1.0)
      }
    }
  }

  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val accs = mutable.Map.empty[String, Acc]

  def acc(group: String): Acc = synchronized(accs.getOrElseUpdate(group, new Acc))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null) e.stageIds.foreach(stageGroup.put(_, g))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    if (g != null && e.taskMetrics != null) synchronized {
      val a = acc(g)
      a.taskMs += e.taskInfo.duration
      a.cpuNs += e.taskMetrics.executorCpuTime
      a.gcMs += e.taskMetrics.jvmGCTime
      a.shuffleBytes += e.taskMetrics.shuffleWriteMetrics.bytesWritten
      a.spillBytes += e.taskMetrics.diskBytesSpilled
    }
  }

  /** The group's totals once every event queued so far has been delivered:
    * task-end events arrive asynchronously after a job returns.
    */
  def settle(sc: org.apache.spark.SparkContext, group: String): Acc = {
    org.apache.spark.ListenerBusAccess.drain(sc)
    acc(group)
  }
}
