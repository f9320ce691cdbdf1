package graft.tools

import graft.kg.{KgPipeline, TripleRules}
import graft.ner.{NerModels, Tagger}
import graft.pipeline.{Transcripts, Triple}
import graft.text.{SentenceSplitter, Tokenizer}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Differential-parity harness vs the compiled reference classifier
  * (SURVEY.md §5.3 / FIXTURES.md): we render OUR deterministic token streams
  * to the reference's column format (word TAB answer, blank line between
  * documents — ColumnDocumentReaderAndWriter.java:46-72), the reference
  * trains and tags via its own CLI, and `RefCompare` turns its per-token
  * answers into triples with the SAME span fold + predicate rules we use, so
  * P/R measures tagging parity only.
  *
  * Flow (driven by tools/run_ref_differential.sh):
  *   1. RefFixtures <dir>      — writes train.tsv / test.tsv / meta.tsv
  *   2. javac-compiled reference: -trainFile train.tsv -conllNoTags true
  *      -serializeTo ref.ser.gz; then -loadClassifier ref.ser.gz
  *      -testFile test.tsv > ref_out.tsv
  *   3. RefCompare <dir>       — parses ref_out.tsv, rebuilds triples, and
  *      compares against our pipeline's triples on the same turns.
  */
object RefFixtures {
  val TrainConvs = 400L // same corpus the default model trains on (seed 42)
  val TestConvs = 200L
  val TestSeed = 99L

  def main(args: Array[String]): Unit = {
    val dir = Paths.get(args.headOption.getOrElse("/tmp/refdiff"))
    Files.createDirectories(dir)
    def writeDocs(path: java.nio.file.Path, docs: Iterator[(String, Int, Vector[String], Vector[String])],
        meta: Option[java.nio.file.Path]): Unit = {
      val sb = new StringBuilder
      val mb = new StringBuilder
      for ((conv, turnIdx, words, labels) <- docs) {
        for (i <- words.indices) sb.append(words(i)).append('\t').append(labels(i)).append('\n')
        sb.append('\n')
        mb.append(conv).append('\t').append(turnIdx).append('\t').append(words.length).append('\n')
      }
      Files.writeString(path, sb.toString)
      meta.foreach(p => Files.writeString(p, mb.toString))
    }
    def gen(seed: Long, n: Long) = (0L until n).iterator.flatMap { conv =>
      (0 until Transcripts.numTurns(seed, conv)).iterator
        .filterNot(t => Transcripts.isToolTurn(seed, conv, t))
        .map { t =>
          val (w, l) = Transcripts.turnTokens(seed, conv, t)
          (f"conv$conv%08d", t, w, l)
        }
    }
    writeDocs(dir.resolve("train.tsv"), gen(42L, TrainConvs), None)
    writeDocs(dir.resolve("test.tsv"), gen(TestSeed, TestConvs), Some(dir.resolve("meta.tsv")))
    writeDocs(dir.resolve("test_novel.tsv"),
      gen(TestSeed, TestConvs).map { case (c, t, w, l) => (c, t, novelWords(w, l), l) },
      Some(dir.resolve("meta_novel.tsv")))
    println(s"fixtures written to $dir")
  }

  private val keepAsIs: Set[String] =
    (Transcripts.titles ++ Transcripts.orgSuffixes).toSet

  /** Deterministically mutate entity tokens into UNSEEN surface forms with
    * the same shape (capitalization/length class): tests that both systems
    * generalize via shape+context features, not name memorization. Functional
    * tokens (titles, corporate suffixes) are kept — they recur in real data.
    */
  def novelWords(words: Vector[String], labels: Vector[String]): Vector[String] =
    words.lazyZip(labels).map { (w, l) =>
      if (l == "O" || keepAsIs.contains(w)) w else mutate(w)
    }.toVector

  def mutate(w: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < w.length) {
      val c = w.charAt(i)
      if (i >= 1 && c >= 'a' && c <= 'z') {
        val shift = 1 + (graft.ops.Hashing.splitmix64(graft.ops.Hashing.fnv1a64(w) + i) & 15).toInt
        sb.append((((c - 'a') + shift) % 26 + 'a').toChar)
      } else sb.append(c)
      i += 1
    }
    sb.toString
  }
}

object RefCompare {

  /** Our default model; trains it (via a local session) if the artifact is
    * missing so the comparison is order-independent.
    */
  def ourModel(): graft.ner.NerModel = {
    if (!Files.exists(Paths.get(NerModels.defaultPath))) {
      val spark = org.apache.spark.sql.SparkSession.builder()
        .master("local[8]").appName("refcompare-train")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false").getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      NerModels.default(spark)
    }
    graft.ner.NerModel.load(NerModels.defaultPath)
  }

  /** Parse reference output (word TAB gold TAB guess, blank line between
    * docs) into per-doc guess sequences.
    */
  def parseRefOutput(path: java.nio.file.Path): Vector[Vector[String]] = {
    val docs = Vector.newBuilder[Vector[String]]
    var cur = Vector.newBuilder[String]
    var nonEmpty = false
    for (line <- Files.readAllLines(path).asScala) {
      if (line.trim.isEmpty) {
        if (nonEmpty) { docs += cur.result(); cur = Vector.newBuilder[String]; nonEmpty = false }
      } else {
        val parts = line.split("\t")
        cur += parts(2); nonEmpty = true
      }
    }
    if (nonEmpty) docs += cur.result()
    docs.result()
  }

  def triplesFromTags(conv: String, turnIdx: Int, words: Vector[String], tags: Vector[String]): Seq[Triple] = {
    val text = Transcripts.detokenize(words)
    val toks = Tokenizer.tokenize(text)
    require(toks.length == words.length, s"round-trip mismatch for $conv/$turnIdx")
    val sentences = SentenceSplitter.split(toks)
    var off = 0
    sentences.zipWithIndex.flatMap { case (sent, sentIdx) =>
      val sentTags = (off until off + sent.length).map(tags)
      off += sent.length
      val mentions = Tagger.spansOfSentence(conv, turnIdx, sentIdx, sent, sentTags, text, "O")
      TripleRules.fromSentence(mentions, sent.map(t => (t.word, t.begin)))
    }
  }

  def main(args: Array[String]): Unit = {
    val (p, r) = compare(args.headOption.getOrElse("/tmp/refdiff"),
      novel = args.length > 1 && args(1) == "novel")
    if (p < 0.95 || r < 0.95) sys.exit(1)
  }

  /** Returns (precision, recall) of our triples vs reference-tag triples. */
  def compare(dirStr: String, novel: Boolean = false): (Double, Double) = {
    val dir = Paths.get(dirStr)
    val sfx = if (novel) "_novel" else ""
    def wordsOf(convId: Long, turnIdx: Int): Vector[String] = {
      val (w, l) = Transcripts.turnTokens(RefFixtures.TestSeed, convId, turnIdx)
      if (novel) RefFixtures.novelWords(w, l) else w
    }
    val meta = Files.readAllLines(dir.resolve(s"meta$sfx.tsv")).asScala
      .filter(_.nonEmpty).map { l => val p = l.split("\t"); (p(0), p(1).toInt, p(2).toInt) }.toVector
    val refTags = parseRefOutput(dir.resolve(s"ref_out$sfx.tsv"))
    require(refTags.length == meta.length, s"doc count mismatch: ref=${refTags.length} meta=${meta.length}")

    // reference triples
    val refTriples = meta.zip(refTags).flatMap { case ((conv, turnIdx, n), tags) =>
      val convId = conv.stripPrefix("conv").toLong
      val words = wordsOf(convId, turnIdx)
      require(words.length == n && tags.length == n, s"token count mismatch $conv/$turnIdx")
      triplesFromTags(conv, turnIdx, words, tags)
    }.toSet

    // our triples on the same turns (driver-local tagging: same code path as
    // the Spark closure, no cluster needed for the comparison)
    val model = ourModel()
    val ourTriples = meta.flatMap { case (conv, turnIdx, _) =>
      val convId = conv.stripPrefix("conv").toLong
      val words = wordsOf(convId, turnIdx)
      val text = Transcripts.detokenize(words)
      val sentences = SentenceSplitter.split(Tokenizer.tokenize(text))
      var off = 0
      sentences.zipWithIndex.flatMap { case (sent, sentIdx) =>
        val answers = model.tag(sent.map(_.word)).toIndexedSeq
        off += sent.length
        val mentions = Tagger.spansOfSentence(conv, turnIdx, sentIdx, sent, answers, text, "O")
        TripleRules.fromSentence(mentions, sent.map(t => (t.word, t.begin)))
      }
    }.toSet

    val tp = (ourTriples intersect refTriples).size.toDouble
    val precision = if (ourTriples.nonEmpty) tp / ourTriples.size else 0.0
    val recall = if (refTriples.nonEmpty) tp / refTriples.size else 0.0
    println(f"""{"ref_triples":${refTriples.size},"our_triples":${ourTriples.size},"precision":$precision%.4f,"recall":$recall%.4f,"pass":${precision >= 0.95 && recall >= 0.95}}""")
    if (precision < 0.95 || recall < 0.95) {
      println("sample ours-not-ref: " + (ourTriples -- refTriples).take(5).mkString(" | "))
      println("sample ref-not-ours: " + (refTriples -- ourTriples).take(5).mkString(" | "))
    }
    (precision, recall)
  }
}
