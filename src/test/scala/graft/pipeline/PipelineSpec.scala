package graft.pipeline

import graft.kg.KgPipeline
import graft.ner.{DistSim, Gazette, NerFeatures, NerModel}
import graft.text.Tokenizer
import graft.train.{LabeledDoc, Trainer}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

class TranscriptsSpec extends AnyFunSuite {
  test("detokenize round-trips through the tokenizer for 3000 turns") {
    var checked = 0
    for (conv <- 0L until 600L; t <- 0 until Transcripts.numTurns(42L, conv)) {
      val (words, labels) = Transcripts.turnTokens(42L, conv, t)
      val text = Transcripts.detokenize(words)
      val got = Tokenizer.tokenize(text).map(_.word)
      assert(got == words, s"conv=$conv t=$t text='$text'")
      assert(words.length == labels.length)
      checked += 1
    }
    assert(checked > 1000)
  }

  test("generator is deterministic and labels are IO-consistent") {
    val a = Transcripts.turnTokens(42L, 17L, 2)
    val b = Transcripts.turnTokens(42L, 17L, 2)
    assert(a == b)
    val labels = (0L until 200L).flatMap(c => (0 until Transcripts.numTurns(42L, c))
      .flatMap(t => Transcripts.turnTokens(42L, c, t)._2)).toSet
    assert(labels.subsetOf(Set("O", "PERSON", "ORGANIZATION", "LOCATION")))
  }
}

/** The M3 minimum-slice gate (SURVEY.md §7): train on synthetic transcripts,
  * tag held-out conversations from raw text, extract triples, and require
  * P/R >= 0.95 vs gold-derived triples. (The reference-classifier differential
  * uses the same harness with reference tags as the oracle; see FIXTURES.md.)
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  lazy val model: NerModel = {
    import spark.implicits._
    val gold = Transcripts.synthGold(spark, nConvs = 400L, seed = 42L)
      .map(g => LabeledDoc(g.words, g.labels))
    Trainer.train(spark, gold, Trainer.Config(maxIterations = 120))
  }

  test("trained model tags held-out turns accurately") {
    val heldOut = (1000L until 1150L).flatMap { conv =>
      (0 until Transcripts.numTurns(43L, conv)).map(t => Transcripts.turnTokens(43L, conv.toInt, t))
    }
    var correct = 0L; var total = 0L
    for ((words, labels) <- heldOut) {
      val got = model.tag(words)
      for (i <- words.indices) {
        if (got(i) == labels(i)) correct += 1
        total += 1
      }
    }
    val acc = correct.toDouble / total
    info(s"held-out token accuracy = $acc over $total tokens")
    assert(acc >= 0.97, s"token accuracy $acc < 0.97")
  }

  test("end-to-end triples reach P/R >= 0.95 vs gold on held-out conversations") {
    import spark.implicits._
    val seed = 99L
    val nConvs = 200L
    // gold triples straight from the generator labels
    val gold = (0L until nConvs).flatMap { conv =>
      (0 until Transcripts.numTurns(seed, conv))
        .filterNot(t => Transcripts.isToolTurn(seed, conv, t))
        .flatMap { t =>
          val (words, labels) = Transcripts.turnTokens(seed, conv, t)
          KgPipeline.goldTriples(f"conv$conv%08d", t, words, labels)
        }
    }.toSet
    // predicted triples from raw text through the full pipeline
    val turns = Transcripts.synth(spark, nConvs, seed)
    val bModel = spark.sparkContext.broadcast(model)
    val predicted = KgPipeline.triples(turns, bModel).collect().toSet
    val tp = (predicted intersect gold).size.toDouble
    val precision = if (predicted.isEmpty) 0.0 else tp / predicted.size
    val recall = if (gold.isEmpty) 0.0 else tp / gold.size
    info(f"triples: gold=${gold.size} predicted=${predicted.size} P=$precision%.4f R=$recall%.4f")
    assert(gold.nonEmpty && predicted.nonEmpty)
    assert(precision >= 0.95, f"precision $precision%.4f < 0.95")
    assert(recall >= 0.95, f"recall $recall%.4f < 0.95")
  }

  test("model save/load round-trip preserves tagging (incl. observed-only layout)") {
    val path = java.nio.file.Files.createTempDirectory("nermodel").resolve("m.gz").toString
    NerModel.save(model, path)
    val loaded = NerModel.load(path)
    val (words, _) = Transcripts.turnTokens(7L, 3L, 1)
    assert(loaded.tag(words).toSeq == model.tag(words).toSeq)
    assert(loaded.numFeatures == model.numFeatures)
    // conllNoTags preset trains observed-sequences-only: the top clique group
    // must carry fewer label windows than the full product (4^3 = 64)
    assert(model.layout.numCols(2) < 64, s"numCols=${model.layout.numCols.toSeq}")
    assert(loaded.layout.numCols.toSeq == model.layout.numCols.toSeq)
    // ngram-options + disjunctionWidth trailers round-trip (v3 additions)
    def withSpec(spec: NerFeatures.Spec) = new NerModel(model.classIndex, model.backgroundIndex,
      model.featureIndex, model.layout, model.weights, model.knownLC, spec)
    def roundTrip(m: NerModel): NerModel = {
      val p = java.nio.file.Files.createTempDirectory("nermodel").resolve("m.gz").toString
      NerModel.save(m, p)
      NerModel.load(p)
    }
    val opt = withSpec(NerFeatures.Spec(
      ngramOpts = NerFeatures.NgramOpts(maxLen = 4, noMid = false, lowercase = true),
      disjunctionWidth = 2))
    val loaded2 = roundTrip(opt)
    assert(loaded2.features.ngramOpts == opt.features.ngramOpts)
    assert(loaded2.features.disjunctionWidth == 2)
    // the full misc trailer round-trips, incl. the round-5 additions (lemma/
    // chunk/abbr families, the no-producer constants, useClassFeature)
    val mo = NerFeatures.MiscOpts(useTitle = true, useOrdinal = true,
      useNextSequences = true, useWideDisjunctive = true, wideDisjunctionWidth = 7,
      useLemmas = true, usePrevNextLemmas = true, useChunks = true,
      useChunkySequences = true, useUnknown = true, useAbbr = true, useMinimalAbbr = true,
      useMoreAbbr = true, useABGENE = true, useGENIA = true, useWEB = true,
      useIsURL = true, useEntityTypes = true, useFREQ = true,
      useEntityTypeSequences = true, useURLSequences = true,
      useMUCFeatures = true, useClassFeature = true, useGenericFeatures = true,
      useNPHead = true, useHeadGov = true)
    val re3 = roundTrip(withSpec(NerFeatures.Spec(miscOpts = mo, genericKey = Some("mycol"))))
    assert(re3.features.miscOpts == mo, "misc trailer round-trip")
    assert(re3.features.genericKey.contains("mycol"), "genericKey trailer round-trip")
    // every Spec field at once, each away from its default: the loaded spec
    // equals the saved one (gazette and lexicon compared by content)
    val all = NerFeatures.Spec(
      gazette = Gazette.parse(Seq("PERSON Alice Johnson", "LOCATION Berlin")),
      normalizeTerms = true, useOccurrencePatterns = true, useReverse = true,
      distSim = Some(new DistSim(Map("alice" -> "C1", "berlin" -> "C2"))),
      useTags = true, useTaggySequences = true, useParenMatching = true,
      ngramOpts = NerFeatures.NgramOpts(maxLen = 5, dehyphenate = true, greekify = true, conjoinShapes = true),
      disjunctionWidth = 3, miscOpts = mo, genericKey = Some("col"))
    val re4 = roundTrip(withSpec(all)).features
    val plain = (s: NerFeatures.Spec) => s.copy(gazette = Gazette.empty, distSim = None)
    assert(plain(re4) == plain(all), s"${plain(re4)} != ${plain(all)}")
    assert(re4.gazette.fingerprintParts.toSeq == all.gazette.fingerprintParts.toSeq)
    assert(re4.distSim.map(_.lexicon) == all.distSim.map(_.lexicon))
    // the committed default model loads and saves back to the same text
    def text(p: java.nio.file.Path) = new String(new java.util.zip.GZIPInputStream(
      java.nio.file.Files.newInputStream(p)).readAllBytes(), "UTF-8")
    val committed = java.nio.file.Paths.get("models", "ner-conllnotags-v1.gz")
    val resaved = java.nio.file.Files.createTempDirectory("nermodel").resolve("d.gz")
    NerModel.save(NerModel.load(committed.toString), resaved.toString)
    assert(text(resaved) == text(committed), "the committed model re-saved to other text")
  }
}
