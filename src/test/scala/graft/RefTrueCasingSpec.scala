package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.sys.process._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Differential for the TRUE-CASING surface with `-useUnknown` — the last
  * data-driven feature family off the rejection list. The reference's
  * TrueCasingDocumentReaderAndWriter reads `<TEXT>`/`<TXT>` blocks, labels
  * each token by case pattern, lowercases it, and sets UnknownAnnotation =
  * "true" iff the word appears in exactly ONE block of the file
  * (TrueCasingDocumentReaderAndWriter.java:45-171). `classifyAndWriteAnswers`
  * with that reader prints, per token, Before + cased word + After — but the
  * reader rebuilds each CoreLabel WITHOUT copying Before/After, so the raw
  * `get` is null and the printed stream is the literal "null" around every
  * restored word (printAnswers :174-200, a reference quirk preserved
  * byte-for-byte here).
  *
  * The leg trains the reference with the true-casing reader + -useUnknown
  * (shapeless, maxLeft 1), loads the binary model into OUR engine, replays
  * the reader semantics with TrueCasing.readCorpus (block-scoped seen-once
  * sets), tags with the UnknownAnnotation column live, and requires the
  * rendered output BYTE-IDENTICAL to the reference's.
  */
class RefTrueCasingSpec extends AnyFunSuite {

  private val refBuild = "/tmp/refbuild"
  private val dir = "/tmp/reftcspec"
  private def crfClass = s"$refBuild/classes/edu/stanford/nlp/ie/crf/CRFClassifier.class"

  private def ensureRefCompiled(): Unit = {
    if (!Files.exists(Paths.get(crfClass))) {
      assume(Seq("bash", "-c",
        s"rm -rf $refBuild && mkdir -p $refBuild/classes && cp -r /root/reference/src $refBuild/src").! == 0)
      val tree = Paths.get(s"$refBuild/src/edu/stanford/nlp/trees/Tree.java")
      Files.writeString(tree, Files.readString(tree)
        .replace("return yield(", "return this.yield(")
        .replace("List<CoreLabel> s = yield();", "List<CoreLabel> s = this.yield();"))
      assume(Seq("bash", "-c",
        s"cd $refBuild && javac -nowarn -encoding UTF-8 -d classes $$(find src/edu -name '*.java') 2>javac.log").! == 0,
        "reference javac failed")
    }
  }

  private def ref(args: String*): Int =
    (Seq("java", "-Xmx4g", "-cp", s"$refBuild/classes",
      "edu.stanford.nlp.ie.crf.CRFClassifier") ++ args).!

  // deterministic cased-text fixture: entity-like INIT_UPPER words, all-caps
  // orgs (UPPER), lowercase function words, and per-block unique tokens so
  // the seen-once set is non-trivially exercised at train AND test time
  private def mix(x: Long): Long = graft.ops.Hashing.splitmix64(x)
  private def pick(arr: Array[String], h: Long): String = arr(((h >>> 33) % arr.length).toInt)
  private val first = Array("Alice", "Bob", "Carol", "David", "Emma", "Frank", "Grace", "Henry", "Irene", "Jack")
  private val cities = Array("Paris", "London", "Tokyo", "Berlin", "Madrid", "Oslo", "Cairo", "Lima", "Quito", "Sofia")
  private val orgs = Array("IBM", "NASA", "UNESCO", "ACME", "OPEC")
  private val verbs = Array("visited", "left", "joined", "praised", "called")
  private val nouns = Array("the office", "a museum", "the bank", "a library", "the station")
  private def sentence(seed: Long): String = {
    val h = mix(seed)
    (h & 3) match {
      case 0 => s"${pick(first, mix(h + 1))} ${pick(verbs, mix(h + 2))} ${pick(cities, mix(h + 3))} ."
      case 1 => s"${pick(orgs, mix(h + 1))} opened ${pick(nouns, mix(h + 2))} in ${pick(cities, mix(h + 3))} ."
      case 2 => s"${pick(first, mix(h + 1))} ${pick(verbs, mix(h + 2))} ${pick(nouns, mix(h + 3))} ."
      case _ => s"Zq${(mix(h + 4) >>> 44)} ${pick(verbs, mix(h + 2))} ${pick(cities, mix(h + 3))} ."
    }
  }
  private def mkFile(path: String, seed: Long, nBlocks: Int, sents: Int): Unit = {
    val sb = new StringBuilder
    for (b <- 0 until nBlocks) {
      val body = (0 until sents).map(i => sentence(seed + b * 1000 + i)).mkString(" ")
      sb.append(s"<TEXT> $body </TEXT>\n")
    }
    Files.writeString(Paths.get(path), sb.toString)
  }

  test("useUnknown true-casing: reference-trained model + reader semantics reproduce the output byte-for-byte") {
    assume(Files.exists(Paths.get("/root/reference/src")), "reference source not present")
    ensureRefCompiled()
    Files.createDirectories(Paths.get(dir))
    mkFile(s"$dir/train.txt", 0xACE5L, 150, 4)
    mkFile(s"$dir/test.txt", 0xBEE5L, 40, 3)
    val tcFlags = Seq("-readerAndWriter", "edu.stanford.nlp.sequences.TrueCasingDocumentReaderAndWriter",
      "-useUnknown", "true", "-useWord", "true", "-usePrev", "true", "-useNext", "true",
      "-useSequences", "true", "-usePrevSequences", "true", "-maxLeft", "1")
    assert(ref(Seq("-trainFile", s"$dir/train.txt", "-serializeTo", s"$dir/tc.ser.gz") ++ tcFlags: _*) == 0,
      "reference true-casing training failed")
    val testCmd = Seq("java", "-Xmx2g", "-cp", s"$refBuild/classes",
      "edu.stanford.nlp.ie.crf.CRFClassifier",
      "-loadClassifier", s"$dir/tc.ser.gz", "-testFile", s"$dir/test.txt") ++ tcFlags.drop(0)
    assert((testCmd #> new java.io.File(s"$dir/ref_out.txt")).! == 0, "reference true-casing test failed")

    // our side: load the binary model (shapeless + useUnknown accepted),
    // replay the reader, tag with the unknown column, render printAnswers
    val model = graft.ner.RefBinaryModel.load(s"$dir/tc.ser.gz")
    assert(model.features.miscOpts.useUnknown, "useUnknown must flow from the flags bundle")
    val docs = graft.ner.TrueCasing.readCorpus(Files.readString(Paths.get(s"$dir/test.txt")))
    assert(docs.nonEmpty)
    val rendered = docs.map { d =>
      val labels = graft.ner.TrueCasing.tagDoc(model, d)
      // printAnswers: null + cased(word) + null per token
      // (TrueCasingDocumentReaderAndWriter.java:174-200 — the reader's
      // CoreLabels carry no Before/After, so `get` prints "null")
      d.lowerWords.indices.map { i =>
        "null" + graft.ner.TrueCasing.restoreCase(d.lowerWords(i), labels(i)) + "null"
      }.mkString
    }
    val refLines = Files.readAllLines(Paths.get(s"$dir/ref_out.txt")).asScala.toVector
    assert(refLines.length == rendered.length,
      s"${refLines.length} reference docs vs ${rendered.length} ours")
    var nUnknownTrue = 0
    docs.foreach(d => nUnknownTrue += d.unknowns.count(_ == "true"))
    var bad = 0
    for (i <- rendered.indices if rendered(i) != refLines(i)) {
      if (bad < 3) info(s"doc $i:\n  ours: ${rendered(i)}\n  ref:  ${refLines(i)}")
      bad += 1
    }
    info(s"${docs.length} docs, ${docs.map(_.lowerWords.length).sum} tokens, " +
      s"$nUnknownTrue unknown=true; $bad mismatched docs")
    assert(nUnknownTrue > 20, "fixture must exercise the unknown=true path")
    assert(bad == 0)
  }
}
