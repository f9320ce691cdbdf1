package graft

import graft.core.NerPriors
import org.scalatest.funsuite.AnyFunSuite
import scala.sys.process._
import java.nio.file.{Files, Paths}

/** Differential for the `-useNERPrior` scoring math (round-4 verdict item 5):
  * the reference's Gibbs SAMPLER is unseeded (genuinely unbridgeable), but
  * `EmpiricalNERPrior.scoreOf` — the deterministic half our FactoredScorer
  * consumes — is pure arithmetic over the sequence. A tiny Java probe built
  * against the compiled reference evaluates scoreOf on deterministic
  * (words, labels) vectors; our NerPriors.EmpiricalNerPrior must match
  * BIT-EXACTLY (same subtractions in the same order), replacing the
  * hand-traced goldens GibbsSpec used as the only evidence.
  */
class RefPriorDifferentialSpec extends AnyFunSuite {

  private val refBuild = "/tmp/refbuild"

  private def ensureRefCompiled(): Boolean = {
    if (!Files.exists(Paths.get("/root/reference/src"))) return false
    val crf = s"$refBuild/classes/edu/stanford/nlp/ie/crf/CRFClassifier.class"
    if (Files.exists(Paths.get(crf))) return true
    if (Seq("bash", "-c", s"rm -rf $refBuild && mkdir -p $refBuild/classes && cp -r /root/reference/src $refBuild/src").! != 0) return false
    val tree = Paths.get(s"$refBuild/src/edu/stanford/nlp/trees/Tree.java")
    Files.writeString(tree, Files.readString(tree)
      .replace("return yield(", "return this.yield(")
      .replace("List<CoreLabel> s = yield();", "List<CoreLabel> s = this.yield();"))
    Seq("bash", "-c",
      s"cd $refBuild && javac -nowarn -encoding UTF-8 -d classes $$(find src/edu -name '*.java') 2>javac.log").! == 0
  }

  // classIndex the probe and our prior share (background first)
  private val classIndex = Vector("O", "LOCATION", "ORGANIZATION", "PERSON", "MISC")

  /** Deterministic test vectors: a small vocabulary with deliberate repeats
    * (case-folded variants included so equalsIgnoreCase paths fire), labels
    * drawn per position — plus hand-built corner cases for the exact-match
    * length rules and the ORG-then-LOC exemption quirk
    * (EmpiricalNERPrior.java:134-135).
    */
  private def vectors: Seq[(Vector[String], Array[Int])] = {
    val vocab = Vector("acme", "corp", "berlin", "bank", "of", "tokyo",
      "Acme", "BERLIN", "press", "Tokyo")
    val rand = (0 until 40).map { d =>
      val n = (8 + (graft.ops.Hashing.splitmix64(xp(d) | 1L) & 7)).toInt
      val ws = Vector.tabulate(n)(i =>
        vocab(((graft.ops.Hashing.splitmix64(d * 313L + i) >>> 9) % vocab.length).toInt))
      val ls = Array.tabulate(n)(i =>
        ((graft.ops.Hashing.splitmix64(d * 131L + i * 17L) >>> 7) % 5).toInt)
      (ws, ls)
    }
    val hand = Seq(
      // exact repeat, same type, same length -> only the type-matrix term (zero diag)
      (Vector("acme", "corp", "x", "acme", "corp"), Array(2, 2, 0, 2, 2)),
      // exact repeat, same type, differing lengths -> |dLen| * p1
      (Vector("acme", "corp", "x", "acme"), Array(2, 2, 0, 2)),
      // ORG then LOC with differing lengths: the exemption direction
      (Vector("berlin", "bank", "x", "berlin"), Array(2, 2, 0, 1)),
      // LOC then ORG with differing lengths: NOT exempt (the quirk)
      (Vector("berlin", "x", "berlin", "bank"), Array(1, 0, 2, 2)),
      // case-insensitive occurrence
      (Vector("Acme", "x", "ACME"), Array(3, 0, 3)),
      // inexact overlap: occurrence window covered by a longer entity
      (Vector("tokyo", "x", "tokyo", "press"), Array(1, 0, 2, 2)))
    rand ++ hand
  }
  private def xp(d: Int): Long = 0x9e1L + d * 7919L

  test("EmpiricalNERPrior.scoreOf matches the compiled reference bit-exactly") {
    assume(ensureRefCompiled(), "reference source/javac not available")
    val dir = Paths.get("/tmp/refprior")
    Files.createDirectories(dir)
    val probe =
      """import edu.stanford.nlp.ie.EmpiricalNERPrior;
        |import edu.stanford.nlp.ling.CoreLabel;
        |import edu.stanford.nlp.util.Index;
        |import java.util.*;
        |
        |public class PriorProbe {
        |  public static void main(String[] args) throws Exception {
        |    Index<String> classIndex = new Index<String>();
        |    classIndex.add("O"); classIndex.add("LOCATION"); classIndex.add("ORGANIZATION");
        |    classIndex.add("PERSON"); classIndex.add("MISC");
        |    Scanner sc = new Scanner(System.in);
        |    while (sc.hasNextLine()) {
        |      String line = sc.nextLine();
        |      if (line.isEmpty()) continue;
        |      String[] parts = line.split("\\|");
        |      String[] ws = parts[0].split(" ");
        |      String[] ls = parts[1].split(" ");
        |      List<CoreLabel> doc = new ArrayList<CoreLabel>();
        |      for (String w : ws) { CoreLabel c = new CoreLabel(); c.setWord(w); doc.add(c); }
        |      int[] seq = new int[ls.length];
        |      for (int i = 0; i < ls.length; i++) seq[i] = Integer.parseInt(ls[i]);
        |      EmpiricalNERPrior p = new EmpiricalNERPrior("O", classIndex, doc);
        |      p.setInitialSequence(seq);
        |      System.out.println(Double.toString(p.scoreOf(seq)));
        |    }
        |  }
        |}
        |""".stripMargin
    Files.writeString(dir.resolve("PriorProbe.java"), probe)
    assert(Seq("javac", "-nowarn", "-cp", s"$refBuild/classes", "-d", dir.toString,
      dir.resolve("PriorProbe.java").toString).! == 0, "probe javac failed")

    val vs = vectors
    val input = vs.map { case (ws, ls) => ws.mkString(" ") + "|" + ls.mkString(" ") }
      .mkString("", "\n", "\n")
    val out = new StringBuilder
    val rc = (Seq("java", "-cp", s"$dir${java.io.File.pathSeparator}$refBuild/classes", "PriorProbe") #<
      new java.io.ByteArrayInputStream(input.getBytes("UTF-8")))
      .!(ProcessLogger(l => out.append(l).append('\n'), _ => ()))
    assert(rc == 0, "probe run failed")
    val refScores = out.toString.linesIterator.filter(_.nonEmpty).map(_.toDouble).toVector
    assert(refScores.length == vs.length, s"probe returned ${refScores.length} of ${vs.length} scores")

    var nonZero = 0
    vs.zip(refScores).zipWithIndex.foreach { case (((ws, ls), refScore), i) =>
      val ours = new NerPriors.EmpiricalNerPrior(ws, classIndex, "O").scoreOf(ls)
      assert(java.lang.Double.doubleToLongBits(ours) == java.lang.Double.doubleToLongBits(refScore),
        s"vector $i: ours=$ours ref=$refScore words=${ws.mkString(" ")} labels=${ls.mkString(" ")}")
      if (refScore != 0.0) nonZero += 1
    }
    info(s"${vs.length} vectors bit-exact; $nonZero with non-zero prior score")
    assert(nonZero >= 8, "test vectors must actually exercise the penalty paths")
  }
}
