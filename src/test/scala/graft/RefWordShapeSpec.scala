package graft

import graft.text.WordShape
import org.scalatest.funsuite.AnyFunSuite

/** Differential for the dan2UseLC word-shape function against the compiled
  * reference's PUBLIC WordShapeClassifier.wordShape(word, 3, knownLCWords)
  * (WordShapeClassifier.java:133). The shape function underpins every TYPE /
  * TYPES / shape-conjunction template, so it was previously certified by
  * goldens + the (corpus-bounded) bridge legs and the q38 SQL oracle; this
  * probe sweeps a much wider character space — Unicode titlecase, Greek,
  * currency/symbol chars, digits mixes, the '~' lastM quirk, dashes and
  * short-word length suffixes — plus the knownLCWords 'k' path.
  */
class RefWordShapeSpec extends AnyFunSuite {

  private val probeSrc =
    """import edu.stanford.nlp.process.WordShapeClassifier;
      |import java.util.*;
      |
      |public class ShapeProbe {
      |  public static void main(String[] args) throws Exception {
      |    System.setOut(new java.io.PrintStream(new java.io.FileOutputStream(java.io.FileDescriptor.out), true, "UTF-8"));
      |    Scanner sc = new Scanner(System.in, "UTF-8");
      |    String first = sc.nextLine();
      |    Collection<String> known = new ArrayList<String>();
      |    if (!first.isEmpty()) known.addAll(Arrays.asList(first.split(",")));
      |    while (sc.hasNextLine()) {
      |      String w = sc.nextLine();
      |      if (w.isEmpty()) continue;
      |      System.out.println(WordShapeClassifier.wordShape(w, 3, known));
      |    }
      |  }
      |}
      |""".stripMargin

  test("dan2UseLC shapes match the reference over a wide character sweep") {
    assume(RefBuild.ensureCompiled(), "reference source/javac not available")
    val known = Set("monday", "tuesday", "press", "acme", "ab")
    val chars = "aAzZ09-.,'~αΩǅ€$%/&ß:" // incl. titlecase ǅ, Greek, symbols, the '~' quirk char
    val rand = (0 until 400).map { d =>
      val n = (1 + (graft.ops.Hashing.splitmix64(0x5a9eL + d) & 7)).toInt
      (0 until n).map { i =>
        chars(((graft.ops.Hashing.splitmix64(d * 53L + i * 7L) >>> 9) % chars.length).toInt)
      }.mkString
    }
    val hand = Seq("Monday", "monday", "MONDAY", "Ab", "ab", "A1-b2", "~~~x", "~", "3.14",
      "U.S.", "''", "Acme", "acme", "press", "Press", "1234", "a", "A", "ǅab", "αβγ", "€99")
    val words = (rand ++ hand).distinct
    val input = known.toSeq.sorted.mkString(",") + "\n" + words.mkString("\n") + "\n"
    val out = RefBuild.runProbe("ShapeProbe", probeSrc, input)
    assert(out.isDefined, "probe build/run failed")
    val refShapes = out.get
    assert(refShapes.length == words.length, s"${refShapes.length} of ${words.length}")
    var bad = 0
    words.zip(refShapes).foreach { case (w, refShape) =>
      val ours = WordShape.dan2(w, known.contains)
      if (ours != refShape) {
        bad += 1
        if (bad <= 8) info(s"MISMATCH '$w': ours=$ours ref=$refShape")
      }
    }
    assert(bad == 0, s"$bad of ${words.length} shapes differ")
    info(s"${words.length} shapes byte-identical (incl. knownLCWords 'k' suffix paths)")
  }
}
