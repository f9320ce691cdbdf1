package graft

import graft.ner.LabelEncodings
import org.scalatest.funsuite.AnyFunSuite

/** Differential for the IOB/IOE/IO/SBIEO transcode against the compiled
  * reference's own `entitySubclassify` (CoNLLDocumentReaderAndWriter.java:
  * 100-195, driven via reflection — the method is private and its main() is
  * commented out). Randomized prefixed label sequences over two types with
  * every prefix (I/B/E/S, bare classes, O) hit the adjacency rules, the
  * pPrefix-for-'S' quirk at :141, the bare-label pass-through, and the
  * unknown-style fallback; ours must match byte for byte on all six styles.
  */
class RefLabelEncodingSpec extends AnyFunSuite {

  private val probeSrc =
    """import edu.stanford.nlp.sequences.CoNLLDocumentReaderAndWriter;
      |import edu.stanford.nlp.sequences.SeqClassifierFlags;
      |import edu.stanford.nlp.ling.CoreLabel;
      |import edu.stanford.nlp.ling.CoreAnnotations.AnswerAnnotation;
      |import java.lang.reflect.Method;
      |import java.util.*;
      |
      |public class SubclassifyProbe {
      |  public static void main(String[] args) throws Exception {
      |    CoNLLDocumentReaderAndWriter rw = new CoNLLDocumentReaderAndWriter();
      |    rw.init(new SeqClassifierFlags());
      |    Method m = CoNLLDocumentReaderAndWriter.class.getDeclaredMethod(
      |      "entitySubclassify", List.class, String.class);
      |    m.setAccessible(true);
      |    Scanner sc = new Scanner(System.in);
      |    while (sc.hasNextLine()) {
      |      String line = sc.nextLine();
      |      if (line.isEmpty()) continue;
      |      String[] parts = line.split("\\|");
      |      String[] ls = parts[1].split(" ");
      |      List<CoreLabel> lis = new ArrayList<CoreLabel>();
      |      for (String l : ls) {
      |        CoreLabel c = new CoreLabel();
      |        c.set(AnswerAnnotation.class, l);
      |        lis.add(c);
      |      }
      |      m.invoke(rw, lis, parts[0]);
      |      StringBuilder sb = new StringBuilder();
      |      for (CoreLabel c : lis) {
      |        if (sb.length() > 0) sb.append(' ');
      |        sb.append(c.get(AnswerAnnotation.class));
      |      }
      |      System.out.println(sb);
      |    }
      |  }
      |}
      |""".stripMargin

  test("entitySubclassify matches the reference byte for byte on all six styles") {
    assume(RefBuild.ensureCompiled(), "reference source/javac not available")
    val alphabet = Vector("O", "PER", "LOC", "I-PER", "B-PER", "E-PER", "S-PER",
      "I-LOC", "B-LOC", "E-LOC", "S-LOC")
    val styles = Vector("iob1", "iob2", "ioe1", "ioe2", "io", "sbieo", "IOB2", "bogus")
    val vectors = for {
      d <- 0 until 60
      style = styles(d % styles.length)
    } yield {
      val n = (5 + (graft.ops.Hashing.splitmix64(0x1abe1L + d) & 7)).toInt
      val ls = Vector.tabulate(n) { i =>
        alphabet(((graft.ops.Hashing.splitmix64(d * 127L + i * 31L) >>> 8) % alphabet.length).toInt)
      }
      (style, ls)
    }
    val hand = Seq(
      ("iob1", Vector("I-PER", "I-PER", "E-PER", "I-PER", "O")), // E then I: adjacency via pPrefix
      ("ioe1", Vector("I-PER", "S-PER", "I-PER", "O")), // the pPrefix=='S' quirk direction
      ("sbieo", Vector("B-LOC", "I-LOC", "B-LOC", "O", "S-PER")),
      ("io", Vector("O", "B-PER", "I-PER", "LOC", "O"))) // bare LOC passes through
    val all = vectors ++ hand
    val input = all.map { case (st, ls) => st + "|" + ls.mkString(" ") }.mkString("", "\n", "\n")
    val out = RefBuild.runProbe("SubclassifyProbe", probeSrc, input)
    assert(out.isDefined, "probe build/run failed")
    val refLines = out.get.filter(_.nonEmpty)
    assert(refLines.length == all.length, s"${refLines.length} of ${all.length} outputs")
    var checked = 0
    all.zip(refLines).foreach { case ((style, ls), refOut) =>
      val ours = LabelEncodings.entitySubclassify(ls, style).mkString(" ")
      assert(ours == refOut, s"style=$style in=${ls.mkString(" ")}\nours=$ours\nref =$refOut")
      checked += 1
    }
    info(s"$checked transcodes byte-identical across ${styles.distinct.length} styles (incl. case-insensitive + unknown-style fallback)")
  }

  private val deEndifyProbeSrc =
    """import edu.stanford.nlp.sequences.CoNLLDocumentReaderAndWriter;
      |import edu.stanford.nlp.sequences.SeqClassifierFlags;
      |import edu.stanford.nlp.ling.CoreLabel;
      |import edu.stanford.nlp.ling.CoreAnnotations.AnswerAnnotation;
      |import java.lang.reflect.Method;
      |import java.util.*;
      |
      |public class DeEndifyProbe {
      |  public static void main(String[] args) throws Exception {
      |    CoNLLDocumentReaderAndWriter rw = new CoNLLDocumentReaderAndWriter();
      |    rw.init(new SeqClassifierFlags());
      |    Method m = CoNLLDocumentReaderAndWriter.class.getDeclaredMethod(
      |      "deEndify", List.class);
      |    m.setAccessible(true);
      |    Scanner sc = new Scanner(System.in);
      |    while (sc.hasNextLine()) {
      |      String line = sc.nextLine();
      |      if (line.isEmpty()) continue;
      |      String[] ls = line.split(" ");
      |      List<CoreLabel> lis = new ArrayList<CoreLabel>();
      |      for (String l : ls) {
      |        CoreLabel c = new CoreLabel();
      |        c.set(AnswerAnnotation.class, l);
      |        lis.add(c);
      |      }
      |      try {
      |        m.invoke(rw, lis);
      |        StringBuilder sb = new StringBuilder();
      |        for (CoreLabel c : lis) {
      |          if (sb.length() > 0) sb.append(' ');
      |          sb.append(c.get(AnswerAnnotation.class));
      |        }
      |        System.out.println(sb);
      |      } catch (Exception e) {
      |        System.out.println("NPE");
      |      }
      |    }
      |  }
      |}
      |""".stripMargin

  test("deEndify matches the reference byte for byte (incl. the position-0 NPE domain quirk)") {
    assume(RefBuild.ensureCompiled(), "reference source/javac not available")
    val alphabet = Vector("O", "PER", "I-PER", "B-PER", "E-PER", "S-PER",
      "I-LOC", "B-LOC", "E-LOC", "S-LOC")
    // first label bare (the reference's own pipeline guarantees the boundary
    // token there), rest random
    val vectors = (0 until 50).map { d =>
      val n = (4 + (graft.ops.Hashing.splitmix64(0xdeedL + d) & 7)).toInt
      Vector("O") ++ Vector.tabulate(n) { i =>
        alphabet(((graft.ops.Hashing.splitmix64(d * 89L + i * 13L) >>> 8) % alphabet.length).toInt)
      }
    } :+ Vector("I-PER", "O") // the undefined case: reference NPEs, we throw
    val input = vectors.map(_.mkString(" ")).mkString("", "\n", "\n")
    val out = RefBuild.runProbe("DeEndifyProbe", deEndifyProbeSrc, input)
    assert(out.isDefined, "probe build/run failed")
    val refLines = out.get.filter(_.nonEmpty)
    assert(refLines.length == vectors.length)
    vectors.zip(refLines).foreach { case (ls, refOut) =>
      if (refOut == "NPE")
        assertThrows[IllegalArgumentException](LabelEncodings.deEndify(ls))
      else
        assert(LabelEncodings.deEndify(ls).mkString(" ") == refOut,
          s"in=${ls.mkString(" ")}\nours=${LabelEncodings.deEndify(ls).mkString(" ")}\nref =$refOut")
    }
    assert(refLines.last == "NPE", "the position-0 quirk vector must actually NPE in the reference")
    info(s"${vectors.length - 1} deEndify vectors byte-identical + the NPE domain quirk confirmed")
  }
}
