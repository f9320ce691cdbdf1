package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.sys.process._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** BIT-LEVEL differential for the `-useFloat` training objective
  * (CRFLogConditionalObjectiveFloatFunction): a probe compiled INTO the
  * reference's package (the constructor is package-private) builds the float
  * function exactly as CRFClassifier.train does (CRFClassifier.java:987-999),
  * evaluates value + derivative on fixed weight vectors, and dumps
  * floatToIntBits; our FloatObjective must reproduce every bit.
  *
  * Weight vectors are generated on OUR side and shipped to the probe as int
  * bits, so no generation formula needs to match across languages.
  */
class RefFloatObjectiveSpec extends AnyFunSuite {

  private val refBuild = "/tmp/refbuild"
  private val dir = "/tmp/reffloat"
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

  private def lcWords(f: String): Set[String] = Files.readAllLines(Paths.get(s"$dir/$f")).asScala
    .filter(_.nonEmpty).map(l => graft.text.WordShape.fixWord(l.split("\t")(0)))
    .filter(w => w.nonEmpty && Character.isLowerCase(w.charAt(0))).toSet

  /** (words, answers) per doc of a CoNLL-ish fixture file. */
  private def parseDocs(f: String): Vector[(Vector[String], Vector[String])] = {
    val lines = Files.readAllLines(Paths.get(s"$dir/$f")).asScala
    val b = Vector.newBuilder[(Vector[String], Vector[String])]
    var w = Vector.newBuilder[String]; var a = Vector.newBuilder[String]; var any = false
    for (l <- lines) {
      if (l.trim.isEmpty) {
        if (any) b += ((w.result(), a.result())); w = Vector.newBuilder; a = Vector.newBuilder; any = false
      } else { val p = l.split("\t"); w += p(0); a += p(1); any = true }
    }
    if (any) b += ((w.result(), a.result()))
    b.result()
  }

  // in-package probe: package-private constructor + fields reachable directly
  private val probeSrc =
    """package edu.stanford.nlp.ie.crf;
      |
      |import edu.stanford.nlp.ling.CoreLabel;
      |import edu.stanford.nlp.objectbank.ObjectBank;
      |import edu.stanford.nlp.util.Pair;
      |import java.io.*;
      |import java.util.*;
      |
      |public class FloatObjProbe {
      |  public static void main(String[] args) throws Exception {
      |    CRFClassifier crf = CRFClassifier.getClassifier(args[0]);
      |    int nDocs = Integer.parseInt(args[3]);
      |    // map (feature -> clique group) is a train-time cache, not serialized
      |    // (CRFClassifier.java:121,474-480); supplied by the caller
      |    BufferedReader mr = new BufferedReader(new FileReader(args[5]));
      |    String[] ms = mr.readLine().split(",");
      |    mr.close();
      |    int[] map = new int[ms.length];
      |    for (int i = 0; i < ms.length; i++) map[i] = Integer.parseInt(ms[i]);
      |    crf.map = map;
      |    List<int[][][]> dataL = new ArrayList<int[][][]>();
      |    List<int[]> labelsL = new ArrayList<int[]>();
      |    for (List<CoreLabel> doc : crf.makeObjectBankFromFile(args[1])) {
      |      if (dataL.size() >= nDocs) break;
      |      Pair<int[][][],int[]> p = crf.documentToDataAndLabels(doc);
      |      dataL.add(p.first()); labelsL.add(p.second());
      |    }
      |    int[][][][] data = dataL.toArray(new int[0][][][]);
      |    int[][] labels = labelsL.toArray(new int[0][]);
      |    // dump the exact data arrays (ids in HashSet iteration order) so the
      |    // mirror consumes identical inputs: the differential certifies the
      |    // OBJECTIVE ARITHMETIC; array content equality is RefFeatureDumpSpec's
      |    PrintWriter dout = new PrintWriter(new BufferedWriter(new FileWriter(args[4] + ".data")));
      |    for (int m = 0; m < data.length; m++)
      |      for (int i = 0; i < data[m].length; i++)
      |        for (int j = 0; j < data[m][i].length; j++) {
      |          StringBuilder db = new StringBuilder();
      |          db.append(m).append(' ').append(i).append(' ').append(j).append(':');
      |          for (int k = 0; k < data[m][i][j].length; k++) {
      |            if (k > 0) db.append(',');
      |            db.append(data[m][i][j][k]);
      |          }
      |          dout.println(db);
      |        }
      |    dout.close();
      |    CRFLogConditionalObjectiveFloatFunction func =
      |      new CRFLogConditionalObjectiveFloatFunction(data, labels, crf.featureIndex,
      |        crf.windowSize, crf.classIndex, crf.labelIndices, map, "O", 20.0);
      |    BufferedReader in = new BufferedReader(new FileReader(args[2]));
      |    PrintWriter out = new PrintWriter(new BufferedWriter(new FileWriter(args[4])));
      |    out.println("DIM\t" + func.domainDimension());
      |    String line;
      |    while ((line = in.readLine()) != null) {
      |      if (line.isEmpty()) continue;
      |      String[] parts = line.split(",");
      |      float[] x = new float[parts.length];
      |      for (int i = 0; i < x.length; i++) x[i] = Float.intBitsToFloat(Integer.parseInt(parts[i]));
      |      float v = func.valueAt(x);
      |      float[] g = func.derivativeAt(x);
      |      StringBuilder sb = new StringBuilder();
      |      sb.append(Float.floatToIntBits(v));
      |      for (float gi : g) { sb.append(','); sb.append(Float.floatToIntBits(gi)); }
      |      out.println(sb);
      |    }
      |    in.close(); out.close();
      |  }
      |}
      |""".stripMargin

  test("the -useFloat objective (value + gradient) matches the compiled reference bit-for-bit") {
    assume(Files.exists(Paths.get("/root/reference/src")), "reference source not present")
    ensureRefCompiled()
    graft.tools.RefFixtures.main(Array(dir))
    assert(ref("-trainFile", s"$dir/train.tsv", "-serializeTo", s"$dir/ref.ser.gz",
      "-conllNoTags", "true") == 0, "reference training failed")

    // our side: same model; labels parsed from the fixture. The id arrays
    // come from the probe's dump: their CONTENT is certified equal to our
    // emissions by RefFeatureDumpSpec (multisets per factor) and by the
    // encodeRefOrder cross-check below; their ORDER is java.util.HashSet
    // bucket-iteration state (getCliqueFeatures collects into a HashSet,
    // NERFeatureFactory.java:412) which float summation is sensitive to at
    // the last ulp — consuming the dumped arrays scopes this leg to the
    // OBJECTIVE ARITHMETIC, bit-for-bit.
    val model = graft.ner.RefBinaryModel.load(s"$dir/ref.ser.gz",
      extraKnownLC = lcWords("train.tsv") ++ lcWords("test.tsv"))
    val layout = model.layout
    val nDocs = 120
    val docs = parseDocs("test.tsv").take(nDocs)
    val dim = layout.totalSize

    // deterministic small weight vectors (float bits shipped to the probe)
    def mix(x: Long): Long = graft.ops.Hashing.splitmix64(x)
    val vectors: Vector[Array[Float]] = Vector.tabulate(3) { v =>
      Array.tabulate(dim) { i =>
        val h = mix(0xF10A7L * (v + 1) + i)
        (((h >>> 40).toInt.toFloat / 16777216.0f) - 0.5f) * 0.1f
      }
    } :+ Array.fill(dim)(0.0f) // and the all-zero initial point
    Files.writeString(Paths.get(s"$dir/weights.txt"),
      vectors.map(_.map(java.lang.Float.floatToIntBits).mkString(",")).mkString("", "\n", "\n"))

    Files.createDirectories(Paths.get(s"$dir/probe/edu/stanford/nlp/ie/crf"))
    Files.writeString(Paths.get(s"$dir/probe/FloatObjProbe.java"), probeSrc)
    assert(Seq("javac", "-nowarn", "-cp", s"$refBuild/classes", "-d", s"$dir/probe",
      s"$dir/probe/FloatObjProbe.java").! == 0, "probe javac failed")
    Files.writeString(Paths.get(s"$dir/featgroup.txt"), layout.featGroup.mkString(",") + "\n")
    assert(Seq("java", "-Xmx4g", "-cp", s"$dir/probe${java.io.File.pathSeparator}$refBuild/classes",
      "edu.stanford.nlp.ie.crf.FloatObjProbe", s"$dir/ref.ser.gz", s"$dir/test.tsv",
      s"$dir/weights.txt", nDocs.toString, s"$dir/floatobj.txt", s"$dir/featgroup.txt").! == 0, "probe run failed")

    val outLines = Files.readAllLines(Paths.get(s"$dir/floatobj.txt")).asScala.filter(_.nonEmpty)
    val refDim = outLines.head.split("\t")(1).toInt
    assert(refDim == dim, s"domainDimension: ref=$refDim ours=$dim")
    val refResults = outLines.tail.map(_.split(",").map(_.toInt)).toVector
    assert(refResults.length == vectors.length)

    // build the encoded docs from the probe's dumped data arrays
    val dataLines = Files.readAllLines(Paths.get(s"$dir/floatobj.txt.data")).asScala.filter(_.nonEmpty)
    val encoded = docs.zipWithIndex.map { case ((ws, as), m) =>
      (Array.fill(ws.length)(new Array[Array[Int]](layout.windowSize)), as.map(model.classOf).toArray)
    }.toArray
    for (l <- dataLines) {
      val Array(hdr, idsStr) = { val c = l.split(":", -1); Array(c(0), c(1)) }
      val Array(m, i, j) = hdr.split(" ").map(_.toInt)
      if (m < nDocs)
        encoded(m)._1(i)(j) = if (idsStr.isEmpty) Array.empty[Int] else idsStr.split(",").map(_.toInt)
    }
    // cross-check: our encodeRefOrder reproduces the same id SETS (dedup +
    // dictionary filtering semantics), orders agreeing on the vast majority
    // of factors (residual = HashSet bucket chains fed by emission order)
    var factors = 0; var sameSet = 0; var sameOrder = 0
    for (((ws, _), m) <- docs.zipWithIndex) {
      val ours = model.encodeRefOrder(ws)
      for (i <- ours.indices; j <- ours(i).indices) {
        factors += 1
        if (ours(i)(j).sorted.sameElements(encoded(m)._1(i)(j).sorted)) sameSet += 1
        if (ours(i)(j).sameElements(encoded(m)._1(i)(j))) sameOrder += 1
      }
    }
    info(s"encodeRefOrder cross-check: $sameSet/$factors factors same id set, $sameOrder same exact order")
    assert(sameSet == factors, "encodeRefOrder id sets must match the reference data arrays")

    var checkedG = 0L
    for ((x, ri) <- vectors.zipWithIndex) {
      val (v, g) = graft.train.FloatObjective.valueAndGrad(encoded.toIndexedSeq, x, layout, 20.0f)
      val refBits = refResults(ri)
      assert(java.lang.Float.floatToIntBits(v) == refBits(0),
        s"vector $ri value: ours=$v ref=${java.lang.Float.intBitsToFloat(refBits(0))}")
      assert(refBits.length == dim + 1)
      var i = 0
      var bad = -1
      while (i < dim && bad < 0) {
        if (java.lang.Float.floatToIntBits(g(i)) != refBits(i + 1)) bad = i
        i += 1
      }
      if (bad >= 0)
        fail(s"vector $ri gradient[$bad]: ours=${g(bad)} ref=${java.lang.Float.intBitsToFloat(refBits(bad + 1))}")
      checkedG += dim
    }
    info(s"${vectors.length} weight vectors over $nDocs docs: value + $checkedG gradient components bit-exact (dim=$dim)")
  }

  test("useFloat training converges to QN-level held-out accuracy") {
    val spark = graft.pipeline.SparkTestSession.spark
    import spark.implicits._
    val gold = graft.pipeline.Transcripts.synthGold(spark, nConvs = 250L, seed = 42L)
      .map(g => graft.train.LabeledDoc(g.words, g.labels))
    val model = graft.train.Trainer.train(spark, gold,
      graft.train.Trainer.Config(maxIterations = 120, optimizer = graft.train.Optimizer.QnFloat))
    val heldOut = (1000L until 1100L).flatMap { conv =>
      (0 until graft.pipeline.Transcripts.numTurns(43L, conv))
        .map(t => graft.pipeline.Transcripts.turnTokens(43L, conv, t))
    }
    var correct = 0L; var total = 0L
    for ((words, labels) <- heldOut) {
      val got = model.tag(words)
      for (i <- words.indices) { if (got(i) == labels(i)) correct += 1; total += 1 }
    }
    val acc = correct.toDouble / total
    info(f"useFloat held-out token accuracy = $acc%.5f over $total tokens")
    assert(acc >= 0.99, s"float-trained model accuracy $acc")
  }
}
