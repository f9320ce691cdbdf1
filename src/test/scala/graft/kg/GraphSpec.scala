package graft.kg

import graft.ner.NerModels
import graft.pipeline.{SparkTestSession, Transcripts}
import graft.ner.Tagger
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

class GraphSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("materialize writes partitioned nodes/edges with lineage; re-run resumes (skips)") {
    val model = NerModels.default(spark)
    val turns = Transcripts.synth(spark, 60L)
    val triples = KgPipeline.triples(turns, model)
    val linked = EntityLink.link(Tagger.mentions(turns, model))
    val out = Files.createTempDirectory("kgout").toString
    // drive through the GraphSink TRAIT: the bucket-layout/lineage contract
    // below is what any sink implementation (parquet stand-in, Iceberg when a
    // runtime jar exists) must satisfy
    val sink: GraphMaterializer.GraphSink = GraphMaterializer.ParquetBucketSink
    val (nodes, edges) = GraphMaterializer.materialize(triples, linked, out,
      fingerprint = "seed42-n60", sink = sink)
    assert(nodes.count() > 0 && edges.count() > 0)
    assert(Files.exists(Paths.get(out, "_lineage", "nodes.json")))
    assert(Files.exists(Paths.get(out, "_lineage", "edges.json")))
    // partition layout: etype=... dirs for nodes, bucket=... for edges
    val nodeDirs = new java.io.File(s"$out/nodes").listFiles().map(_.getName)
    assert(nodeDirs.exists(_.startsWith("etype=")), nodeDirs.mkString(","))
    // resume: same fingerprint -> no rewrite (file mtimes unchanged)
    def mtimes(p: String) = new java.io.File(p).listFiles().map(f => f.getName -> f.lastModified()).toMap
    val before = mtimes(s"$out/nodes")
    Thread.sleep(20)
    GraphMaterializer.materialize(triples, linked, out, fingerprint = "seed42-n60")
    assert(mtimes(s"$out/nodes") == before, "resume must skip completed stages")
    // changed fingerprint -> stage re-runs
    GraphMaterializer.materialize(triples, linked, out, fingerprint = "seed42-n60-v2")
    assert(mtimes(s"$out/nodes") != before, "new fingerprint must rewrite")
  }

  test("PER-PARTITION resume: a damaged bucket is repaired alone, others untouched byte-for-byte") {
    val model = NerModels.default(spark)
    val turns = Transcripts.synth(spark, 60L)
    val triples = KgPipeline.triples(turns, model)
    val linked = EntityLink.link(Tagger.mentions(turns, model))
    val out = Files.createTempDirectory("kgout2").toString
    GraphMaterializer.materialize(triples, linked, out, fingerprint = "pp-1")

    // lineage carries per-partition counters
    val lineage = GraphMaterializer.Lineage.read(out, "nodes")
    assert(lineage.isDefined && lineage.get._2.nonEmpty, "per-partition counts missing")
    val (_, counts) = lineage.get
    assert(counts.keys.forall(k => k.startsWith("etype=") && k.contains("/bucket=")), counts.keys.take(3).mkString(","))

    // simulate a killed write: delete ONE partition directory
    val victim = counts.keys.head
    val victimDir = new java.io.File(s"$out/nodes/$victim")
    assert(victimDir.isDirectory)
    victimDir.listFiles().foreach(_.delete()); victimDir.delete()
    assert(!victimDir.exists())

    def partFiles(p: String): Map[String, Long] = {
      val d = new java.io.File(p)
      if (!d.isDirectory) Map.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet")).map(f => f.getPath -> f.lastModified()).toMap
    }
    val survivorsBefore = (counts.keySet - victim).flatMap(p => partFiles(s"$out/nodes/$p")).toMap
    Thread.sleep(20)

    // same fingerprint -> only the victim partition is rewritten
    GraphMaterializer.materialize(triples, linked, out, fingerprint = "pp-1")
    assert(victimDir.exists() && partFiles(victimDir.getPath).nonEmpty, "victim bucket not repaired")
    val survivorsAfter = (counts.keySet - victim).flatMap(p => partFiles(s"$out/nodes/$p")).toMap
    assert(survivorsAfter == survivorsBefore, "untouched buckets must keep their files byte-for-byte")

    // repaired table has the full recorded row count
    val total = spark.read.parquet(s"$out/nodes").count()
    assert(total == counts.values.sum, s"rows $total != recorded ${counts.values.sum}")
  }

  test("graph tables get the same file and directory modes as a write through Hadoop's stock local file system") {
    val model = NerModels.default(spark)
    val turns = Transcripts.synth(spark, 60L)
    val triples = KgPipeline.triples(turns, model)
    val linked = EntityLink.link(Tagger.mentions(turns, model))
    val out = Files.createTempDirectory("kgmodes").toString
    val plain = Files.createTempDirectory("kgmodes-plain").toString
    // each table is also written from the same DataFrame without the
    // engine's writer options, so both trees have the same layout
    val both = new GraphMaterializer.GraphSink {
      def write(df: org.apache.spark.sql.DataFrame, tableDir: String, partCols: Seq[String],
          outDir: String, stage: String, fingerprint: String): Map[String, Long] = {
        df.write.partitionBy(partCols: _*).parquet(s"$plain/$stage")
        GraphMaterializer.ParquetBucketSink.write(df, tableDir, partCols, outDir, stage, fingerprint)
      }
    }
    GraphMaterializer.materialize(triples, linked, out, fingerprint = "modes", sink = both)
    // path (part-file ids dropped) -> mode, for the table dir and all below it
    def modes(root: String): Map[String, Int] = {
      val r = Paths.get(root)
      val walk = Files.walk(r)
      try walk.iterator().asScala.map { p =>
        r.relativize(p).toString.replaceAll("part-(\\d+)-[0-9a-f-]{36}", "part-$1") ->
          (Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff)
      }.toMap finally walk.close()
    }
    for (table <- Seq("nodes", "edges")) {
      val got = modes(s"$out/$table")
      assert(got.keys.exists(_.endsWith(".parquet.crc")) && got.keys.exists(_.contains("=")), got.keys)
      assert(got == modes(s"$plain/$table"), table)
    }
  }
}
