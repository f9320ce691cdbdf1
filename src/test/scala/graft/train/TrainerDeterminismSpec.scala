package graft.train

import graft.TrainedTranscriptsCrf
import java.lang.management.ManagementFactory
import java.nio.file.Paths
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Trains the transcripts model twice in a local[4] session and prints a
  * digest of each weight set's bits. TrainerDeterminismSpec runs it in a JVM
  * of its own, because the suite's shared session has 8 cores.
  */
object TrainTranscriptsTwice {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]").appName("train-twice")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (_ <- 0 until 2) {
      val m = Trainer.train(spark, TrainedTranscriptsCrf.corpus(spark), TrainedTranscriptsCrf.trainConfig)
      val bits = m.weights.iterator.flatMap(_.iterator).map(java.lang.Double.doubleToRawLongBits)
      println("digest " + bits.foldLeft(0xcbf29ce484222325L)((h, b) => (h ^ b) * 0x100000001b3L).toHexString)
    }
    spark.stop()
  }
}

/** The trained weights must not depend on the order in which the gradient's
  * partition tasks finish. With 8 cores the final merge adds two partials
  * (commutative, so exact either way); with 4 it adds four, and the grouping
  * of four floating-point sums decides the last bits of every weight.
  */
class TrainerDeterminismSpec extends AnyFunSuite {

  test("the transcripts model trains to bit-identical weights twice in a 4-core session") {
    val java = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(a => a.startsWith("-Xmx") || a.startsWith("-agentlib") || a.startsWith("-javaagent"))
    val cmd = Seq(java) ++ jvmArgs ++ Seq("-Xmx2g", "-cp", System.getProperty("java.class.path"),
      "graft.train.TrainTranscriptsTwice")
    val proc = new ProcessBuilder(cmd: _*)
      .redirectError(ProcessBuilder.Redirect.DISCARD).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).getLines().toVector
    assert(proc.waitFor() == 0, s"training JVM failed; stdout:\n${out.mkString("\n")}")
    val digests = out.filter(_.startsWith("digest "))
    assert(digests.length == 2, out.mkString("\n"))
    assert(digests(0) == digests(1), "two trainings of the same corpus gave different weights")
  }
}
