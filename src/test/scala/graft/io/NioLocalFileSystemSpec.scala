package graft.io

import java.nio.file.{Files, Path => JPath}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class NioLocalFileSystemSpec extends AnyFunSuite {

  private def fs(f: FileSystem): FileSystem = { f.initialize(FileSystem.getDefaultUri(new Configuration), new Configuration); f }
  private lazy val stock = fs(new LocalFileSystem)
  private lazy val nio = fs(new NioLocalFileSystem)
  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** A fresh file and directory per file system, with `perm` set on each. */
  private def modesAfter(perm: FsPermission, prep: JPath => Unit = _ => ()): Seq[(Int, Int)] = {
    val root = Files.createTempDirectory("niofs")
    Seq(stock, nio).map { f =>
      val file = Files.createFile(root.resolve(f.getClass.getSimpleName + ".file"))
      val dir = Files.createDirectory(root.resolve(f.getClass.getSimpleName + ".dir"))
      prep(dir)
      f.setPermission(new Path(file.toUri), perm)
      f.setPermission(new Path(dir.toUri), perm)
      (mode(file), mode(dir))
    }
  }

  test("NIO permissions equal Hadoop's chmod for 0600, 0644, 0700, 0755 and 0777") {
    for (m <- Seq(0x180, 0x1a4, 0x1c0, 0x1ed, 0x1ff)) { // 0600 0644 0700 0755 0777
      val Seq(want, got) = modesAfter(new FsPermission(m.toShort))
      assert(got == want && want == ((m, m)), f"mode $m%o")
    }
  }

  test("a sticky bit, or set-id bits on the target, take Hadoop's own path") {
    // NIO cannot set the sticky bit: it is there only if Hadoop's chmod ran
    val Seq(want, got) = modesAfter(new FsPermission(0x3ff.toShort)) // 01777
    assert(got == want && want == ((0x3ff, 0x3ff)), s"$want vs $got")
    // chmod 0755 keeps a directory's set-group-id bit; an NIO chmod would drop it
    val setgid = (d: JPath) => { assert(new ProcessBuilder("chmod", "g+s", d.toString).start().waitFor() == 0); () }
    val Seq(want2, got2) = modesAfter(new FsPermission(0x1ed.toShort), setgid)
    assert(got2 == want2, s"$want2 vs $got2")
    assert((got2._2 & 0xc00) == 0x400, f"${got2._2}%o: set-group-id dropped") // 02755
  }

  /** Processes this JVM starts while `body` runs (JFR `jdk.ProcessStart`). */
  private def forks(body: => Unit): Int = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val f = Files.createTempFile("forks", ".jfr")
    rec.dump(f)
    rec.close()
    jdk.jfr.consumer.RecordingFile.readAllEvents(f).asScala.count(_.getEventType.getName == "jdk.ProcessStart")
  }

  test("WriteOptions route one DataFrame write to NIO and keep the session's file system") {
    val spark = graft.pipeline.SparkTestSession.spark
    val df = spark.range(10).toDF("x").repartition(4)
    val root = Files.createTempDirectory("nioopts")
    val stockForks = forks(df.write.parquet(root.resolve("stock").toString))
    val nioForks = forks(df.write.options(NioLocalFileSystem.WriteOptions).parquet(root.resolve("nio").toString))
    assert(nioForks == 0)
    // without the native Hadoop library the stock write forks chmod per file
    if (!org.apache.hadoop.util.NativeCodeLoader.isNativeCodeLoaded) assert(stockForks > 0)
    assert(spark.read.parquet(root.resolve("nio").toString).count() == 10)
    val session = FileSystem.get(new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
    assert(!session.isInstanceOf[NioLocalFileSystem])
  }
}
