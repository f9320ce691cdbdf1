package graft

import graft.pipeline.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** `SparkEntry` keeps one table handle per (session, table) across query
  * calls; a table rewritten in between must be read again. */
class TableMemoSpec extends AnyFunSuite {

  test("a table rewritten mid-session is read with its new rows") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("table-memo").toString
    def writeLineitem(rows: Seq[(String, String, Double)]): Unit =
      rows.map { case (flag, status, qty) => (flag, status, qty, 10.0, 0.1) }
        .toDF("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice", "l_discount")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    def q01 = SparkEntry.queries("q01_pricing_summary")(spark, dir).collect()
      .map(r => (r.getAs[String]("l_returnflag"), r.getAs[Long]("n"))).toSeq

    writeLineitem(Seq(("A", "F", 1.0), ("A", "F", 2.0)))
    assert(q01 == Seq(("A", 2L)))
    assert(q01 == Seq(("A", 2L))) // served from the memo
    writeLineitem(Seq(("N", "O", 1.0), ("R", "F", 1.0), ("R", "F", 3.0)))
    assert(q01 == Seq(("N", 1L), ("R", 2L)))
  }
}
