package graft.ops

import graft.pipeline.SparkTestSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

class ParSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("Par.fan starts no job over an aggregated input (the plan is only being defined)") {
    val agg = spark.range(0, 1000, 1, 2).groupBy((col("id") % 7).as("k")).count()
    val jobs = new AtomicInteger()
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == "par-fan-marker") marker.countDown()
        else jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val fanned = Par.fan(agg)
      // a marker job after the call: events arrive in order, so once its
      // start is seen every job the call started has been counted
      sc.setJobGroup("par-fan-marker", "marker")
      sc.parallelize(Seq(1), 1).count()
      sc.clearJobGroup()
      assert(marker.await(30, TimeUnit.SECONDS))
      assert(jobs.get == 0, s"Par.fan started ${jobs.get} job(s)")
      assert(fanned.count() == 7)
    } finally sc.removeSparkListener(listener)
  }
}
