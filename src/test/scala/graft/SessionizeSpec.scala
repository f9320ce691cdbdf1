package graft

import graft.pipeline.SparkTestSession
import java.time.LocalDateTime
import org.scalatest.funsuite.AnyFunSuite

/** q08 starts a new session after a gap of MORE than 1800 s, measured in
  * fractional seconds like its oracle (`epoch(ts) - epoch(prev_ts) > 1800`).
  * The fixture's gaps sit at 1799.5, 1800.0 and 1800.5 s with fractional
  * parts placed so that truncating both timestamps to whole seconds gives
  * the wrong count for user 1.
  */
class SessionizeSpec extends AnyFunSuite {

  private val t0 = LocalDateTime.of(2024, 1, 1, 0, 0, 0)
  private def at(sec: Double) = t0.plusNanos(math.round(sec * 1e9))

  // (user, seconds after t0)
  private val events = Seq(
    1L -> 0.2, 1L -> 1800.7, 1L -> 3600.2, 1L -> 5400.2, // gaps 1800.5, 1799.5, 1800.0
    2L -> 0.7, 2L -> 1800.2,                             // gap 1799.5
    3L -> 0.9, 3L -> 1801.4,                             // gap 1800.5
    4L -> 42.0)

  test("q08 compares fractional-second gaps with 1800 s, like its oracle") {
    // whole-second truncation reads every gap of user 1 as exactly 1800 s
    val u1 = events.filter(_._1 == 1L).map(_._2)
    assert(u1.sliding(2).count { case Seq(a, b) => math.floor(b) - math.floor(a) > 1800 } == 0)

    val spark = SparkTestSession.spark
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("q08-events").toString
    events.zipWithIndex.map { case ((user, sec), i) =>
      (i.toLong, at(sec), user, "click", 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/events.parquet")

    val got = SparkEntry.queries("q08_sessionize_events")(spark, dir).collect()
      .map(r => r.getAs[Long]("user_id") -> (r.getAs[Long]("n_sessions"), r.getAs[Long]("n_events")))
      .toMap
    assert(got == Map(1L -> (2L, 4L), 2L -> (1L, 2L), 3L -> (2L, 2L), 4L -> (1L, 1L)))
  }
}
