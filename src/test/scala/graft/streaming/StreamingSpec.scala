package graft.streaming

import graft.pipeline.{SparkTestSession, Transcripts, Turn}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("streaming windowed event counts equal the batch result") {
    val batchEvents = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val streamEvents = spark.readStream
      .schema(batchEvents.schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet("/root/testdata/sf0.001")
    val q = StreamingIngest.windowedEventCounts(streamEvents)
      .writeStream.format("memory").queryName("win_out").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("win_out").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val want = StreamingIngest.windowedEventCounts(batchEvents).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("streaming NER tags a turn stream (stateless closure reuse)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Turn]
    val model = graft.ner.NerModels.default(spark)
    // stateless mapPartitions tagging applies to a turn stream as-is: same
    // broadcast model, same closure as the batch Tagger
    val q = graft.ner.Tagger.mentions(input.toDS(), model)
      .writeStream.format("memory").queryName("mention_out").outputMode("append").start()
    try {
      input.addData(Transcripts.turn(42L, 1L, 0), Transcripts.turn(42L, 1L, 1), Transcripts.turn(42L, 2L, 0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("mention_out").collect()
    assert(got.nonEmpty, "expected at least one mention from streamed turns")
  }

  test("streaming exact dedup: cross-batch state drops repeats, first-wins within a batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = StreamingIngest.streamingDedup(input.toDS())
      .writeStream.format("memory").queryName("dedup_out").outputMode("append").start()
    try {
      // batch 1: duplicate inside the batch (first doc_id wins)
      input.addData((2L, "same text"), (1L, "same text"), (3L, "other text"))
      q.processAllAvailable()
      // batch 2: duplicate of an EARLIER batch (state carries across batches)
      input.addData((4L, "same text"), (5L, "fresh text"), (6L, "OTHER TEXT")) // case-insensitive key
      q.processAllAvailable()
    } finally q.stop()
    val kept = spark.table("dedup_out").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 5L), s"kept $kept")
  }

  test("stateful conversation assembly emits on timeout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Turn]
    val q = StreamingIngest.assembleConversations(input.toDS(), timeoutMs = 10)
      .writeStream.format("memory").queryName("asm_out").outputMode("append").start()
    // NOTE: no processAllAvailable here — with ProcessingTimeTimeout the
    // engine busy-loops timeout-check batches and processAllAvailable never
    // observes a quiescent stream. Poll the sink with a deadline instead.
    var rows = Array.empty[org.apache.spark.sql.Row]
    try {
      input.addData(Transcripts.turn(42L, 5L, 1), Transcripts.turn(42L, 5L, 0))
      val deadline = System.currentTimeMillis() + 120000
      while (System.currentTimeMillis() < deadline &&
          !rows.exists(_.getString(0) == "conv00000005")) {
        Thread.sleep(500)
        rows = spark.table("asm_out").collect()
      }
    } finally q.stop()
    assert(rows.exists(_.getString(0) == "conv00000005"), s"got ${rows.mkString(";")}")
    val asm = rows.find(_.getString(0) == "conv00000005").get
    assert(asm.getInt(1) == 2)
    // turns concatenated in turn_idx order despite out-of-order arrival
    val texts = Seq(Transcripts.turn(42L, 5L, 0).text, Transcripts.turn(42L, 5L, 1).text)
    assert(asm.getString(2) == texts.mkString("\n"))
  }
}
