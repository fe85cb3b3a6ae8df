package graft.streaming

import graft.{Queries, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Gates for the judged persisted streaming query
  * (`q_stream_tumbling_sink`): sink read-back equals the batch twin
  * bit-for-bit, the pipeline is genuinely incremental (multi-batch via
  * maxFilesPerTrigger, day-2 files picked up by a checkpoint-resumed run
  * WITHOUT reprocessing day-1), and replay is exactly-once (an idle
  * restart changes nothing). */
class StreamSinkSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def canon(df: org.apache.spark.sql.DataFrame) =
    df.select(col("wstart_us").cast("long"), col("event_type"),
      col("n").cast("long"), col("sum_val").cast("double"))
      .as[(Long, String, Long, Double)].collect().sorted.toSeq

  test("sink read-back equals the batch tumbling twin") {
    val stream = canon(Queries.queries("q_stream_tumbling_sink")(spark, TestSpark.sf))
    val batch = canon(Queries.queries("q_stream_tumbling")(spark, TestSpark.sf))
    assert(stream.nonEmpty && stream == batch)
  }

  test("incremental day-2 catch-up + exactly-once idle restart") {
    val root = s"/tmp/graft_stream_sink_spec/${java.util.UUID.randomUUID()}"
    val src = s"$root/src"; val out = s"$root/out"; val ckpt = s"$root/ckpt"
    // stage the events table as 4 parquet files in a side dir
    val staged = s"$root/staged"
    graft.io.Tables.events(spark, TestSpark.sf).repartition(4)
      .write.parquet(staged)
    val files = new java.io.File(staged).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(files.length == 4)
    def shipFiles(fs: Seq[java.io.File]): Unit = {
      new java.io.File(src).mkdirs()
      fs.foreach { f =>
        java.nio.file.Files.copy(f.toPath,
          java.nio.file.Paths.get(src, f.getName))
      }
    }
    // day 1: two files, one file per micro-batch
    shipFiles(files.take(2))
    val day1 = canon(StreamSink.tumblingViaSink(spark, src, out, ckpt,
      maxFilesPerTrigger = Some(1)))
    val nBatches1 = new java.io.File(s"$ckpt/offsets").listFiles()
      .count(f => f.getName.forall(_.isDigit))
    assert(nBatches1 >= 2, s"per-file batching must yield >=2 batches, got $nBatches1")
    assert(day1.nonEmpty)
    // day 2: remaining files appear; the RESUMED stream (same checkpoint)
    // processes only the new files and upserts the changed windows
    shipFiles(files.drop(2))
    val day2 = canon(StreamSink.tumblingViaSink(spark, src, out, ckpt,
      maxFilesPerTrigger = Some(1)))
    val batchAll = canon(Queries.queries("q_stream_tumbling")(spark, TestSpark.sf))
    assert(day2 == batchAll, "checkpoint-resumed catch-up must equal full batch")
    val nBatches2 = new java.io.File(s"$ckpt/offsets").listFiles()
      .count(f => f.getName.forall(_.isDigit))
    assert(nBatches2 >= nBatches1 + 2 && nBatches2 <= nBatches1 + 3,
      s"day-2 must append ~2 file-batches (got $nBatches1 -> $nBatches2), not reprocess day 1")
    // idle restart: no new files -> sink unchanged (exactly-once replay)
    val day3 = canon(StreamSink.tumblingViaSink(spark, src, out, ckpt,
      maxFilesPerTrigger = Some(1)))
    assert(day3 == batchAll)
  }

  test("GRAFT_STREAM_SHUFFLE_PARTITIONS accepts a positive count, rejects anything else") {
    assert(StreamSink.shufflePartitionsOverride("8") == 8)
    assert(StreamSink.shufflePartitionsOverride(" 12 ") == 12)
    for (bad <- Seq("0", "-3", "eight", "", "2.5", "99999999999")) {
      val e = intercept[IllegalArgumentException](StreamSink.shufflePartitionsOverride(bad))
      assert(e.getMessage.contains("GRAFT_STREAM_SHUFFLE_PARTITIONS") &&
        e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }
}
