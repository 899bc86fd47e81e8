package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, udf}

/** `SparkEntry.runStream` owns a memory-sink stream's ephemeral
  * checkpoint: whatever the stream does, the `ckptBySink` entry and the
  * directory are gone once the helper returns or throws. */
class StreamRunSpec extends SparkSpec {

  private def newSink(): String =
    "runstream_spec_" + java.util.UUID.randomUUID().toString.replace("-", "")

  test("runStream drops the checkpoint entry, its directory and the " +
      "sink view when a batch throws mid-stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sink = newSink()
    val input = MemoryStream[Long]
    val poison = udf { (v: Long) =>
      if (v < 0) throw new IllegalStateException(s"poison row $v")
      v
    }
    var ckpt: java.nio.file.Path = null
    val e = intercept[Exception] {
      SparkEntry.runStream(spark, sink) {
        ckpt = SparkEntry.streamCkptFor(sink)
        val q = input.toDF().select(poison(col("value")).as("v"))
          .writeStream.format("memory").queryName(sink)
          .option("checkpointLocation", ckpt.toString)
          .start()
        // one clean batch commits first, so the checkpoint directory
        // holds real offset/commit logs when the next batch fails
        input.addData(1L, 2L)
        q.processAllAvailable()
        assert(java.nio.file.Files.isDirectory(ckpt.resolve("commits")))
        input.addData(3L, -1L)
        q
      }
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("poison row -1"))),
      s"unexpected failure: $e")
    assert(!SparkEntry.ckptBySink.containsKey(sink))
    assert(ckpt != null && !java.nio.file.Files.exists(ckpt),
      s"checkpoint dir survived the failed stream: $ckpt")
    assert(!spark.catalog.tableExists(sink))
    assert(!spark.streams.active.exists(_.name == sink))
  }

  test("runStream keeps the sink view for the drain and drops the " +
      "checkpoint after a clean run") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sink = newSink()
    val input = MemoryStream[Long]
    input.addData(1L, 2L, 3L)
    var ckpt: java.nio.file.Path = null
    SparkEntry.runStream(spark, sink) {
      ckpt = SparkEntry.streamCkptFor(sink)
      input.toDF().writeStream.format("memory").queryName(sink)
        .option("checkpointLocation", ckpt.toString)
        .start()
    }
    assert(!SparkEntry.ckptBySink.containsKey(sink))
    assert(!java.nio.file.Files.exists(ckpt))
    assert(spark.table(sink).as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L))
    spark.catalog.dropTempView(sink)
  }
}
