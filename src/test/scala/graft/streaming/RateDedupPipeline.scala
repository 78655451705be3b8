package graft.streaming

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Test fixture: a named, checkpointed processor over `graft-rate` in
  * deterministic mode (`advancePerBatchSeconds`), deduplicating key
  * `k = seq >> 1` within a 10 s watermark into an append-mode parquet sink.
  * Events `2k` and `2k+1` are microseconds apart, so whatever the batch
  * boundaries the sink holds each key of the committed range exactly once. */
object RateDedupPipeline {

  def options(advancePerBatchSeconds: Int): Map[String, String] = Map(
    "rowsPerSecond" -> "400", "jitter" -> "40", "periodSeconds" -> "0", "seed" -> "7",
    "numPartitions" -> "2", "advancePerBatchSeconds" -> advancePerBatchSeconds.toString)

  def start(spark: SparkSession, pipes: Pipelines, name: String, sink: Path,
      opts: Map[String, String]): StreamingQuery =
    pipes.start(name,
      spark.readStream.format("graft-rate").options(opts).load()
        .withColumn("k", shiftright(col("seq"), 1))
        .withWatermark("ts", "10 seconds")
        .dropDuplicatesWithinWatermark("k")
        .select("k", "ts"),
      w => w.format("parquet").option("path", sink.toString).outputMode("append"))

  /** Waits until this run of `q` has completed `n` batches. */
  def awaitBatches(q: StreamingQuery, n: Int, timeoutMs: Long = 120000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (q.recentProgress.length < n && q.isActive && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    q.exception.foreach(e => throw e)
    require(q.recentProgress.length >= n, s"${q.name} ran ${q.recentProgress.length} of $n batches")
  }

  /** `(count, seconds)` at the end of the last batch the sink committed: the
    * highest batch id in the file sink's metadata log, looked up in the
    * checkpoint's offset log (`graft-rate` offsets are `count:seconds`). */
  def committedEnd(sink: Path, checkpoint: String): (Long, Long) = {
    val ids = Files.list(sink.resolve("_spark_metadata")).iterator().asScala
      .map(_.getFileName.toString.stripSuffix(".compact")).filter(_.forall(_.isDigit))
      .map(_.toLong).toSeq
    val offset = Files.readAllLines(Path.of(checkpoint, "offsets", ids.max.toString)).asScala.last
    val Array(count, seconds) = offset.trim.stripPrefix("\"").stripSuffix("\"").split(":")
    (count.toLong, seconds.toLong)
  }
}
