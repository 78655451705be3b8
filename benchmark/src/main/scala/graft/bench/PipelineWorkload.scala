package graft.bench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.CacheScope
import graft.formats.{AvroEncodeWire, AvroFunctions}
import graft.registry.{AvroSchemaConverter, SchemaRegistry}
import graft.sources.RateConf
import graft.streaming.{Pipelines, SqlProcessors}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** One continuous SQL processor, run in three phases on fresh checkpoints:
  *
  *  - warm-up (part of set-up): two saturated batches, discarded;
  *  - open loop: the `graft-rate` generator paced in real time at
  *    [[PipelineWorkload.Rate]] rows/s with seeded ±10% jitter, until every
  *    event created in the first `seconds` seconds is committed to the sink;
  *  - saturation: the same query with `advancePerBatchSeconds`, so every
  *    trigger finds a full second of input waiting, for a fixed number of
  *    batches.
  *
  * Each phase records when its query was built and started, when its stop
  * condition held, when the query had stopped, and `CacheScope.release()`
  * after it, the lifecycle a batch gate's build/action/release spans map to.
  *
  * The processor joins each event to the broadcast `customer` dimension,
  * drops duplicates under a watermark (events `2k` and `2k+1` share key `k`
  * and are created microseconds apart, far inside the 10 s watermark, so the
  * sink holds one row per key whatever the batch boundaries), encodes the
  * value with `to_avro_wire` under a registered subject and appends to a
  * parquet sink. Sink rows are functions of the key alone, so the sink
  * content of a committed offset range is known exactly.
  */
final class PipelineWorkload(spark: SparkSession, clock: Clock, sfDir: String,
    workDir: Path, seed: Long, cpus: Int) {
  import PipelineWorkload._

  private val registry = new SchemaRegistry
  private val pipelines = new Pipelines(workDir.resolve("checkpoints").toString)
  private val processors = new SqlProcessors(spark, pipelines)
  private var customers = 0L
  private val phases = ArrayBuffer[Map[String, Any]]()
  private var tracedPhases = 0

  def setUp(): Unit = {
    val dim = spark.read.parquet(s"$sfDir/customer.parquet")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"), col("c_acctbal").cast("double"))
    // Keys are dense from 0; were they not, the inner join would drop rows
    // and the sink check would count them.
    customers = dim.count()
    processors.registerSource("customer_dim", dim)
    val valueType = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("c_custkey", LongType, nullable = false),
      StructField("c_name", StringType), StructField("c_mktsegment", StringType),
      StructField("c_acctbal", DoubleType)))
    val reg = registry.register(Subject, AvroSchemaConverter.toAvroSchema(valueType, "enriched").toString)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.functionRegistry
      .createOrReplaceTempFunction("to_avro_wire",
        exprs => AvroEncodeWire(exprs.head, reg.id, reg.schemaJson), "scala_udf")
    runPhase("warmup", saturated = true, traced = None, record = false, stop = (q, _) => batches(q) >= 2)
  }

  private def sourceOptions(saturated: Boolean): Map[String, String] = Map(
    "rowsPerSecond" -> Rate.toString, "jitter" -> (Rate / 10).toString,
    "periodSeconds" -> "0", "seed" -> seed.toString, "numPartitions" -> cpus.toString) ++
    (if (saturated) Map("advancePerBatchSeconds" -> SaturatedSecondsPerBatch.toString) else Map.empty)

  private def start(name: String, opts: Map[String, String]): StreamingQuery = {
    val events = spark.readStream.format("graft-rate").options(opts).load()
      .withColumn("k", shiftright(col("seq"), 1))
      .withColumn("cust", pmod(col("k"), lit(customers)))
      .withWatermark("ts", "10 seconds")
      .dropDuplicatesWithinWatermark("k")
    processors.registerSource("rate_events", events)
    processors.submit(name,
      """INSERT INTO enriched
        |SELECT /*+ BROADCAST(c) */ e.k, c.c_custkey,
        |  to_avro_wire(named_struct('k', e.k, 'c_custkey', c.c_custkey, 'c_name', c.c_name,
        |    'c_mktsegment', c.c_mktsegment, 'c_acctbal', c.c_acctbal)) AS payload
        |FROM rate_events e JOIN customer_dim c ON c.c_custkey = e.cust""".stripMargin,
      targetPath = Some(sinkDir(name).toString))
  }

  private def sinkDir(name: String): Path = workDir.resolve("sink").resolve(name)
  def batches(q: StreamingQuery): Long = Option(q.lastProgress).map(_.batchId + 1).getOrElse(0L)
  def committedCount(q: StreamingQuery): Long =
    Option(q.lastProgress).flatMap(p => p.sources.headOption).map(s => parseOffset(s.endOffset)._1).getOrElse(0L)

  /** Runs one phase to its stop condition and records its progress events,
    * committed offsets and sink check. */
  def runPhase(name: String, saturated: Boolean, traced: Option[Trace], record: Boolean,
      stop: (StreamingQuery, RateConf) => Boolean): Unit = {
    val opts = sourceOptions(saturated)
    val c = RateConf(opts)
    val phaseSpan = traced.map { t => t.arm(); val id = t.nextId(); t.setSpan(id); id }
    val t0 = clock.nowMs
    val q = try start(name, opts) finally traced.foreach(_.clearSpan())
    val started = clock.nowMs
    val deadline = System.nanoTime() + PhaseTimeoutSec * 1000000000L
    var error: Option[String] = None
    var stopping = 0.0
    try {
      while (!stop(q, c) && q.isActive && System.nanoTime() < deadline) Thread.sleep(10)
      if (!q.isActive) error = q.exception.map(_.getMessage).orElse(Some("query stopped"))
      else if (!stop(q, c)) error = Some(s"phase did not finish within $PhaseTimeoutSec s")
    } finally {
      stopping = clock.nowMs
      pipelines.stop(name)
    }
    val stopped = clock.nowMs
    CacheScope.release()
    val t1 = clock.nowMs
    val progress = q.recentProgress.map(p => Json.RawJson(p.json)).toSeq
    traced.foreach { t => tracedPhases += 1; t.awaitTerminated(tracedPhases); t.disarm() }
    if (record) {
      val (endCount, endSeconds) = committedEnd(name)
      phases += Map("phase" -> name, "saturated" -> saturated, "span_id" -> phaseSpan,
        "start" -> t0, "started" -> started, "stopping" -> stopping, "stopped" -> stopped, "end" -> t1,
        "error" -> error,
        "committed_count" -> endCount, "committed_seconds" -> endSeconds,
        "schedule_count" -> c.cumulative(endSeconds),
        "rates" -> (0L to endSeconds + 120).map(c.rateAt),
        "sink" -> sinkCheck(name, endCount), "progress" -> progress)
    }
  }

  /** The end offset of the last batch the sink committed, read from the
    * file sink's metadata log and the checkpoint's offset log. */
  private def committedEnd(name: String): (Long, Long) = {
    val meta = sinkDir(name).resolve("_spark_metadata")
    val ids = if (Files.isDirectory(meta)) Files.list(meta).iterator().asScala
      .map(_.getFileName.toString.stripSuffix(".compact")).filter(_.forall(_.isDigit)).map(_.toLong).toSeq
      else Seq.empty
    if (ids.isEmpty) (0L, 0L)
    else {
      val offsetFile = Path.of(pipelines.checkpointDir(name), "offsets", ids.max.toString)
      parseOffset(Files.readAllLines(offsetFile).asScala.last.trim)
    }
  }

  /** Every key of the committed range appears exactly once, each row joined
    * to its customer, and each payload decodes to the row's own key. */
  private def sinkCheck(name: String, endCount: Long): Map[String, Any] = {
    val expectedKeys = (endCount + 1) / 2
    if (endCount == 0) return Map("expected_keys" -> 0L, "rows" -> 0L, "bad_rows" -> 0L)
    val rows = spark.read.parquet(sinkDir(name).toString)
      .withColumn("v", AvroFunctions.fromAvroRegistry(col("payload"), registry, Subject))
    val r = rows.agg(count(lit(1)), countDistinct(col("k")), min(col("k")), max(col("k")),
      sum(when(col("v.k") =!= col("k") || col("v.c_custkey") =!= col("c_custkey") ||
        col("c_custkey") =!= pmod(col("k"), lit(customers)), 1).otherwise(0))).head()
    val n = r.getLong(0)
    val distinct = r.getLong(1)
    val inRange = n == 0 || (r.getLong(2) == 0L && r.getLong(3) == expectedKeys - 1)
    val bad = math.abs(n - expectedKeys) + (n - distinct) + r.getLong(4) +
      (if (inRange) 0L else expectedKeys)
    Map("expected_keys" -> expectedKeys, "rows" -> n, "distinct_keys" -> distinct, "bad_rows" -> bad)
  }

  def results: Map[String, Any] = Map("phases" -> phases.toSeq, "rate" -> Rate)
}

object PipelineWorkload {
  val Rate = 25000
  val SaturatedSecondsPerBatch = 4
  val Subject = "enriched-value"
  val PhaseTimeoutSec = 90L

  /** `graft-rate` offsets are `count:seconds`. */
  def parseOffset(s: String): (Long, Long) = {
    val p = s.trim.stripPrefix("\"").stripSuffix("\"").split(":")
    (p(0).toLong, if (p.length > 1) p(1).toLong else 0L)
  }
}
