package graft.bench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.{CacheScope, Engine, SparkEntry}

/** JVM side of the benchmark. `run.py` builds the classpath, launches this
  * once per run and turns the raw records it writes into metrics:
  *
  * {{{
  * graft.bench.Main run <workload> <seed> <seconds> <trace 0|1> <data root> <work dir> <out.json>
  * graft.bench.Main pin <data root> <work dir> <out.json>
  * }}}
  *
  * `pin` fingerprints every browse gate once and dumps its oracle SQL, for
  * `pin.py`.
  */
object Main {

  /** Every workload reads this scale factor's tables. */
  val Sf = "sf0.1"

  /** The browse workload's gates (keys of `SparkEntry.queries`). */
  val BrowseGates: Seq[String] = Seq("q02_filter_predicates", "q03_agg_global", "q04_agg_group",
    "q09_join_enrich", "q16_string_funcs", "q25_avro_roundtrip", "q47_schemaless_json")

  /** After the check pass, browse runs `WarmUpPasses` untimed passes over the
    * small `WarmUpSf` tables, then ceil(seconds / NominalPassSeconds) timed
    * passes: every run does the same work whatever the machine's speed. */
  val WarmUpSf = "sf0.001"
  val WarmUpPasses = 2
  val NominalPassSeconds = 3.5

  /** The pipeline's open loop covers the events of the first
    * ceil(OpenShare * seconds) seconds; its saturation phase runs
    * `SaturatedBatches` batches. */
  val OpenShare = 0.7
  val SaturatedBatches = 8

  def main(args: Array[String]): Unit = args.toList match {
    case "run" :: workload :: seed :: seconds :: trace :: data :: work :: out :: Nil =>
      write(out, run(workload, seed.toLong, seconds.toDouble, trace == "1", data, Paths.get(work)))
    case "pin" :: data :: work :: out :: Nil =>
      write(out, pin(data, Paths.get(work)))
    case _ =>
      System.err.println("usage: graft.bench.Main run <workload> <seed> <seconds> <trace> <data> <work> <out>" +
        " | pin <data> <work> <out>")
      sys.exit(2)
  }

  private def write(out: String, v: Any): Unit =
    Files.write(Paths.get(out), Json.render(v).getBytes(StandardCharsets.UTF_8))

  private def cpus: Int = Runtime.getRuntime.availableProcessors()

  private def session(work: Path) = Engine.session(appName = "graft-benchmark", master = s"local[$cpus]",
    extraConf = Map("spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.local.dir" -> work.resolve("spark-local").toString,
      "spark.sql.warehouse.dir" -> work.resolve("warehouse").toString,
      "spark.sql.streaming.numRecentProgressUpdates" -> "1000"))

  def run(workload: String, seed: Long, seconds: Double, traced: Boolean, data: String,
      work: Path): Map[String, Any] = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val clock = new Clock
    val spark = session(work)
    val trace = if (traced) Some(new Trace(spark)) else None
    val common = Map("workload" -> workload, "seed" -> seed, "seconds" -> seconds, "traced" -> traced,
      "cpus" -> cpus, "jvm_start_ms" -> jvmStart)
    val body: Map[String, Any] = workload match {
      case "browse" =>
        val w = new BatchWorkload(spark, clock, s"$data/$Sf", BrowseGates)
        w.checkPass(cpus)
        w.warmUp(WarmUpPasses, s"$data/$WarmUpSf")
        val ready = clock.nowMs
        w.timedPasses(seed, math.ceil(seconds / NominalPassSeconds).toInt, trace)
        if (traced) w.countPass()
        w.results + ("ready_ms" -> ready)
      case "pipeline" =>
        val w = new PipelineWorkload(spark, clock, s"$data/$Sf", work, seed, cpus)
        w.setUp()
        val ready = clock.nowMs
        val window = math.ceil(OpenShare * seconds).toLong
        w.runPhase("open", saturated = false, trace, record = true,
          stop = (q, c) => w.committedCount(q) >= c.cumulative(window))
        if (traced) w.runPhase("saturated-untraced", saturated = true, None, record = true,
          stop = (q, _) => w.batches(q) >= SaturatedBatches)
        w.runPhase("saturated", saturated = true, trace, record = true,
          stop = (q, _) => w.batches(q) >= SaturatedBatches)
        w.results + ("ready_ms" -> ready) + ("window_seconds" -> window)
      case _ => throw new IllegalArgumentException(s"unknown workload '$workload'")
    }
    val result = common ++ body ++ Map("rss_peak_mb" -> rssPeakMb) ++
      trace.map(t => Map("trace" -> t.records)).getOrElse(Map.empty)
    spark.stop()
    result
  }

  /** Peak resident set of this process (VmHWM), MiB. */
  def rssPeakMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  def pin(data: String, work: Path): Map[String, Any] = {
    val spark = session(work)
    val oracle = SparkEntry.oracleSql
    val out = BrowseGates.map { g =>
      val fp = try Fingerprint.of(SparkEntry.queries(g)(spark, s"$data/$Sf")) finally CacheScope.release()
      g -> Map("workload" -> "browse", "sf" -> Sf, "rows" -> fp.rows, "hash" -> fp.hash,
        "columns" -> fp.columns, "oracle_sql" -> oracle.get(g))
    }
    spark.stop()
    out.toMap
  }
}
