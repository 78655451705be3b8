package graft

import org.apache.spark.sql.SparkSession

/** Session bootstrap for the graft engine.
  *
  * The reference stack (see SURVEY.md §0) runs each engine process in a
  * ~1.3 GB heap and declares per-topic parallelism 1-5
  * (reference: `sample-data/variables.env:4`, `supervisord.templates.d/10-lenses.conf:3`).
  * We map that to one SparkSession tuned for local[32] testing but with
  * settings chosen to survive a 1000-executor cluster:
  *
  *   - AQE on: runtime coalescing + skew-join splitting replaces hand-tuned
  *     partition counts when data volume jumps 100×.
  *   - shuffle.partitions=32 locally (matches cores); on a real cluster this
  *     is overridden by AQE's coalescing from an initial higher value.
  *   - autoBroadcastJoinThreshold raised to 64 MB: every dimension table in
  *     the star schema (region/nation/customer/supplier/part) and the
  *     reference's compacted `telecom_italia_grid` topic (10k rows,
  *     SURVEY.md §4) should broadcast, never shuffle.
  *
  * The local filesystem is replaced: [[graft.io.NioLocalFileSystem]] for the
  * `FileSystem` API, [[graft.io.NioLocalFs]] for FileContext, which Spark's
  * checkpoint file manager uses. Without libhadoop, Hadoop's
  * `RawLocalFileSystem` starts an OS process for every file or directory it
  * creates (`chmod`) and two per FileContext rename (`readlink`, which is
  * handed a `file:` URI and always fails). Every offset-log, commit-log,
  * state-store and file-sink commit pays ~10-20 of them at 3-5 ms each, on
  * the stream thread. One `pipeline` benchmark run (seed 7, 24 s, 4 cores)
  * started 3,774 processes on the stock classes (2,800 `readlink`, 969
  * `chmod`) and 4 on these (Spark's `rm` and `getconf`, Hadoop's one-time
  * `setsid` probe); its `pass_s` median fell from 7.58 to 5.65 s (n=5
  * interleaved pairs). The replacement sets permissions through `java.nio`
  * and skips the `readlink` for paths that are not symlinks; files, `.crc`
  * files, mode bits and renames are unchanged. A status call that asks for
  * a file's permission or owner (`ls -ld`) still forks, but none does on
  * these paths. The two keys are set last, so `extraConf` cannot put the
  * forking filesystem back.
  */
object Engine {
  val ShufflePartitions = 32

  /** Session conf installing the fork-free local filesystem. */
  val LocalFsConf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[graft.io.NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[graft.io.NioLocalFs].getName)

  def session(
      appName: String = "graft",
      master: String = s"local[$ShufflePartitions]",
      extraConf: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession
      .builder()
      .appName(appName)
      .master(master)
      .config("spark.sql.shuffle.partitions", ShufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts is parquet TIMESTAMP(NANOS): without this flag every
      // events-based query crashes on scan (all other entry points set it)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // custom expressions as SQL functions + graft optimizer rules
      .config("spark.sql.extensions", "graft.catalyst.GraftExtensions")
    (extraConf ++ LocalFsConf).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
