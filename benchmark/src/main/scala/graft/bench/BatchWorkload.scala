package graft.bench

import scala.collection.mutable.ArrayBuffer

import graft.{CacheScope, SparkEntry}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A closed loop with one client: each pass runs every gate of the workload
  * once, one at a time, in an order permuted from the seed and the pass
  * number. A gate execution is timed from the gate function's call through
  * the `noop` write of its full result and `CacheScope.release()`.
  *
  * Before the timed passes an untimed check pass runs every gate once and
  * fingerprints its result (`run.py` compares it with the pinned one); it
  * doubles as the warm-up (class loading, code generation, JIT). The traced
  * run pairs an untraced and a traced execution of every gate, so the
  * tracing overhead is measured inside one process, and ends with an
  * untimed `count()` of every gate for the count-versus-materialize report.
  */
final class BatchWorkload(spark: SparkSession, clock: Clock, sfDir: String,
    gates: Seq[String]) {

  private val queries = SparkEntry.queries
  private val executions = ArrayBuffer[Map[String, Any]]()
  private val checks = ArrayBuffer[Map[String, Any]]()
  private val counts = ArrayBuffer[Map[String, Any]]()

  /** Runs every gate once, `threads` at a time, and fingerprints its
    * result. Gates are isolated per thread (table scope tags and
    * `CacheScope` are thread-scoped), so running them side by side only
    * shortens the warm-up. */
  def checkPass(threads: Int): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futures = gates.map { g =>
        pool.submit(new java.util.concurrent.Callable[Map[String, Any]] {
          def call(): Map[String, Any] = {
            val t0 = clock.nowMs
            val (fp, err) =
              try (Some(Fingerprint.of(queries(g)(spark, sfDir))), None)
              catch { case e: Throwable => (None, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")) }
              finally CacheScope.release()
            Map("gate" -> g, "wall_ms" -> (clock.nowMs - t0),
              "rows" -> fp.map(_.rows), "hash" -> fp.map(_.hash), "error" -> err)
          }
        })
      }
      futures.foreach(f => checks += f.get())
    } finally pool.shutdown()
  }

  /** Untimed sequential passes over `dir`'s tables, recorded with negative
    * pass numbers; the check pass alone leaves the JIT half warm. */
  def warmUp(passes: Int, dir: String): Unit =
    (1 to passes).foreach(p => gates.foreach(g => executions += execute(g, -p, None, dir)))

  /** `passes` timed passes. With a trace, every gate runs twice in a pass,
    * untraced and traced back to back (in alternating order), so the
    * overhead comparison sees the same JIT and cache state on both sides. */
  def timedPasses(seed: Long, passes: Int, trace: Option[Trace]): Unit =
    (1 to passes).foreach { pass =>
      System.gc() // each pass starts from the same heap state, outside the timers
      val order = new scala.util.Random(seed * 1000003L + pass).shuffle(gates)
      order.zipWithIndex.foreach { case (g, i) =>
        trace match {
          case None => executions += execute(g, pass, None)
          case Some(t) =>
            val sides = if ((pass + i) % 2 == 0) Seq(false, true) else Seq(true, false)
            sides.foreach { traced =>
              if (traced) t.arm()
              executions += execute(g, pass, if (traced) trace else None)
              if (traced) t.disarm()
            }
        }
      }
    }

  private def execute(g: String, pass: Int, trace: Option[Trace], dir: String = sfDir): Map[String, Any] = {
    val ids = trace.map(t => Seq.fill(4)(t.nextId()))
    def mark(i: Int): Unit = for (t <- trace; s <- ids) t.setSpan(s(i))
    var err: Option[String] = None
    val t0 = clock.nowMs
    var t1, t2 = t0
    var persisted = -1
    try {
      mark(1)
      val df: DataFrame = queries(g)(spark, dir)
      t1 = clock.nowMs
      mark(2)
      df.write.format("noop").mode("overwrite").save()
      t2 = clock.nowMs
    } catch {
      case e: Throwable =>
        err = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
        if (t1 == t0) t1 = clock.nowMs
        t2 = clock.nowMs
    }
    if (trace.isDefined) persisted = spark.sparkContext.getPersistentRDDs.size
    mark(3)
    try CacheScope.release() finally trace.foreach(_.clearSpan())
    val t3 = clock.nowMs
    Map("gate" -> g, "pass" -> pass, "traced" -> trace.isDefined,
      "start" -> t0, "build_end" -> t1, "action_end" -> t2, "end" -> t3,
      "persisted_rdds" -> persisted, "error" -> err) ++
      ids.map(s => Map("span_ids" -> s)).getOrElse(Map.empty)
  }

  /** Untimed `count()` of every gate, for the count-vs-materialize report. */
  def countPass(): Unit = gates.foreach { g =>
    val t0 = clock.nowMs
    val err =
      try { queries(g)(spark, sfDir).count(); None }
      catch { case e: Throwable => Some(e.getClass.getSimpleName) }
      finally CacheScope.release()
    counts += Map("gate" -> g, "count_ms" -> (clock.nowMs - t0), "error" -> err)
  }

  def results: Map[String, Any] =
    Map("executions" -> executions.toSeq, "checks" -> checks.toSeq, "counts" -> counts.toSeq)
}

/** Epoch milliseconds with nanosecond-clock resolution, comparable to the
  * epoch-millisecond timestamps Spark's listener events carry. */
final class Clock {
  private val wall0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def nowMs: Double = wall0 + (System.nanoTime() - nano0) / 1e6
}
