package graft.bench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder. It attaches Spark's public listeners (a
  * SparkListener, a QueryExecutionListener and a StreamingQueryListener)
  * only while armed, keeps every event in memory, and hands the raw records
  * to `run.py`, which builds the span tree and computes self times.
  *
  * Each timed span sets its id as the thread's `graft.bench.span` local
  * property, so the jobs it submits carry the id of the span that caused
  * them. Catalyst phases arrive without that property; `run.py` places them
  * in the bench span whose interval contains them (one client, one query at
  * a time).
  */
final class Trace(spark: SparkSession) {
  import Trace._

  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0L)
  def nextId(): Long = ids.incrementAndGet()

  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val queryExecutions = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val progress = new ConcurrentLinkedQueue[String]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Seq[Int])]()
  private val stageTasks = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Long]]()
  private val seenExecEnds = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
  private val flushExec = new java.util.concurrent.ConcurrentHashMap[String, Long]()
  @volatile private var terminated = 0

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty(SpanKey))).getOrElse("")
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(x => if (span.startsWith("flush-")) flushExec.put(span, x.toLong))
      jobStarts.put(e.jobId, (e.time, span, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { case (t0, span, stageIds) =>
        if (!span.startsWith("flush-")) jobs.add(Map("job" -> e.jobId, "span" -> span,
          "start" -> t0, "end" -> e.time, "stages" -> stageIds,
          "ok" -> (e.jobResult == JobSucceeded)))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null && info != null) {
        val a = stageTasks.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new Array[Long](TaskFields.length))
        a.synchronized {
          a(0) += 1
          a(1) += m.executorRunTime
          a(2) += m.executorCpuTime / 1000000L
          a(3) += m.jvmGCTime
          a(4) += m.executorDeserializeTime
          a(5) += info.finishTime - info.launchTime
          a(6) += m.shuffleWriteMetrics.bytesWritten
          a(7) += m.shuffleReadMetrics.totalBytesRead
          a(8) += m.shuffleReadMetrics.fetchWaitTime
          a(9) += m.diskBytesSpilled
          a(10) += (if (info.failed) 1 else 0)
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val a = Option(stageTasks.remove((s.stageId, s.attemptNumber())))
        .getOrElse(new Array[Long](TaskFields.length))
      stages.add(Map("stage" -> s.stageId, "attempt" -> s.attemptNumber(),
        "submit" -> s.submissionTime.getOrElse(0L), "complete" -> s.completionTime.getOrElse(0L),
        "failed" -> s.failureReason.isDefined) ++ TaskFields.zip(a.toSeq))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionEnd => seenExecEnds.add(x.executionId)
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(func: String, qe: QueryExecution, ok: Boolean): Unit = {
      val phases = qe.tracker.phases.map { case (k, p) => k -> Seq(p.startTimeMs, p.endTimeMs) }
      queryExecutions.add(Map("func" -> func, "ok" -> ok, "phases" -> phases))
    }
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
      record(func, qe, ok = true)
    override def onFailure(func: String, qe: QueryExecution, exception: Exception): Unit =
      record(func, qe, ok = false)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress.json)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      synchronized { terminated += 1 }
  }

  def arm(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Waits until every event posted so far has reached the listeners, then
    * detaches them. A tagged one-row job is the marker: the query listener
    * sits on the same listener queue and is called first for each event, so
    * once the marker's SQL execution has ended here, everything before it
    * has been delivered. */
  def disarm(): Unit = {
    val tag = s"flush-${nextId()}"
    sc.setLocalProperty(SpanKey, tag)
    try spark.range(1).write.format("noop").mode("overwrite").save()
    finally sc.setLocalProperty(SpanKey, null)
    val deadline = System.nanoTime() + 20L * 1000000000L
    def done = Option(flushExec.get(tag)).exists(seenExecEnds.contains(_))
    while (!done && System.nanoTime() < deadline) Thread.sleep(5)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Waits for `n` streaming queries in total to report termination, so
    * their last progress events are in. */
  def awaitTerminated(n: Int): Unit = {
    val deadline = System.nanoTime() + 20L * 1000000000L
    while (synchronized(terminated) < n && System.nanoTime() < deadline) Thread.sleep(5)
  }

  def setSpan(id: Long): Unit = sc.setLocalProperty(SpanKey, id.toString)
  def clearSpan(): Unit = sc.setLocalProperty(SpanKey, null)

  def records: Map[String, Any] = Map(
    "jobs" -> jobs.asScala.toSeq,
    "stages" -> stages.asScala.toSeq,
    "query_executions" -> queryExecutions.asScala.toSeq,
    "progress" -> progress.asScala.toSeq.map(Json.RawJson))
}

object Trace {
  val SpanKey = "graft.bench.span"
  val TaskFields: Seq[String] = Seq("tasks", "run_ms", "cpu_ms", "gc_ms", "deser_ms",
    "task_wall_ms", "shuffle_write_bytes", "shuffle_read_bytes", "fetch_wait_ms",
    "spill_bytes", "failed_tasks")
}
