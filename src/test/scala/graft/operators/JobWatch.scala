package graft.operators

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs the calling thread starts inside a block, by a
  * job group unique to the block (broadcast and AQE stage jobs inherit
  * the group from the calling thread). Optionally cancels the group —
  * and every later job in it — when its `cancelAt`-th job starts, which
  * makes the block fail at that point of its job sequence.
  *
  * Listener events arrive asynchronously, so [[run]] ends with a
  * sentinel job in a second group and waits until the listener has seen
  * it: every event of the block was posted before the sentinel's. */
private[operators] object JobWatch {

  final case class Outcome[T](result: Either[Throwable, T], jobs: Int)

  def run[T](spark: SparkSession, cancelAt: Int = 0)(body: => T): Outcome[T] = {
    val sc = spark.sparkContext
    val group = s"jobwatch-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger()
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        if (g == group && jobs.incrementAndGet() == cancelAt)
          sc.cancelJobGroupAndFutureJobs(group)
        else if (g == group + "-end") drained.countDown()
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "JobWatch")
      val result = try Right(body) catch { case t: Throwable => Left(t) }
      sc.setJobGroup(group + "-end", "JobWatch sentinel")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, TimeUnit.SECONDS), "listener never saw the sentinel job")
      Outcome(result, jobs.get())
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
