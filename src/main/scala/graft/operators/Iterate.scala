package graft.operators

import graft.CacheScope
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The engine's iterative contract, shared by [[Graph.pageRank]],
  * [[Graph.labelPropagation]], [[Rank.bradleyTerry]] and
  * [[Dedup.connectedComponents]]: loop frames are sized once and pinned
  * on the per-round join key, so no round re-shuffles or re-sorts them;
  * every round's state is an eager `localCheckpoint` that truncates
  * lineage (on a cluster: reliable checkpointing); the round it replaces
  * is freed only after it has materialized; a failing round frees the
  * live checkpoint; the final one is `trackCheckpoint`ed.
  *
  * The loops free only [[Checkpoint]]s, which only [[checkpoint]] makes:
  * `releaseLocalCheckpoint` frees EVERY `LogicalRDD` leaf of a plan, so
  * handed a caller's plan it would free the caller's blocks. */
object Iterate {

  /** A round state this helper checkpointed and so may free. */
  final class Checkpoint private[Iterate] (val df: DataFrame)

  /** Eagerly checkpoint one round's plan: the only way to make a [[Checkpoint]]. */
  def checkpoint(plan: DataFrame): Checkpoint = new Checkpoint(plan.localCheckpoint())

  /** Partition count for a loop frame: `rows`' row count at
    * `rowsPerTask` rows per task, capped at the session's shuffle
    * parallelism, floored at 1 — then PINNED for every round (explicit
    * counts are exempt from AQE coalescing). A fixed
    * `spark.sql.shuffle.partitions` would do the opposite at both
    * extremes: a 6k-edge gate graph would pay 32-task scheduling
    * overhead per tiny stage, and a cluster run would under-partition.
    * The one count() is a scan the first round would pay anyway. */
  def partitions(rows: DataFrame, rowsPerTask: Long): Int = {
    val sessionP = rows.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    math.max(1, math.min(sessionP, ((rows.count() + rowsPerTask - 1) / rowsPerTask).toInt))
  }

  /** `df` partitioned and sorted on `key`, cached: a round's join on `key`
    * reads it with no Exchange or Sort on its side. The caller holds it
    * ([[CacheScope.retained]]) or, if its result reads it, `track`s it. */
  def pin(df: DataFrame, p: Int, key: String): DataFrame =
    df.repartition(p, col(key)).sortWithinPartitions(key).cache()

  /** `n` rounds after `init`. `view` maps each checkpoint to the next
    * round's state (a projection, e.g. Bradley-Terry's normalized γ).
    * Returns the final state. */
  def rounds(init: Checkpoint, n: Int, view: DataFrame => DataFrame = identity)(
      round: DataFrame => Checkpoint): DataFrame =
    loop(init, view, round)((_, k) => k < n)

  /** Rounds after `init` until one reports `changed == 0`; throws past
    * `maxRounds`, since unconverged state is wrong state. */
  def fixpoint(init: Checkpoint, maxRounds: Int, what: String)(
      round: DataFrame => Checkpoint)(changed: DataFrame => Long): DataFrame =
    loop(init, identity, round) { (cp, k) =>
      val again = k == 0 || changed(cp) > 0
      if (again && k == maxRounds) throw new IllegalStateException(
        s"$what did not converge in $maxRounds rounds; raise maxRounds")
      again
    }

  private def loop(init: Checkpoint, view: DataFrame => DataFrame,
      round: DataFrame => Checkpoint)(more: (DataFrame, Int) => Boolean): DataFrame = {
    var live = init
    try {
      var state = view(live.df)
      var k = 0
      while (more(live.df, k)) {
        val next = round(state)
        CacheScope.releaseLocalCheckpoint(live.df)
        live = next
        state = view(live.df)
        k += 1
      }
      CacheScope.trackCheckpoint(live.df)
      state
    } catch {
      case t: Throwable => CacheScope.releaseLocalCheckpoint(live.df); throw t
    }
  }
}
