package graft.operators

import graft.{CacheScope, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Job-count pin for the four checkpointed iterative operators: the
  * number of Spark jobs ONE call starts (the loop's eager work — sizing
  * counts, loop-frame materialization, round checkpoints, Bradley-Terry's
  * per-round scalar fetch — not the caller's action on the result) on a
  * fixed small input. The shared round-loop scaffolding must not add a
  * job to any operator. */
class IterateSpec extends SparkSpec {

  private def edges: DataFrame = spark.range(200)
    .select(col("id").as("s"), ((col("id") * 7) % 100).as("d"))

  /** operator name -> (call, jobs per call) */
  private lazy val calls: Seq[(String, () => DataFrame, Int)] = Seq(
    ("pageRank", () => Graph.pageRank(edges, "s", "d", iterations = 3), 18),
    ("labelPropagation", () => Graph.labelPropagation(edges, "s", "d",
      spark.range(0, 100, 10).select(col("id"), (col("id") % 3).cast("int").as("lbl")),
      "id", "lbl", rounds = 3), 24),
    ("bradleyTerry", () => Rank.bradleyTerry(spark.range(300)
      .select((col("id") % 17).as("w"), ((col("id") * 7 + 3) % 17).as("l"))
      .filter(col("w") =!= col("l")), "w", "l", rounds = 3), 31),
    ("connectedComponents", () => Dedup.connectedComponents(spark.range(63)
      .select(col("id").as("a"), (col("id") + 1).as("b")), "a", "b"), 65))

  for ((name, call, expected) <- calls)
    test(s"$name starts the pinned number of jobs per call") {
      CacheScope.release()
      val out = JobWatch.run(spark)(call())
      assert(out.result.isRight, s"$name failed: ${out.result}")
      CacheScope.release()
      assert(out.jobs == expected, s"$name started ${out.jobs} jobs, pinned $expected")
    }
}
