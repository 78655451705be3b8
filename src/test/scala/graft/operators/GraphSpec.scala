package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("pageRank: hand-computed integer recurrence on a 3-node graph") {
    // a -> b, a -> c, b -> c, c -> a  (deg: a=2, b=1, c=1)
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L)).toDF("s", "d")
    def run(iters: Int): Map[Long, Long] =
      Graph.pageRank(edges, "s", "d", iterations = iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // round 1 from r=1_000_000 each:
    //   S(a)=r(c)/1 = 1_000_000          -> 150_000 + 850_000 = 1_000_000
    //   S(b)=r(a) div 2 = 500_000        -> 150_000 + 425_000 = 575_000
    //   S(c)=r(a) div 2 + r(b) = 1_500_000 -> 150_000 + 1_275_000 = 1_425_000
    assert(run(1) == Map(1L -> 1000000L, 2L -> 575000L, 3L -> 1425000L))
    // round 2 replays the same rule from round 1's values:
    //   S(a)=1_425_000            -> 150_000 + (85*1_425_000) div 100 = 1_361_250
    //   S(b)=1_000_000 div 2      -> 150_000 + 425_000 = 575_000
    //   S(c)=500_000 + 575_000    -> 150_000 + (85*1_075_000) div 100 = 1_063_750
    assert(run(2) == Map(1L -> 1361250L, 2L -> 575000L, 3L -> 1063750L))
    graft.CacheScope.release()
  }

  test("pageRank: mass conserved up to integral-division leak; dangling node absorbs") {
    // include a dangling node 4 (in-edges only): its rank leaks each round
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L)).toDF("s", "d")
    val iters = 6
    val out = Graph.pageRank(edges, "s", "d", iterations = iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L))
    val total = out.values.sum
    // never above the initial mass; leak bounded (loosely) by the dangling
    // node's absorbed share plus per-edge rounding
    assert(total <= 4L * 1000000L)
    assert(out(4L) >= 150000L, "dangling node keeps at least the base share")
    assert(out.values.forall(_ >= 150000L), "base share is a floor for every node")
    graft.CacheScope.release()
  }

  test("pageRank: deterministic under repartitioning") {
    val edges = (1 to 200).flatMap(i =>
      Seq((i.toLong, ((i * 7) % 200 + 1).toLong), (i.toLong, ((i * 13) % 200 + 1).toLong)))
      .toDF("s", "d")
    val a = Graph.pageRank(edges, "s", "d", 5).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val b = Graph.pageRank(edges.repartition(7), "s", "d", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(a == b)
    graft.CacheScope.release()
  }

  test("labelPropagation: BFS-like spread, frozen seeds, min-label ties, unreached stays null") {
    // path 1 -> 2 -> 3 -> 4 (edges point AT the next node's neighbor set:
    // node v votes from its OUT-neighbors), seed at node 4; node 5 isolated
    // receiver chain never reached by any labeled neighbor.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L)).toDF("s", "d")
    val seeds = Seq((4L, 7)).toDF("id", "lbl")
    def run(rounds: Int): Map[Long, (Option[Int], Int)] =
      Graph.labelPropagation(edges, "s", "d", seeds, "id", "lbl", rounds)
        .collect().map(r => r.getLong(0) ->
          ((if (r.isNullAt(1)) None else Some(r.getInt(1))), r.getInt(2))).toMap
    val r1 = run(1)
    assert(r1(4L) == (Some(7), 1) && r1(3L) == (Some(7), 0), "one hop after round 1")
    assert(r1(2L)._1.isEmpty && r1(1L)._1.isEmpty)
    val r3 = run(3)
    assert(r3(1L) == (Some(7), 0) && r3(2L) == (Some(7), 0) && r3(3L) == (Some(7), 0))
    assert(r3(5L)._1.isEmpty && r3(6L)._1.isEmpty, "disconnected pair stays unlabeled")
    // plurality with min-label tie-break: node 10 sees labels {1, 2} once each
    val e2 = Seq((10L, 11L), (10L, 12L)).toDF("s", "d")
    val s2 = Seq((11L, 2), (12L, 1)).toDF("id", "lbl")
    val t = Graph.labelPropagation(e2, "s", "d", s2, "id", "lbl", 1)
      .filter(col("node_id") === 10L).head()
    assert(t.getInt(1) == 1, "tie must break to the smallest label")
    // seed never flips even when outvoted
    val e3 = Seq((20L, 21L), (20L, 22L), (20L, 23L)).toDF("s", "d")
    val s3 = Seq((20L, 9), (21L, 1), (22L, 1), (23L, 1)).toDF("id", "lbl")
    val f = Graph.labelPropagation(e3, "s", "d", s3, "id", "lbl", 4)
      .filter(col("node_id") === 20L).head()
    assert(f.getInt(1) == 9 && f.getInt(2) == 1)
    graft.CacheScope.release()
  }

  test("triangleStats: 4-clique + pendant — counts, cc, direction/multi-edge collapse") {
    // 4-clique on 1..4 (every node in C(3,2)=3 triangles, cc = 1) plus a
    // pendant 5-1 (degree 1, no triangles); edges fed DIRECTED and
    // DUPLICATED to prove the undirected collapse
    val raw = Seq((1L, 2L), (2L, 1L), (1L, 3L), (1L, 4L), (2L, 3L),
      (2L, 4L), (3L, 4L), (4L, 3L), (5L, 1L), (1L, 5L))
    val out = Graph.triangleStats(raw.toDF("s", "d"), "s", "d")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(5L) == ((1L, 0L, 0L)), s"pendant: ${out(5L)}")
    for (n <- 1L to 4L if n != 1L)
      assert(out(n) == ((3L, 3L, 1000000L)), s"clique node $n: ${out(n)}")
    assert(out(1L) == ((4L, 3L, 500000L)), // degree 4 (incl pendant): 2*3/(4*3) = 0.5
      s"clique+pendant node 1: ${out(1L)}")
    // global count = sum/3 = 4 triangles in the clique
    assert(out.values.map(_._2).sum == 12L)
    graft.CacheScope.release()
  }

  test("triangleStats: triangle-free graphs score zero everywhere") {
    // path 1-2-3-4 and star 10-{11,12,13}: no triangles, cc 0
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (10L, 12L), (10L, 13L)).toDF("s", "d")
    val out = Graph.triangleStats(e, "s", "d").collect()
    assert(out.forall(r => r.getLong(2) == 0L && r.getLong(3) == 0L))
    assert(out.length == 8)
    graft.CacheScope.release()
  }

  test("pageRank r16 union-agg round equals the legacy join round row-for-row") {
    // the round SHAPE (V-row state join vs union-into-aggregation) must
    // never change rows. The legacy join round is gone; these values were
    // taken from the r16 operator while both spellings were still proven
    // equal on this graph. Graph: 1..300 with two out-edges each, plus a
    // dangling sink 9999 (in-edges only, zero contributions every round)
    // so the zero-union row stands in for the legacy left-join miss.
    val edges = ((1 to 300).flatMap(i =>
      Seq((i.toLong, ((i * 7) % 300 + 1).toLong), (i.toLong, ((i * 13) % 300 + 1).toLong))) ++
      Seq((17L, 9999L))).toDF("s", "d")
    val rows = Graph.pageRank(edges, "s", "d", 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.CacheScope.release()
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(rows.toSeq.sorted.map { case (n, r) => s"$n,$r" }.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(rows.size == 301)
    assert(rows.values.sum == 299382496L)
    assert(md5 == "86ecdd9fe07e3a2e80c20fd96a94b7d8", s"sorted (node, rank) digest: $md5")
    assert(rows(17L) == 1000000L)
    assert(rows(9999L) == 433333L)
  }

  test("iteration round plan: cached edge frame joins with zero Exchange and zero Sort on its side") {
    // the co-partitioned-iteration pin (round 8): the |E|-row frame is
    // repartitioned+sorted once and cached; a round's sort-merge join
    // must then touch it as-is. With AQE/broadcast disabled the static
    // round plan has EXACTLY 2 Exchanges (the V-row state side + the
    // destination-key transpose) and 1 Sort (state side) — an edge-side
    // regression shows up as a 3rd Exchange or 2nd Sort.
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)).toDF("_s", "_d")
      val withDeg = e.join(e.groupBy("_s").agg(count(lit(1)).as("_deg")), "_s")
        .repartition(2, col("_s")).sortWithinPartitions("_s").cache()
      withDeg.count()
      // the state frame enters a round as a checkpoint leaf, exactly as
      // in the loop (its build plan must not pollute the round's counts);
      // the round mirrors the r16 union-into-aggregation spelling
      val nodes = e.select(col("_s").as("_id")).union(e.select(col("_d").as("_id")))
        .distinct().repartition(2, col("_id")).sortWithinPartitions("_id").cache()
      nodes.count()
      val r = nodes.withColumn("_r", lit(1000000L)).localCheckpoint()
      val round = withDeg.join(r.withColumnRenamed("_id", "_s"), "_s")
        .select(col("_d").as("_id"), expr("_r div _deg").as("_c"))
        .unionByName(nodes.select(col("_id"), lit(0L).as("_c")))
        .groupBy("_id").agg(sum(col("_c")).as("_S"))
      val exec = round.queryExecution.executedPlan
      // node-level counts: InMemoryTableScan is a LEAF here, so the
      // cache's own build plan (printed via innerChildren) never counts
      val nEx = exec.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.size
      val nSort = exec.collect {
        case s: org.apache.spark.sql.execution.SortExec => s
      }.size
      assert(nEx <= 2, s"edge side must not re-shuffle per round ($nEx Exchanges):\n$exec")
      assert(nSort <= 1, s"edge side must not re-sort per round ($nSort Sorts):\n$exec")
      // and the join must read the cached edge frame DIRECTLY
      // the join sits under the Union in the r16 spelling, so the tree
      // prefix may carry `:` vertical bars before the `:-` branch marker
      assert(exec.toString.matches("(?s).*SortMergeJoin[^\\n]*\\n[\\s:]*:- InMemoryTableScan.*"),
        s"the round join's left child must be the cached edge scan:\n$exec")
      withDeg.unpersist(); nodes.unpersist()
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }
}
