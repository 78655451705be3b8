package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class RankSpec extends SparkSpec {
  import spark.implicits._

  test("bradleyTerry: two-item hand case hits the exact MM fixed point") {
    // A(1) beats B(2) 3 times, B beats A once -> MLE odds 3:1; with the
    // mean-1e6 gauge that is exactly (1_500_000, 500_000), and the
    // integer recurrence reaches it in ONE round and stays:
    //   t = 4e12 div 2e6 = 2e6 = D for both
    //   g'A = 3e12 div 2e6 = 1_500_000 ; g'B = 1e12 div 2e6 = 500_000
    //   T = 2e6, N = 2 -> normalization is the identity here
    val comps = Seq((1L, 2L), (1L, 2L), (1L, 2L), (2L, 1L)).toDF("w", "l")
    for (rounds <- Seq(1, 4)) {
      val out = Rank.bradleyTerry(comps, "w", "l", rounds)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      assert(out(1L) == ((1500000L, 3L, 4L)), s"rounds=$rounds: ${out(1L)}")
      assert(out(2L) == ((500000L, 1L, 4L)), s"rounds=$rounds: ${out(2L)}")
      graft.CacheScope.release()
    }
  }

  test("bradleyTerry: an empty duel log yields an empty ratings frame, not an NPE") {
    // the drained-streaming-state-before-any-data shape: zero comparisons
    val comps = Seq.empty[(Long, Long)].toDF("w", "l")
    val out = Rank.bradleyTerry(comps, "w", "l", rounds = 3)
    assert(out.count() == 0L)
    assert(out.columns.toSeq ==
      Seq("item_id", "rating_micro", "wins", "comparisons"))
    graft.CacheScope.release()
  }

  test("bradleyTerry: transitive chain orders items; zero-win item rates 0; gauge holds") {
    // A beats B twice, B beats C twice, A beats C once
    val comps = Seq((1L, 2L), (1L, 2L), (2L, 3L), (2L, 3L), (1L, 3L)).toDF("w", "l")
    val out = Rank.bradleyTerry(comps, "w", "l", rounds = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.CacheScope.release()
    assert(out(1L) > out(2L) && out(2L) > out(3L), out)
    assert(out(3L) == 0L, "never-winning item is the W=0 MM fixed point")
    // normalization gauge: mean 1e6 up to per-item truncation
    val total = out.values.sum
    assert(total <= 3000000L && total > 3000000L - 10L, s"gauge drifted: $total")
  }

  test("bradleyTerry: deterministic across runs and input row order") {
    val comps = graft.Tables.lineitem(spark, sf)
      .limit(500)
      .select(col("l_partkey").cast("long").as("w"),
        ((col("l_partkey") + col("l_suppkey")) % 200).cast("long").as("l"))
      .filter(col("w") =!= col("l"))
    val a = Rank.bradleyTerry(comps, "w", "l", rounds = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    graft.CacheScope.release()
    val b = Rank.bradleyTerry(comps.orderBy(rand(42)), "w", "l", rounds = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    graft.CacheScope.release()
    assert(a.sameElements(b), "row order must not change ratings")
  }

  test("bradleyTerry: weighted pre-aggregated log equals the exploded duel log") {
    val comps = Seq((1L, 2L), (1L, 2L), (1L, 2L), (2L, 1L), (2L, 3L), (2L, 3L),
      (1L, 3L), (3L, 1L)).toDF("w", "l")
    val exploded = Rank.bradleyTerry(comps, "w", "l", rounds = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted
    graft.CacheScope.release()
    val agg = comps.groupBy("w", "l").agg(count(lit(1)).as("n"))
    val weighted = Rank.bradleyTerry(agg, "w", "l", rounds = 5, weightCol = "n")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted
    graft.CacheScope.release()
    assert(exploded.sameElements(weighted),
      s"weighted form diverged: ${exploded.toSeq} vs ${weighted.toSeq}")
  }

  test("bradleyTerry: long fast path equals the decimal ride (dispatch equivalence)") {
    // r15 round dispatch: when maxComps <= 9e6 the whole round (term,
    // denominator sum, gamma' division) runs codegen'd long arithmetic.
    // Same frame through both branches must produce identical ratings —
    // the decimal ride is driven by the `forceDecimal` parameter rather
    // than a >9e6-comparison input.
    val comps = Seq((1L, 2L, 3L), (2L, 1L, 1L), (2L, 3L, 4L), (1L, 3L, 2L),
      (3L, 4L, 5L), (4L, 2L, 2L)).toDF("w", "l", "n")
    val fast = Rank.bradleyTerry(comps, "w", "l", rounds = 5, weightCol = "n")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted
    graft.CacheScope.release()
    val slow = Rank.bradleyTerry(comps, "w", "l", rounds = 5, weightCol = "n",
        forceDecimal = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted
    graft.CacheScope.release()
    assert(fast.sameElements(slow),
      s"dispatch branches diverged: ${fast.toSeq} vs ${slow.toSeq}")
  }

  test("bradleyTerry: symmetric gamma legs equal the r15 asymmetric spelling") {
    // r16: both γ-leg columns are aliased so the two broadcast build
    // sides canonicalize equal and AQE builds ONE γ broadcast per round
    // (the _gj join reads a ReusedExchange — OPTIMIZATION_r16.md §8). A pure
    // rename: the rows must be identical under either spelling. The
    // asymmetric spelling is gone; these tuples were taken from the r16
    // operator while both spellings were still proven equal.
    val comps = Seq((1L, 2L, 3L), (2L, 1L, 1L), (2L, 3L, 4L), (1L, 3L, 2L),
      (3L, 4L, 5L), (4L, 2L, 2L)).toDF("w", "l", "n")
    val sym = Rank.bradleyTerry(comps, "w", "l", rounds = 5, weightCol = "n")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted
    graft.CacheScope.release()
    assert(sym.toSeq == Seq((1L, 2472016L, 5L, 6L), (2L, 801988L, 5L, 10L),
      (3L, 487573L, 5L, 11L), (4L, 238421L, 2L, 7L)),
      s"gamma legs diverged from the pinned ratings: ${sym.toSeq}")
  }

  test("bradleyTerry round plan: broadcast gamma joins leave the pair frame unshuffled") {
    // the iterative-contract pin (the GraphSpec round-plan discipline):
    // dir is repartitioned+sorted by _item once and cached; with the
    // V-row gamma frame broadcast into both joins (what AQE decides at
    // runtime against the checkpoint leaf — replicated here statically
    // via a stats-bearing local gamma), a round's denominator
    // aggregation reuses dir's partitioning: ZERO ShuffleExchange, both
    // joins BroadcastHashJoin.
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val dir = Seq((1L, 2L, 3L), (2L, 1L, 3L), (2L, 3L, 2L), (3L, 2L, 2L))
        .toDF("_item", "_opp", "_n")
        .repartition(2, col("_item")).sortWithinPartitions("_item").cache()
      dir.count()
      val g = Seq((1L, 1000000L), (2L, 1000000L), (3L, 1000000L)).toDF("_item", "_g")
      val round = dir
        .join(g.select(col("_item"), col("_g").as("_gi")), Seq("_item"))
        .join(g.select(col("_item").as("_opp"), col("_g").as("_gj")), Seq("_opp"))
        .select(col("_item"), (col("_gi") + col("_gj")).as("_t"))
        .groupBy("_item").agg(sum(col("_t")).as("_D"))
      val exec = round.queryExecution.executedPlan
      val nEx = exec.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.size
      val nBhj = exec.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
      }.size
      assert(nEx == 0, s"round must reuse dir's partitioning, got $nEx Exchanges:\n$exec")
      assert(nBhj == 2, s"gamma must broadcast into both joins, got $nBhj:\n$exec")
      dir.unpersist()
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("passAtK: hand-computed estimator, natural edges, NULL below n") {
    // problem 1: n=4, c=2 -> pass@1 = 1/2; pass@2 = 1 - (2/4)(1/3) = 5/6
    // problem 2: n=3, c=0 -> pass@k = 0 for k <= 3; NULL for k > n
    // problem 3: n=3, c=2 -> n-c=1 < 2: the zero term collapses -> 1.0
    val rows = Seq.fill(2)((1L, true)) ++ Seq.fill(2)((1L, false)) ++
      Seq.fill(3)((2L, false)) ++ Seq.fill(2)((3L, true)) :+ ((3L, false))
    val df = rows.toDF("p", "ok")
    val out = Rank.passAtK(df, "p", "ok", Seq(1, 2))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2),
          Option(r.get(3)).map(_.asInstanceOf[Long]),
          Option(r.get(4)).map(_.asInstanceOf[Long])))).toMap
    assert(out(1L) == ((4L, 2L, Some(500000L), Some(833333L))), out)
    assert(out(2L) == ((3L, 0L, Some(0L), Some(0L))), out)
    assert(out(3L) == ((3L, 2L, Some(666667L), Some(1000000L))), out)
    val nulls = Rank.passAtK(df, "p", "ok", Seq(4))
      .collect().map(r => r.getLong(0) -> Option(r.get(3))).toMap
    assert(nulls(1L).isDefined && nulls(2L).isEmpty && nulls(3L).isEmpty,
      "pass@k must be NULL when n < k")
  }

  test("spearmanCorr: exact rationals, negative floor, degenerate n") {
    def rho(pairs: Seq[(Long, Long, Long)]): (Long, Long) = {
      val out = Rank.spearmanCorr(pairs.toDF("k", "a", "b"), "a", "b", "k")
        .head()
      graft.CacheScope.release()
      (out.getLong(0), out.getLong(1))
    }
    // identical order -> 1; exact reversal -> -1
    assert(rho(Seq((1L, 10L, 100L), (2L, 20L, 200L), (3L, 30L, 300L))) == ((3L, 1000000L)))
    assert(rho(Seq((1L, 10L, 300L), (2L, 20L, 200L), (3L, 30L, 100L))) == ((3L, -1000000L)))
    // one swap at n=3: sum d^2 = 2 -> 1 - 12/24 = 0.5 exactly
    assert(rho(Seq((1L, 10L, 20L), (2L, 20L, 10L), (3L, 30L, 30L))) == ((3L, 500000L)))
    // n=6, rank-b permutation (6,5,4,3,1,2): sum d^2 = 68 ->
    // rho = 1 - 408/210 = -0.9428571... -> FLOOR -942858 (a truncation
    // would give -942857 — this pins the floor convention on negatives)
    val neg = (1L to 6L).zip(Seq(6L, 5L, 4L, 3L, 1L, 2L)).map { case (i, b) => (i, i, b) }
    assert(rho(neg) == ((6L, -942858L)))
    // degenerate: a single item has no pair order to agree on
    assert(rho(Seq((1L, 5L, 9L))) == ((1L, 0L)))
  }

  test("unimaxAllocation: hand-computed capped prefix + equal shares") {
    val rows = Seq(("s1", 100L), ("s2", 1000L), ("s3", 10000L))
      .flatMap { case (s, n) => Seq((s, n / 2), (s, n - n / 2)) } // two rows per source
      .toDF("source", "tokens")
    val out = Relational.unimaxAllocation(rows, "source", "tokens",
        budgetTokens = 6000L, maxEpochs = 4)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getInt(3), r.getLong(4)))).toMap
    // s1: cap 400, capped (400*3 <= 6000); s2/s3 uncapped,
    // share = (6000-400) div 2 = 2800 each
    assert(out("s1") == ((100L, 400L, 1, 4000000L)), out)
    assert(out("s2") == ((1000L, 2800L, 0, 2800000L)), out)
    assert(out("s3") == ((10000L, 2800L, 0, 280000L)), out)
  }

  test("unimaxAllocation: laws — budget never exceeded, caps respected, uncapped equal") {
    val docs = graft.Tables.documents(spark, sf)
      .select(col("source"), graft.functions.TextFunctions.tokenCount(col("text")).as("t"))
    for (budget <- Seq(0L, 1000L, 50000L, 100000000L)) {
      val rows = Relational.unimaxAllocation(docs, "source", "t", budget, maxEpochs = 3)
        .collect()
      assert(rows.map(_.getLong(2)).sum <= budget, s"budget=$budget over-allocated")
      rows.foreach { r =>
        assert(r.getLong(2) <= 3 * r.getLong(1), s"budget=$budget cap broken: $r")
      }
      val uncapped = rows.filter(_.getInt(3) == 0).map(_.getLong(2)).distinct
      assert(uncapped.length <= 1, s"budget=$budget uncapped shares differ")
    }
  }

  // ---- temperatureAllocation ---------------------------------------------

  test("temperatureAllocation: draws sum exactly to budget; sqrt flattens the head") {
    import spark.implicits._
    val src = Seq(("big", 1000000L), ("small", 10000L)).toDF("s", "t")
    val r = Relational.temperatureAllocation(src, "s", "t", 110000L)
      .collect().map(x => x.getString(0) -> (x.getLong(2), x.getLong(3))).toMap
    assert(r.values.map(_._2).sum == 110000L, "Hamilton sums to the budget")
    // weights 1000 vs 100 — the 100x source draws exactly 10x
    assert(r("big")._1 == 1000L && r("small")._1 == 100L)
    assert(r("big")._2 == 100000L && r("small")._2 == 10000L)
    graft.CacheScope.release()
  }

  test("temperatureAllocation: largest-remainder exactness and zero-token isolation") {
    import spark.implicits._
    // weights 1,1,1 over budget 10: quotas 3,3,3 + one top-up by name
    val eq = Seq(("a", 1L), ("b", 1L), ("c", 1L)).toDF("s", "t")
    val re = Relational.temperatureAllocation(eq, "s", "t", 10L)
      .collect().map(x => x.getString(0) -> x.getLong(3)).toMap
    assert(re.values.sum == 10L && re.values.toSeq.sorted == Seq(3L, 3L, 4L))
    graft.CacheScope.release()
    // a zero-token source never receives a top-up
    val z = Seq(("a", 100L), ("zero", 0L)).toDF("s", "t")
    val rz = Relational.temperatureAllocation(z, "s", "t", 7L)
      .collect().map(x => x.getString(0) -> x.getLong(3)).toMap
    assert(rz("zero") == 0L && rz("a") == 7L)
    graft.CacheScope.release()
    // zero budget, and the all-zero corpus, both allocate nothing
    assert(Relational.temperatureAllocation(z, "s", "t", 0L)
      .agg(org.apache.spark.sql.functions.sum($"draw_tokens")).head().getLong(0) == 0L)
    graft.CacheScope.release()
    val allZero = Seq(("a", 0L), ("b", 0L)).toDF("s", "t")
    assert(Relational.temperatureAllocation(allZero, "s", "t", 5L)
      .agg(org.apache.spark.sql.functions.sum($"draw_tokens")).head().getLong(0) == 0L)
    graft.CacheScope.release()
  }

  // ---- preferenceCycles -------------------------------------------------

  private def cycles(duels: Seq[(Long, Long)]) = {
    import spark.implicits._
    Rank.preferenceCycles(duels.toDF("w", "l"), "w", "l").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3), r.getBoolean(4), r.getBoolean(5)))
  }

  test("preferenceCycles: a transitive tournament has zero cycles") {
    // 1 beats 2,3,4; 2 beats 3,4; 3 beats 4 — fully consistent raters
    val duels = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    assert(cycles(duels).isEmpty)
    graft.CacheScope.release()
  }

  test("preferenceCycles: the hand 3-cycle comes back with its canonical flags") {
    val r = cycles(Seq((1L, 2L), (2L, 3L), (3L, 1L)))
    assert(r.toSeq == Seq((1L, 2L, 3L, true, true, false)))
    graft.CacheScope.release()
    // the reverse rotation: 2 beats 1, 3 beats 2, 1 beats 3
    val rev = cycles(Seq((2L, 1L), (3L, 2L), (1L, 3L)))
    assert(rev.toSeq == Seq((1L, 2L, 3L, false, false, true)))
    graft.CacheScope.release()
  }

  test("preferenceCycles: majority rules a noisy pair; an exact tie breaks the cycle") {
    // 1>2 twice vs 2>1 once -> majority 1>2; cycle survives the noise
    val noisy = Seq((1L, 2L), (1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L))
    assert(cycles(noisy).length == 1)
    graft.CacheScope.release()
    // tie 1-vs-2 removes the edge -> no triangle at all
    val tied = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L))
    assert(cycles(tied).isEmpty)
    graft.CacheScope.release()
  }

  test("preferenceCycles: self-duels carry no edge") {
    assert(cycles(Seq((1L, 1L), (1L, 2L), (2L, 3L), (3L, 1L))).length == 1)
    graft.CacheScope.release()
  }

  test("preferenceCycles: matches local exhaustive triad enumeration on a hashed tournament") {
    val n = 25L
    // deterministic noisy tournament: direction of (a,b) from a hash
    val duels = for {
      a <- 1L to n; b <- (a + 1) to n
    } yield if ((a * 2654435761L + b * 40503L) % 7 < 4) (a, b) else (b, a)
    val local = {
      val beats = duels.map { case (w, l) => (w, l) }.toSet
      (for {
        a <- 1L to n; b <- (a + 1) to n; c <- (b + 1) to n
        fab = beats((a, b)); fbc = beats((b, c)); fac = beats((a, c))
        if fab != fac && fbc == fab
      } yield (a, b, c, fab, fbc, fac)).toSet
    }
    assert(cycles(duels).toSet == local)
    graft.CacheScope.release()
  }

  test("preferenceCycles: weightCol form equals exploded duels") {
    import spark.implicits._
    val duels = Seq((1L, 2L), (1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L))
    val weighted = Seq((1L, 2L, 2L), (2L, 1L, 1L), (2L, 3L, 1L), (3L, 1L, 1L))
      .toDF("w", "l", "n")
    val a = cycles(duels).toSeq
    val b = Rank.preferenceCycles(weighted, "w", "l", "n").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3), r.getBoolean(4), r.getBoolean(5))).toSeq
    assert(a == b)
    graft.CacheScope.release()
  }
}
