package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Pairwise-comparison ranking — the leaderboard layer of an RLHF /
  * eval pipeline: turn a table of (winner, loser) outcomes (human
  * preference votes, A/B eval verdicts, chatbot-arena battles) into a
  * per-item strength score.
  *
  * [[bradleyTerry]] runs on [[Iterate]] (the engine's iterative
  * contract: a FIXED number of synchronous MM rounds, each round
  * checkpointed, retired rounds freed in-loop) with integer micro-unit
  * arithmetic throughout (every division is an integral floor on
  * non-negative operands, wide products ride decimal(38,0)) — so the
  * result is bit-identical across engines, partitionings, and runs, and
  * the oracle can replay it as an unrolled CTE chain.
  */
object Rank {

  /** Loop-frame density for [[Iterate.partitions]]: a BT round does two
    * broadcast joins plus per-dir-row term arithmetic — roughly 8× denser
    * than PageRank's long division, whose 2M-row constant left a
    * 1.8M-duel gate on ONE core (6 s/round vs sub-second at p = 8). */
  private val RowsPerTask = 250000L

  /** Bradley-Terry strength ratings from pairwise outcomes via fixed
    * synchronous rounds of Hunter's MM algorithm (Hunter 2004, "MM
    * algorithms for generalized Bradley-Terry models").
    *
    * Model: P(i beats j) = γ_i / (γ_i + γ_j). MM update per round:
    * `γ'_i = W_i / Σ_{j: n_ij > 0} n_ij / (γ_i + γ_j)` where `W_i` is
    * i's total wins and `n_ij` the number of i-vs-j comparisons; each
    * round then renormalizes to mean 1,000,000 micro-units (the gauge
    * fix — BT strengths are scale-free). Integer replay:
    * `t = (n_ij · 10^12) div (γ_i + γ_j)` per opposing pair,
    * `γ' = (W_i · 10^12) div Σt`, then
    * `γ'' = (γ' · N · 10^6) div Σγ'` with the wide product on
    * decimal(38,0). All operands are non-negative, so integral `div`
    * equals floor in both engines. Never-winning items rate 0 after
    * round 1 (the MM fixed point for W = 0); items appear only via
    * comparisons, so every denominator is positive by construction.
    *
    * Scale shape: comparisons aggregate ONCE to the canonical
    * (i, j, n) pair grain — corpus volume rides that map-side-combined
    * aggregation and is never touched again. The per-round state is one
    * row per ITEM (γ), joined twice into the direction-expanded pair
    * frame; items ≪ pairs, so both joins broadcast (AQE falls back to
    * shuffle joins past the threshold), and the pair frame — partitioned
    * and sorted by item once, then cached — never re-shuffles: the
    * per-round denominator aggregation reuses its partitioning. Total
    * work is `rounds × O(|pairs|)` with no driver-side data; the one
    * scalar pair per round (the normalization total and item count —
    * 2 values from an items-grain aggregation of the round's already-
    * materialized checkpoint) is driver-fetched like the q185/q189
    * budget scalars and re-enters the next round's plan as literals, so
    * the per-round normalization is a pure projection instead of a
    * third materialized frame (r15: one fewer job and one fewer
    * items-sized checkpoint per round, arithmetic unchanged).
    *
    * Output: `(item_id, rating_micro, wins, comparisons)` — wins/
    * comparisons are the exact integer tallies the rating explains.
    *
    * `weightCol` (optional): each input row counts as that many
    * identical duels instead of 1 — the PRE-AGGREGATED duel-log form
    * (e.g. a streaming pair-count state drained in complete mode feeds
    * ratings without re-exploding to row grain); exactly equivalent to
    * the exploded log (spec-tested law). */
  def bradleyTerry(comps: DataFrame, winnerCol: String, loserCol: String,
      rounds: Int, weightCol: String = null): DataFrame =
    bradleyTerry(comps, winnerCol, loserCol, rounds, weightCol, forceDecimal = false)

  /** [[bradleyTerry]] with the round dispatch exposed: `forceDecimal`
    * takes the decimal(38,0) ride regardless of the maxComps bound, so
    * specs can pin long-vs-decimal dispatch equivalence without building
    * a >9·10⁶-comparison frame. */
  private[graft] def bradleyTerry(comps: DataFrame, winnerCol: String, loserCol: String,
      rounds: Int, weightCol: String, forceDecimal: Boolean): DataFrame = {
    require(rounds >= 1, "rounds >= 1")
    val idType = comps.schema(winnerCol).dataType
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val w = Option(weightCol).map(col(_).cast("long")).getOrElse(lit(1L))
    // floor division on decimal(38,0) operands (non-negative here) — the
    // engine-wide idiom; a long multiply would overflow past wins ~ 9e6
    def fdiv(a: Column, b: Column): Column = (a - pmod(a, b)).divide(b)
    val scale = dec(lit(1000000000000L)) // 10^12
    graft.CacheScope.retained { hold =>
      val (dir, items, nItems, maxComps) = graft.CacheScope.retained { raw =>
        val c = raw(comps.select(col(winnerCol).cast("long").as("_w"),
          col(loserCol).cast("long").as("_l"), w.as("_k")).cache())
        // canonical undirected pair counts — cached so the direction-expanded
        // loop frame's TWO union legs scan one materialized agg instead of
        // running the pair aggregation twice (r15)
        val pairs = raw(
          c.select(least(col("_w"), col("_l")).as("_i"),
              greatest(col("_w"), col("_l")).as("_j"), col("_k"))
            .groupBy("_i", "_j").agg(sum(col("_k")).as("_n"))
            .filter(col("_n") > 0)
            .cache())
        // per-item win totals: one map-side-combined pass over the cached raw log
        val winsDf = c.groupBy("_w").agg(sum(col("_k")).as("_wins"))
          .withColumnRenamed("_w", "_item")
        val dirPlan = pairs.select(col("_i").as("_item"), col("_j").as("_opp"), col("_n"))
          .union(pairs.select(col("_j").as("_item"), col("_i").as("_opp"), col("_n")))
        val itemsPlan = dirPlan
          .groupBy("_item").agg(sum(col("_n")).as("_comps"))
          .join(winsDf, Seq("_item"), "left")
          .select(col("_item"), coalesce(col("_wins"), lit(0L)).as("_wins"),
            col("_comps"))
        val p = Iterate.partitions(c, RowsPerTask)
        // the |pairs|×2-row loop frame; `items` is tracked, not held:
        // the returned plan joins it
        val dir = hold(Iterate.pin(dirPlan, p, "_item"))
        val items = graft.CacheScope.track(Iterate.pin(itemsPlan, p, "_item"))
        dir.count()
        // ONE materializing agg over the items cache: the broadcast-hint size
        // and the long-vs-decimal dispatch bound. max over an EMPTY items
        // frame is NULL (an empty duel log — e.g. a drained streaming state
        // before any data — must yield an empty ratings frame, not an NPE).
        val iRow = items.agg(count(lit(1)), max(col("_comps"))).head()
        (dir, items, iRow.getLong(0),
          Option(iRow.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L))
      }
      // without the hint the round's two γ joins plan as sort-merge and
      // re-shuffle the |dir| intermediate TWICE per round (measured: the
      // whole round pipeline 6 s vs sub-second broadcast)
      val hint = ModelSized.hint(items.select(col("_item"), lit(1000000L).as("_g")), nItems)
      // The hot inner loop is |dir| rows × rounds: term + keyed sum. When
      // every per-item comparison total fits the long budget
      // (maxComps ≤ 9·10⁶ ⟹ n_ij·10¹² ≤ 9·10¹⁸ for the term,
      // Σ_j t_ij ≤ comps_i·10¹² ≤ 9·10¹⁸ for the denominator sum, and
      // wins_i·10¹² ≤ 9·10¹⁸ for the γ' division — all < 2⁶³), the WHOLE
      // round runs codegen'd long arithmetic: integral `div` computes the
      // IDENTICAL floor as the decimal fdiv (operands non-negative), and
      // the long sum provably cannot wrap under the bound (ANSI mode would
      // throw, not wrap, as the backstop). Past the bound every leg rides
      // decimal(38,0) exactly as before. r14 dispatched only the term (on
      // max n_ij) and paid a decimal SUM per round — measured the round
      // bottleneck; maxComps bounds max n_ij, so the stricter single
      // dispatch never sends a previously-long term to decimal arithmetic
      // at any certified SF (sf0.1 maxComps ≈ 10³).
      // greatest(·, 1): a duel between two zero-rated items (reachable only
      // under extreme skew — a winning item's rating can floor to 0 when it
      // carries ≳2·10⁶ duels) must not divide by zero; the huge resulting
      // term keeps both ratings at the 0 fixed point, and every
      // non-degenerate case is untouched (γ_i + γ_j ≥ 1 already)
      val fastLong = maxComps <= 9000000L && !forceDecimal
      val tTerm =
        if (fastLong) expr("_n * 1000000000000 div greatest(_gi + _gj, 1)")
        else fdiv(dec(col("_n")) * scale,
          dec(greatest(col("_gi") + col("_gj"), lit(1L)))).cast("decimal(38,0)")
      val dSum = if (fastLong) sum(col("_t")) else sum(dec(col("_t")))
      // D = 0 can only happen when every per-pair term truncated to zero
      // (γ_i + γ_j > n·10^12 — needs ~5·10^5+ items sharing one rating
      // pool); rate 0 deterministically rather than null-poison
      val gpExpr =
        if (fastLong) when(col("_D") > 0, expr("_wins * 1000000000000 div _D"))
          .otherwise(0L)
        else when(col("_D") > 0,
          fdiv(dec(col("_wins")) * scale, dec(col("_D"))).cast("long"))
          .otherwise(0L)
      // One round maps γ to the round's UNNORMALIZED ratings checkpoint
      // `gp` (items-sized, feeds the next round twice and the normalization
      // total once) — without this checkpoint the |dir|-row denominator
      // pipeline would execute three times per round (measured, ~2× round
      // cost already at two).
      // r16: alias BOTH columns of BOTH γ legs, so the two broadcast build
      // sides canonicalize EQUAL (canonical plans erase alias names, but a
      // bare attribute on one leg is not an alias and blocks the match) —
      // AQE's stage cache then builds ONE γ broadcast per round and the _gj
      // join reads a ReusedExchange (the reuse appears only with the
      // symmetric spelling; pure rename, rows identical — −2.2%/−2.5% on
      // q184's train, OPTIMIZATION_r16.md §8).
      // NOT the pageRank r16 union/fold case (measured, q184's duels,
      // whole-train interleaved n=7, OPTIMIZATION_r16.md §9): riding
      // `_wins` on the dir frame so γ' projects straight off the
      // denominator aggregation (no items join) read +7.6% median,
      // slower in 6/7 reps — the extra 8 bytes/row flow through BOTH
      // broadcast joins and the partial aggregation of the |dir|-row
      // hot path, while the items join this removes is a cheap V-row
      // AQE-broadcast. The per-round items join stays.
      def round(gPlan: DataFrame): Iterate.Checkpoint = {
        val denom = dir
          .join(hint(gPlan.select(col("_item").as("_item"), col("_g").as("_gi"))), Seq("_item"))
          .join(hint(gPlan.select(col("_item").as("_opp"), col("_g").as("_gj"))), Seq("_opp"))
          .select(col("_item"), tTerm.as("_t"))
          .groupBy("_item").agg(dSum.as("_D"))
        Iterate.checkpoint(items
          .join(denom, Seq("_item"))
          .select(col("_item"), gpExpr.as("_gp")))
      }
      // γ as a pure projection over `gp`: the normalization scalars (T, N)
      // are an items-grain 2-value fetch off the just-materialized
      // checkpoint (model-sized by definition — the same class as the
      // q185/q189 budget scalars), never corpus data, and re-enter as
      // literals, so no third per-round frame is ever materialized.
      // sum over an EMPTY frame is NULL → T = 0 → the all-zero branch,
      // exactly the crossJoin form's `when(_T > 0)` fallback.
      def normalize(gp: DataFrame): DataFrame = {
        val tRow = gp.agg(sum(dec(col("_gp"))), count(lit(1))).head()
        val totT = Option(tRow.getDecimal(0)).getOrElse(java.math.BigDecimal.ZERO)
        val totN = tRow.getLong(1)
        if (totT.signum > 0)
          gp.select(col("_item"),
            fdiv(dec(col("_gp")) * dec(lit(totN)) * dec(lit(1000000L)),
              dec(lit(totT))).cast("long").as("_g"))
        else gp.select(col("_item"), lit(0L).as("_g"))
      }
      // round 1 enters on the flat 1,000,000 init over the items cache
      val g = Iterate.rounds(round(items.select(col("_item"), lit(1000000L).as("_g"))),
        rounds - 1, normalize)(round)
      items.join(g, Seq("_item"))
        .select(col("_item").cast(idType).as("item_id"),
          col("_g").as("rating_micro"), col("_wins").as("wins"),
          col("_comps").as("comparisons"))
    }
  }

  /** Spearman rank correlation between two scores of the same keyed
    * frame — the leaderboard-agreement diagnostic (does the model-based
    * rating order match the raw win rate? does this round's ranking
    * agree with last week's?). Ranks are row indexes under the STRICT
    * total orders `(aCol, keyCol)` / `(bCol, keyCol)` — the engine's
    * tie-broken variant (deterministic; the averaged-ties variant needs
    * fractional ranks and is a documented non-goal), so
    * `ρ = 1 − 6·Σd² / (n·(n²−1))` is an EXACT rational and `rho_micro`
    * an exact floor (negative-safe: the pmod idiom floors like DuckDB
    * `//`). Output: ONE row `(n, rho_micro)`; degenerate n < 2 reports
    * 0 (no pair order to agree on).
    *
    * Scale shape: each rank side is the distributed two-phase prefix
    * sum over the range-partitioned order (the q161/q164 machinery — a
    * global `row_number` window would serialize the corpus through one
    * task), then one equi-join on the key and one global aggregation
    * (map-side combined). Σd² rides decimal(38,0): it reaches n³/3,
    * past a long for n beyond ~3·10⁶. */
  def spearmanCorr(df: DataFrame, aCol: String, bCol: String,
      keyCol: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val base = graft.CacheScope.track(
      df.select(col(keyCol).as("_k"), col(aCol).as("_a"), col(bCol).as("_b"))
        .withColumn("_one", lit(1L)).cache())
    // the count is a pass over the just-cached frame (paid once, both
    // rank sides reuse it): at or under the model-sized bound each rank
    // side is ONE single-task window instead of the 4-job two-phase
    // machinery — see distributedPrefixSum's knownRows contract
    val nBase = base.count()
    val ra = Relational.distributedPrefixSum(base, Seq(col("_a"), col("_k")), "_one",
        knownRows = nBase)
      .select(col("_k"), col("_cum_incl").as("_ra"))
    val rb = Relational.distributedPrefixSum(base, Seq(col("_b"), col("_k")), "_one",
        knownRows = nBase)
      .select(col("_k"), col("_cum_incl").as("_rb"))
    val agg = ra.join(rb, Seq("_k"))
      .agg(count(lit(1)).as("n"),
        // square in decimal: a long square of a rank difference would
        // overflow past n ~ 3·10⁹ before the sum ever saw it
        sum(dec(col("_ra") - col("_rb")) * dec(col("_ra") - col("_rb"))).as("_sd2"))
    val n = dec(col("n"))
    val den = n * (n * n - lit(1).cast("decimal(38,0)"))
    val num = dec(lit(1000000L)) * (den - dec(lit(6L)) * col("_sd2"))
    agg.select(col("n"),
      when(col("n") >= 2,
        ((num - pmod(num, den)) / den).cast("long"))
        .otherwise(0L).as("rho_micro"))
  }

  /** pass@k — the unbiased estimator from Chen et al. 2021 ("Evaluating
    * Large Language Models Trained on Code", HumanEval):
    * `pass@k = 1 − C(n−c, k)/C(n, k)` per problem, where `n` is the
    * number of samples drawn and `c` how many passed. Computed in the
    * reference implementation's numerically-stable product form
    * `1 − Π_{i=0..k−1} (n−c−i)/(n−i)` — a zero term (n−c < k) collapses
    * the product, so the "can't pick k failures" case yields exactly 1
    * with no special-casing. Each k's product is k fixed-order IEEE
    * double terms micro-quantized through `round(1e6·…)` (the q92
    * convention — the oracle replays the identical chain); rows with
    * `n < k` report NULL for that k (the estimator is undefined there —
    * callers filter or raise `n`; the HumanEval harness asserts n ≥ k).
    *
    * Shape: ONE keyed aggregation to problem grain (n = count,
    * c = conditional sum — map-side combined, corpus volume never
    * touched again), then a pure projection per k. Output:
    * `(problem_id, n, c, pass<k>_micro …)`. */
  /** Preference-cycle audit: every directed 3-cycle (a beats b beats c
    * beats a) in the MAJORITY duel graph — the annotation-QA gate run on
    * preference data before trusting a [[bradleyTerry]] board (a high
    * cycle rate means the raters disagree with themselves, not that the
    * model ordering is subtle). Duels aggregate to the canonical
    * unordered-pair grain; a pair's majority direction is its edge,
    * exact ties are ambivalent (no edge). Output: one row per cyclic
    * triad, items sorted ascending, with the three canonical-pair
    * verdicts — `(item_a, item_b, item_c, a_beats_b, b_beats_c,
    * a_beats_c)`; cycles satisfy `a_beats_b ≠ a_beats_c` and
    * `b_beats_c = a_beats_b` (the two rotation classes), which the
    * caller can read back as the walk direction. Self-duels are dropped.
    *
    * Scale shape (the q146 triangle machinery): duel volume collapses
    * ONCE to the pair grain; wedges enumerate from each edge's
    * degree-SMALLEST endpoint under the (degree, id) total order, so
    * per-task transient candidates are bounded by oriented out-degree²
    * ≈ O(√E) per node — hub-safe even on a near-complete tournament —
    * and the closing edge lookup is an equi join carrying the third
    * direction flag. Nothing re-reads the duel log after the pair
    * aggregation. */
  def preferenceCycles(duels: DataFrame, winnerCol: String, loserCol: String,
      weightCol: String = null): DataFrame = {
    val idType = duels.schema(winnerCol).dataType
    val wgt = if (weightCol == null) lit(1L) else col(weightCol).cast("long")
    val wc = col(winnerCol).cast("long")
    val lc = col(loserCol).cast("long")
    val pairs = duels.filter(wc =!= lc)
      .select(least(wc, lc).as("_lo"), greatest(wc, lc).as("_hi"),
        when(wc < lc, wgt).otherwise(0L).as("_wl"),
        when(wc > lc, wgt).otherwise(0L).as("_wh"))
      .groupBy("_lo", "_hi")
      .agg(sum(col("_wl")).as("_wl"), sum(col("_wh")).as("_wh"))
    val edges = graft.CacheScope.track(
      pairs.filter(col("_wl") =!= col("_wh"))
        .select(col("_lo").as("_a"), col("_hi").as("_b"),
          (col("_wl") > col("_wh")).as("_fab"))
        .cache())
    val deg = edges.select(col("_a").as("_n")).union(edges.select(col("_b").as("_n")))
      .groupBy("_n").agg(count(lit(1)).as("_d"))
    val keyA = struct(col("_da"), col("_a"))
    val keyB = struct(col("_db"), col("_b"))
    // orient each edge from its degree-smallest endpoint; _fuv keeps the
    // PREFERENCE direction ("u beats v") across the flip
    val o = graft.CacheScope.track(edges
      .join(deg.select(col("_n").as("_a"), col("_d").as("_da")), "_a")
      .join(deg.select(col("_n").as("_b"), col("_d").as("_db")), "_b")
      .select(
        when(keyA < keyB, col("_a")).otherwise(col("_b")).as("_u"),
        when(keyA < keyB, col("_b")).otherwise(col("_a")).as("_v"),
        when(keyA < keyB, col("_db")).otherwise(col("_da")).as("_dv"),
        when(keyA < keyB, col("_fab")).otherwise(!col("_fab")).as("_fuv"))
      .cache())
    val wedges = o.select(col("_u"), col("_v").as("_x"), col("_dv").as("_dx"),
        col("_fuv").as("_fux"))
      .join(o.select(col("_u"), col("_v").as("_y"), col("_dv").as("_dy"),
        col("_fuv").as("_fuy")), Seq("_u"))
      .filter(struct(col("_dx"), col("_x")) < struct(col("_dy"), col("_y")))
    val tri = wedges
      .join(o.select(col("_u").as("_x"), col("_v").as("_y"),
        col("_fuv").as("_fxy")), Seq("_x", "_y"))
      .filter(col("_fux") =!= col("_fuy") && col("_fxy") === col("_fux"))
    // canonical ascending triple + the three canonical-pair verdicts
    val ps = array(
      struct(least(col("_u"), col("_x")).as("p"),
        greatest(col("_u"), col("_x")).as("q"),
        when(col("_u") < col("_x"), col("_fux")).otherwise(!col("_fux")).as("g")),
      struct(least(col("_u"), col("_y")).as("p"),
        greatest(col("_u"), col("_y")).as("q"),
        when(col("_u") < col("_y"), col("_fuy")).otherwise(!col("_fuy")).as("g")),
      struct(least(col("_x"), col("_y")).as("p"),
        greatest(col("_x"), col("_y")).as("q"),
        when(col("_x") < col("_y"), col("_fxy")).otherwise(!col("_fxy")).as("g")))
    def flagFor(p: Column, q: Column, arr: Column): Column =
      element_at(filter(arr, s =>
        s.getField("p") === p && s.getField("q") === q), 1).getField("g")
    tri.select(
        least(col("_u"), col("_x"), col("_y")).as("_s1"),
        (col("_u") + col("_x") + col("_y") -
          least(col("_u"), col("_x"), col("_y")) -
          greatest(col("_u"), col("_x"), col("_y"))).as("_s2"),
        greatest(col("_u"), col("_x"), col("_y")).as("_s3"),
        ps.as("_ps"))
      .select(col("_s1").cast(idType).as("item_a"),
        col("_s2").cast(idType).as("item_b"),
        col("_s3").cast(idType).as("item_c"),
        flagFor(col("_s1"), col("_s2"), col("_ps")).as("a_beats_b"),
        flagFor(col("_s2"), col("_s3"), col("_ps")).as("b_beats_c"),
        flagFor(col("_s1"), col("_s3"), col("_ps")).as("a_beats_c"))
  }

  def passAtK(samples: DataFrame, problemCol: String, passCol: String,
      ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1), "ks: non-empty, each >= 1")
    require(ks.distinct == ks, "ks must be distinct")
    val agg = samples.groupBy(col(problemCol).as("problem_id"))
      .agg(count(lit(1)).as("n"),
        sum(when(col(passCol).cast("boolean"), 1L).otherwise(0L)).as("c"))
    val passCols = ks.map { k =>
      val prod = (0 until k).map { i =>
        (col("n") - col("c") - lit(i)).cast("double") /
          (col("n") - lit(i)).cast("double")
      }.reduce(_ * _)
      when(col("n") >= k, round(lit(1e6) * (lit(1.0) - prod)).cast("long"))
        .as(s"pass${k}_micro")
    }
    agg.select(col("problem_id") +: col("n") +: col("c") +: passCols: _*)
  }
}
