package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Event-analytics operators over an append-only event log — the
  * sessionization / funnel / retention / gap-fill family every
  * product-analytics surface ships (the reference's continuous-SQL
  * use cases over clickstream topics, SURVEY.md §4), each expressed so
  * the event log is scanned once and per-key work is bounded by a key's
  * own history, never the global log.
  */
object Events {

  /** Gap-based sessionization: label every event with its session's
    * 1-based sequence number per key — a new session starts when the gap
    * since the key's previous event EXCEEDS `gap` (events exactly `gap`
    * apart stay in one session, matching Spark/DuckDB session-window
    * merge semantics, q07). Appends `session_seq`; all input columns
    * pass through.
    *
    * `tiebreak` must make (tsCol, tiebreak) a strict total order per key
    * (the [[Relational.topKPerGroup]] rule) or equal-timestamp rows sort
    * arbitrarily. Equal timestamps always share a session (gap 0), so
    * `session_seq` itself is deterministic either way — the tiebreak
    * pins the ROW order the lag walks, keeping the plan's sort stable.
    *
    * Shape: ONE key-partitioned Exchange; the gap flag (lag) and the
    * running session count ride the same window sort — per-task state is
    * one key's history, the q128 one-shuffle-two-windows shape. */
  def sessionize(df: DataFrame, keyCol: String, tsCol: String, gap: String,
      tiebreak: Seq[Column] = Nil): DataFrame = {
    val micros = Relational.intervalMicros(gap)
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol) +: tiebreak: _*)
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prev = lag(unix_micros(col(tsCol)), 1).over(w)
    val isNew = when(prev.isNull || unix_micros(col(tsCol)) - prev > micros, 1)
      .otherwise(0)
    df.withColumn("_new", isNew)
      .withColumn("session_seq", sum(col("_new")).over(run).cast("int"))
      .drop("_new")
  }

  /** Ordered funnel: for each key, the earliest time it completes each
    * successive step — step i counts only STRICTLY after step i−1's
    * time, and (when `horizon` is set) no later than step 1's time +
    * horizon (the conversion-window convention: the first step starts
    * the clock). Output: key, `step_1_ts` … `step_k_ts` (null once the
    * funnel stalls), `furthest_step` (0..k). Keys that never perform
    * step 1 are absent by default — their furthest step is 0 by
    * definition; `emitAllKeys = true` emits the whole key universe
    * (every distinct key of `df`) with null step times and
    * `furthest_step` 0 for the never-started keys — the BI funnel
    * convention, without the caller hand-writing the universe join.
    *
    * Shape: each stage filters the log to ONE step type (predicate
    * pushes to the scan), min-aggregates map-side to a per-key 1-row
    * frame, and left-joins the accumulator on the key — `steps.size` is
    * config-sized, so the chain is a fixed small number of keyed
    * joins/aggs; no window over the full log, no per-key history array.
    * A stalled step's null time nulls every later comparison, so later
    * stages naturally stay null without special-casing. */
  def funnelSteps(df: DataFrame, keyCol: String, tsCol: String,
      typeCol: String, steps: Seq[String],
      horizon: Option[String] = None,
      emitAllKeys: Boolean = false): DataFrame = {
    require(steps.nonEmpty, "at least one funnel step")
    require(steps.distinct.size == steps.size, "funnel steps must be distinct")
    val horizonMicros = horizon.map(Relational.intervalMicros)
    val base = df.select(col(keyCol), col(tsCol).cast("timestamp").as("_t"),
      col(typeCol).as("_ty"))
    var acc = base.filter(col("_ty") === steps.head)
      .groupBy(col(keyCol)).agg(min(col("_t")).as("step_1_ts"))
    for (i <- 2 to steps.size) {
      val cand = base.filter(col("_ty") === steps(i - 1))
        .select(col(keyCol), col("_t").as("_ct"))
      val inWindow = horizonMicros match {
        case Some(h) => col("_ct") > col(s"step_${i - 1}_ts") &&
          unix_micros(col("_ct")) <= unix_micros(col("step_1_ts")) + h
        case None => col("_ct") > col(s"step_${i - 1}_ts")
      }
      val prevCols = (1 until i).map(j => s"step_${j}_ts")
      acc = acc.join(cand, Seq(keyCol), "left")
        .groupBy(col(keyCol) +: prevCols.map(col): _*)
        .agg(min(when(inWindow, col("_ct"))).as(s"step_${i}_ts"))
    }
    val reached = (1 to steps.size)
      .map(i => when(col(s"step_${i}_ts").isNotNull, 1).otherwise(0))
      .reduce(_ + _)
    val started = acc.withColumn("furthest_step", reached)
    if (!emitAllKeys) started
    else
      // one distinct-key agg over the same scan + a keyed left join —
      // the starter frame is one row per step-1 key, so the join's
      // small side is output-sized, never log-sized
      df.select(col(keyCol)).distinct()
        .join(started, Seq(keyCol), "left")
        .withColumn("furthest_step", coalesce(col("furthest_step"), lit(0)))
  }

  /** Cohort retention: bucket every key by its FIRST activity period
    * (floor of days since `epochDay` divided by `periodDays` — fixed
    * UTC periods, no calendar-week engine variance), then count, for
    * each (cohort, period offset), the distinct keys active in that
    * period. Offset 0 is the cohort itself, so `n_active` at offset 0 is
    * the cohort size. Output: `cohort_period`, `period_offset`,
    * `n_active` — the retention-curve matrix.
    *
    * Shape: one keyed agg for first-activity, one distinct
    * (key, period) agg — both map-side partial over the same scan — a
    * key-joined attach of the cohort (broadcastable when keys are few,
    * keyed join at scale), and one final small agg; period arithmetic is
    * pure integer projection. No window anywhere. */
  def retentionCohorts(df: DataFrame, keyCol: String, tsCol: String,
      periodDays: Int = 7, epochDay: String = "1970-01-01"): DataFrame = {
    require(periodDays >= 1, "periodDays >= 1")
    val period = floor(datediff(col(tsCol).cast("date"), lit(epochDay).cast("date"))
      .cast("long") / periodDays).cast("long")
    val active = df.select(col(keyCol), period.as("_p")).distinct()
    val cohort = active.groupBy(col(keyCol)).agg(min(col("_p")).as("cohort_period"))
    active.join(cohort, Seq(keyCol))
      .groupBy(col("cohort_period"),
        (col("_p") - col("cohort_period")).as("period_offset"))
      .agg(count(lit(1)).as("n_active"))
  }

  /** Trailing time-RANGE rolling aggregates: for every event, the sum and
    * count of `valueCol` over the key's events in `[ts − window, ts]` —
    * the moving-average / velocity / rate-limit feature every
    * product-analytics and fraud surface computes. A RANGE frame (not
    * ROWS): equal timestamps are peers and aggregate together, so the
    * result is deterministic with no tiebreak contract (the q128 ROWS
    * frame is the complement — positional history, total order
    * required). Appends `roll_sum`, `roll_cnt` — BOTH over `valueCol`:
    * a NULL value contributes to neither, so `roll_sum / roll_cnt` is
    * always the mean of the summed values (the [[anomalies]] count(v)
    * convention; counting ROWS would desynchronize sum and count).
    *
    * Shape: ONE key-partitioned Exchange + one sort; the range frame
    * advances two pointers over each key's sorted history (Spark's
    * bounded-preceding RANGE implementation), so per-task state is the
    * window's event span, never the whole history. `valueCol` must be
    * integral (the [[graft.functions.Portable]] rule — sum it as cents /
    * micro-units; an order-dependent float sum would never replay). */
  def rollingAgg(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, window: String): DataFrame = {
    val micros = Relational.intervalMicros(window)
    val w = Window.partitionBy(col(keyCol))
      .orderBy(unix_micros(col(tsCol).cast("timestamp")))
      .rangeBetween(-micros, 0)
    // one projection, so both aggregates land in ONE Window node over a
    // single sort (chained withColumns split into two Window+Sort pairs)
    df.select(df.columns.map(col) :+
      sum(col(valueCol).cast("long")).over(w).as("roll_sum") :+
      count(col(valueCol).cast("long")).over(w).as("roll_cnt"): _*)
  }

  /** Exact z-score anomaly flags over a trailing window: an event is
    * anomalous when its squared deviation from the mean of the key's
    * STRICTLY-EARLIER events in `[ts − window, ts)` exceeds
    * `z²` × their variance — self-exclusion on purpose (a spike must
    * not mask itself by inflating its own baseline; equal-timestamp
    * peers are likewise excluded as not-yet-known). The test is the
    * cross-multiplied integer identity
    * `100·(v·n − S)² > z2centi·(n·Q − S²)` (S = Σv, Q = Σv², n = prior
    * count) — no float mean/stddev/sqrt anywhere, so the flag replays
    * bit-for-bit in any engine. Products ride DECIMAL(38,0)
    * (Spark's 128-bit decimal ≡ DuckDB's HUGEINT): v·n − S squared
    * overflows i64 at ~3·10⁹, reachable with big values × long windows.
    * `z2centi` is z² × 100 (e.g. 900 = 3σ, 200 ≈ 1.41σ); rows with
    * fewer than `minPrior` earlier events are never flagged (a 1-point
    * baseline has no variance to test against). Appends `n_prior`,
    * `is_anomaly`. `valueCol` must be integral (cents/micro-units).
    *
    * Shape: identical to [[rollingAgg]] — ONE key Exchange, one sort,
    * one Window node carrying all three running sums. */
  def anomalies(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, window: String, z2centi: Long,
      minPrior: Int = 2): DataFrame = {
    require(z2centi >= 1, "z2centi >= 1 (z-squared x 100)")
    require(minPrior >= 2, "minPrior >= 2 (variance needs two points)")
    val micros = Relational.intervalMicros(window)
    val w = Window.partitionBy(col(keyCol))
      .orderBy(unix_micros(col(tsCol).cast("timestamp")))
      .rangeBetween(-micros, -1)
    val v = col(valueCol).cast("long")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    // count(v), not count(*): a NULL value contributes nothing to the
    // sums, so counting its ROW would desynchronize n from S/Q and make
    // the variance identity wrong for every later event in the window
    val withSums = df.select(df.columns.map(col) :+
      count(v).over(w).as("n_prior") :+
      sum(v).over(w).as("_S") :+
      sum(v * v).over(w).as("_Q"): _*)
    val lhs = lit(100) * (dec(v) * dec(col("n_prior")) - dec(col("_S"))) *
      (dec(v) * dec(col("n_prior")) - dec(col("_S")))
    val rhs = lit(z2centi) * (dec(col("n_prior")) * dec(col("_Q")) -
      dec(col("_S")) * dec(col("_S")))
    // With v non-null and n_prior (count of non-null values) past
    // minPrior, the sums are non-null — a NULL comparison can then only
    // mean decimal(38,0) overflow (Spark nulls it; DuckDB's HUGEINT
    // reaches ~1.7e38 and would still compute) — fail loudly rather
    // than emit a silent NULL flag the oracle disagrees with. A NULL
    // value itself is unscorable: flag NULL, never a crash.
    val cmp = lhs > rhs
    withSums
      .withColumn("is_anomaly",
        when(v.isNull, lit(null).cast("int"))
          .when(col("n_prior") < minPrior, lit(0))
          .when(cmp.isNotNull, cmp.cast("int"))
          .otherwise(raise_error(lit(
            "anomalies: decimal(38,0) overflow in the z-test products — " +
              "rescale valueCol (coarser units) or shorten the window"))))
      .drop("_S", "_Q")
  }

  /** Item co-occurrence (market-basket pairs): for every unordered item
    * pair, the number of groups (sessions, baskets, users) containing
    * BOTH, kept at `minGroups` support — the association-mining
    * primitive behind "users who did X also did Y". Items dedup within
    * a group first (co-presence, not co-frequency), then pairs
    * enumerate per group with `a < b`, so each pair counts a group
    * once. Output: `(item_a, item_b, n_groups)`.
    *
    * Shape: one distinct (group, item) projection, then a group-keyed
    * self-join — candidate volume is Σ items-per-group², bounded by
    * group SIZE (a session holds tens of distinct items), never by item
    * vocabulary or corpus size; the pair aggregation combines map-side.
    *
    * Mega-groups: a group with n distinct items contributes n² candidate
    * rows, all under ONE join key. AQE's skew-join splitting spreads a
    * planted 10k-item basket's 10⁸ pairs across tasks (probed —
    * BASELINE.md r8 ScaleProbe), so a rare outlier completes rather than
    * OOMing one executor; but the n² WORK is inherent to the semantics,
    * so a caller who would rather refuse than pay it passes
    * `maxItemsPerGroup` — any larger group fails loudly with a pointer
    * to [[Relational.keySkewProfile]] (profile first, then cap, filter,
    * or accept). 0 = unbounded (the association-mining default). */
  def coOccurrence(df: DataFrame, groupCol: String, itemCol: String,
      minGroups: Long = 1, maxItemsPerGroup: Long = 0): DataFrame = {
    require(minGroups >= 1, "minGroups >= 1")
    require(maxItemsPerGroup >= 0, "maxItemsPerGroup >= 0 (0 = unbounded)")
    val gi0 = df.select(col(groupCol).as("_g"), col(itemCol).as("_i")).distinct()
    val gi = graft.CacheScope.track((
      if (maxItemsPerGroup == 0) gi0
      else {
        // one keyed count over the frame being cached anyway; the guard
        // rides each row so the failure names the offending group
        val sizes = gi0.groupBy("_g").agg(count(lit(1)).as("_gn"))
        gi0.join(sizes, "_g")
          .select(col("_g"),
            when(col("_gn") <= maxItemsPerGroup, col("_i"))
              .otherwise(raise_error(concat(
                lit("coOccurrence: group "), col("_g").cast("string"),
                lit(s" has more than $maxItemsPerGroup distinct items — " +
                  "run key_skew_profile over the group column, then cap, " +
                  "filter, or raise maxItemsPerGroup")))).as("_i"))
      }).cache())
    gi.join(gi.select(col("_g"), col("_i").as("_j")), Seq("_g"))
      .filter(col("_i") < col("_j"))
      .groupBy(col("_i").as("item_a"), col("_j").as("item_b"))
      .agg(count(lit(1)).as("n_groups"))
      .filter(col("n_groups") >= minGroups)
  }

  /** Association rules over group/item co-presence — [[coOccurrence]]
    * extended to the DIRECTED rule surface: for every ordered pair
    * (antecedent → consequent) with joint support ≥ `minGroups`, the
    * exact integer confidence and lift in ppm:
    * `confidence_ppm = ⌊n_both·10⁶ / n_ante⌋` (P(cons|ante)) and
    * `lift_ppm = ⌊n_both·N·10⁶ / (n_ante·n_cons)⌋` (how far above
    * independence) — both via exact floor division, products riding
    * DECIMAL(38,0) (the [[anomalies]] convention: n_both·N·10⁶ wraps
    * i64 at corpus scale), a lift past i64 ppm failing loudly. Output:
    * `(antecedent, consequent, n_both, n_ante, n_cons, confidence_ppm,
    * lift_ppm)` — both directions of each pair (confidence is
    * asymmetric).
    *
    * Shape: the [[coOccurrence]] group-keyed self-join (candidates
    * bounded by group size², never vocabulary) + one per-item group
    * count + the 1-row total as a collected scalar; rules join item
    * counts on the item key (broadcastable — vocabulary-sized). */
  def associationRules(df: DataFrame, groupCol: String, itemCol: String,
      minGroups: Long = 1): DataFrame = {
    require(minGroups >= 1, "minGroups >= 1")
    val gi = graft.CacheScope.track(
      df.select(col(groupCol).as("_g"), col(itemCol).as("_i")).distinct().cache())
    rulesFromGroupItems(gi, minGroups)
  }

  /** The rule-shaping half of [[associationRules]] over an ALREADY-
    * DISTINCT `(_g, _i)` co-presence table — shared with the streaming
    * twin, whose table is the drained incremental aggregation
    * (co-presence counts merge; the ppm arithmetic shapes the drained
    * state). */
  private[graft] def rulesFromGroupItems(gi: DataFrame, minGroups: Long): DataFrame = {
    // total distinct groups: a 1-row scalar fetch, not row data
    val nGroups = gi.select(col("_g")).distinct().count()
    val itemN = gi.groupBy(col("_i")).agg(count(lit(1)).as("_ni"))
    val pairs = gi.join(gi.select(col("_g"), col("_i").as("_j")), Seq("_g"))
      .filter(col("_i") =!= col("_j"))
      .groupBy(col("_i"), col("_j"))
      .agg(count(lit(1)).as("n_both"))
      .filter(col("n_both") >= minGroups)
    val dec = (c: Column) => c.cast("decimal(38,0)")
    def floorDiv(num: Column, den: Column): Column =
      (num - pmod(num, den)) / den
    val conf = floorDiv(dec(col("n_both")) * dec(lit(1000000L)), dec(col("n_ante")))
    val lift = floorDiv(dec(col("n_both")) * dec(lit(nGroups)) * dec(lit(1000000L)),
      dec(col("n_ante")) * dec(col("n_cons")))
    pairs
      .join(itemN.select(col("_i"), col("_ni").as("n_ante")), Seq("_i"))
      .join(itemN.select(col("_i").as("_j"), col("_ni").as("n_cons")), Seq("_j"))
      .select(col("_i").as("antecedent"), col("_j").as("consequent"),
        col("n_both"), col("n_ante"), col("n_cons"),
        // confidence ≤ 10⁶ by construction; lift can exceed i64 ppm
        // only degenerately — fail loudly, never wrap (ADVICE r7 rule)
        conf.cast("long").as("confidence_ppm"),
        when(lift.between(dec(lit(Long.MinValue)), dec(lit(Long.MaxValue))),
          lift.cast("long"))
          .otherwise(raise_error(lit(
            "associationRules: lift_ppm exceeds i64 — raise minGroups " +
              "or prune singleton items"))).as("lift_ppm"))
  }

  /** One-sided CUSUM changepoint flags: per key in time order, the
    * cumulative-sum statistic
    * `S_i = max(0, S_{i−1} + (v_i − target − slack))` with `is_change`
    * = 1 once `S_i > threshold` — the classic upward-drift detector
    * (Page's test), in exact integer units (`valueCol` as cents /
    * micro-units; caller supplies `target` and `slack` in the same
    * units — estimate them upstream with [[Relational.keySkewProfile]]-
    * style profiling or a trailing [[rollingAgg]] mean).
    *
    * The nonlinear recurrence runs DISTRIBUTED via the prefix-min
    * identity `S_i = C_i − min(0, min_{j≤i} C_j)` (C = running sum of
    * deviations): two running aggregates over ONE key-partitioned sort —
    * no sequential per-key scan, no UDF state. Sums ride DECIMAL(38,0)
    * (i64-safe at any history length); an S past i64 fails loudly. A
    * NULL value contributes nothing to C (the [[rollingAgg]]
    * convention) and its own flag is NULL. Appends `cusum`,
    * `is_change`. Ties in `tsCol` are ordered by `tiebreak` — make it
    * total, or equal-time rows are partition-order-dependent. */
  def cusumChangepoints(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, target: Long, slack: Long, threshold: Long,
      tiebreak: Seq[Column] = Nil): DataFrame = {
    require(threshold >= 1, "threshold >= 1")
    require(slack >= 0, "slack >= 0")
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).cast("timestamp") +: tiebreak: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dev = (col(valueCol).cast("long") - lit(target) - lit(slack))
      .cast("decimal(38,0)")
    // coalesce: a key whose history so far is all-NULL has an empty sum
    // (Spark: NULL) — the statistic there is 0, not a poisoned NULL
    val withC = df.select(df.columns.map(col) :+
      coalesce(sum(dev).over(w), lit(0).cast("decimal(38,0)")).as("_C"): _*)
    // the running MIN of C needs C materialized first (windows do not
    // nest) — same partitioning and ordering, so both Window nodes share
    // one Exchange + sort
    val s = col("_C") - least(min(col("_C")).over(w), lit(0).cast("decimal(38,0)"))
    withC
      .withColumn("_S", s)
      .select(df.columns.map(col) :+
        when(col("_S").between(lit(Long.MinValue).cast("decimal(38,0)"),
            lit(Long.MaxValue).cast("decimal(38,0)")), col("_S").cast("long"))
          .otherwise(raise_error(lit(
            "cusumChangepoints: statistic exceeds i64 — rescale valueCol " +
              "(coarser units)"))).as("cusum") :+
        when(col(valueCol).isNull, lit(null).cast("int"))
          .otherwise((col("_S") > lit(threshold).cast("decimal(38,0)")).cast("int"))
          .as("is_change"): _*)
  }

  /** Event-transition matrix (first-order Markov counts): for each key,
    * walk its events in time order and count every consecutive
    * `(from, to)` event-type transition — the navigation/behavior model
    * behind next-step prediction and anomalous-flow detection. The
    * order is `(tsCol, tiebreak)` per key (make it total, the
    * [[Relational.topKPerGroup]] rule). Output:
    * `(from_type, to_type, n_transitions)`.
    *
    * Shape: one key-partitioned lag window (per-task state = one key's
    * history) + one map-side-combined pair aggregation — |types|² result
    * rows regardless of corpus size. */
  def transitionMatrix(df: DataFrame, keyCol: String, tsCol: String,
      typeCol: String, tiebreak: Seq[Column] = Nil): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol) +: tiebreak: _*)
    df.select(col(keyCol), col(typeCol).as("to_type"),
        lag(col(typeCol), 1).over(w).as("from_type"))
      .filter(col("from_type").isNotNull)
      .groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n_transitions"))
  }

  /** Period-over-period metrics: per (key, fixed UTC period) value
    * totals with the IMMEDIATELY-PRECEDING period's total attached and
    * the exact growth in ppm — the WoW/MoM dashboard primitive. The
    * previous period attaches by an equi self-join on (key, period − 1),
    * NOT a lag window: a gap period then yields NULL prev (the BI
    * convention — growth vs a 3-periods-ago number is not
    * "period-over-period"), and no per-key window sort exists anywhere.
    * `growth_ppm` = floor((cur − prev)·10⁶ / prev) via the exact
    * (num − pmod)/den division; NULL when there is no previous period
    * or its total is ≤ 0 (a sign-mixed denominator has no meaningful
    * ratio). Output: key, `period`, `total`, `prev_total`, `delta`,
    * `growth_ppm`. `valueCol` must be integral.
    *
    * Shape: one keyed agg (map-side combined) + one equi self-join of
    * the period-grain table against itself — both sides period-grain,
    * never row-grain. */
  def periodOverPeriod(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, periodDays: Int, epochDay: String = "1970-01-01"): DataFrame = {
    require(periodDays >= 1, "periodDays >= 1")
    val period = floor(datediff(col(tsCol).cast("date"), lit(epochDay).cast("date"))
      .cast("long") / periodDays).cast("long")
    val totals = graft.CacheScope.track(
      df.select(col(keyCol).as("_k"), period.as("period"),
          col(valueCol).cast("long").as("_v"))
        .groupBy(col("_k"), col("period"))
        .agg(sum(col("_v")).as("total"))
        .cache())
    periodOverPeriodFromTotals(totals, keyCol)
  }

  /** The adjacent-join/growth half of [[periodOverPeriod]] over an
    * ALREADY-AGGREGATED `(_k, period, total)` table — shared with the
    * streaming twin, whose totals are the drained incremental
    * aggregation (totals merge; the adjacent join shapes the drained
    * state). */
  private[graft] def periodOverPeriodFromTotals(totals: DataFrame,
      keyCol: String): DataFrame = {
    val prev = totals.select(col("_k"), (col("period") + 1).as("period"),
      col("total").as("prev_total"))
    // ppm numerator rides DECIMAL(38,0) (the anomalies convention):
    // delta × 1e6 wraps i64 silently at |delta| ~9.2e12 — reachable in
    // micro-units at the 100-TB envelope. The floor-division difference
    // is an exact multiple of den, so the decimal division is exact;
    // a quotient past i64 (delta/prev ratio > ~9.2e12) fails loudly
    // rather than emitting a silent NULL the oracle disagrees with.
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val num = dec(col("total") - col("prev_total")) * dec(lit(1000000L))
    val den = dec(col("prev_total"))
    val ppm = (num - pmod(num, den)) / den
    totals.join(prev, Seq("_k", "period"), "left")
      .select(col("_k").as(keyCol), col("period"), col("total"),
        col("prev_total"),
        (col("total") - coalesce(col("prev_total"), lit(0L))).as("delta"),
        when(col("prev_total") > 0,
          when(ppm.between(dec(lit(Long.MinValue)), dec(lit(Long.MaxValue))),
            ppm.cast("long"))
            .otherwise(raise_error(lit(
              "periodOverPeriod: growth_ppm exceeds i64 — rescale " +
                "valueCol (coarser units) or widen periodDays")))
        ).as("growth_ppm"))
  }

  /** Interval concurrency sweep: for every distinct change instant, the
    * number of half-open `[start, end)` intervals active at-or-after it —
    * peak-concurrency / capacity-planning over sessions, calls, or job
    * runs. Deltas (+1 at start, −1 at end) aggregate PER TIMESTAMP first,
    * so coincident starts/ends net out and tie ordering never matters;
    * `n_active` at t is Σ deltas with ts ≤ t (the post-state). An
    * interval with start == end nets to zero and is invisible, exactly
    * the half-open semantics. Output: `(ts, n_active)`.
    *
    * The running sum needs a GLOBAL time order — the classic
    * one-partition window killer — so it runs as the distributed
    * two-phase prefix sum (the [[TextOps.sequentialPack]] discipline):
    * range-partition by time, cumsum per partition in parallel, shift
    * each partition by the collected per-partition totals (a
    * #partitions-row model fetch). The partitioned frame is pinned
    * MEMORY_AND_DISK across its two consumers and self-releases; the
    * result rides a tracked checkpoint. */
  def concurrencySweep(df: DataFrame, startCol: String, endCol: String,
      openEndAt: Option[Column] = None): DataFrame = {
    // NULL-hardening (the lengthBucketBatches convention): a NULL
    // start/end would become a null-ts delta that sorts first in the
    // ascending prefix sum and silently offsets EVERY later n_active —
    // fail loudly instead of corrupting the whole sweep. A NULL *end*
    // commonly means a still-open interval, so `openEndAt` (the sweep
    // horizon) optionally clamps those to a close instant instead of
    // failing — the standard "open intervals count as active through the
    // horizon" reading. NULL starts always fail: an interval with no
    // start has no defined +1 instant under any convention.
    def guarded(c: String) =
      when(col(c).isNull, raise_error(lit(
        s"concurrencySweep: NULL $c — repair or filter open/NULL " +
          "intervals upstream, or pass openEndAt to clamp open ends"))
        .cast("timestamp"))
        .otherwise(col(c).cast("timestamp"))
    def guardedEnd = openEndAt match {
      case Some(h) => coalesce(col(endCol).cast("timestamp"), h.cast("timestamp"))
      case None => guarded(endCol)
    }
    concurrencyFromDeltas(
      // ONE scan emits both deltas per interval (a self-union of the
      // input would execute its whole upstream lineage twice — Spark
      // does not CSE identical union subtrees)
      df.select(explode(array(
          struct(guarded(startCol).as("_t"), lit(1L).as("_d")),
          struct(guardedEnd.as("_t"), lit(-1L).as("_d")))).as("_e"))
        .select(col("_e._t").as("_t"), col("_e._d").as("_d"))
        .groupBy("_t").agg(sum(col("_d")).as("_d")))
  }

  /** The prefix-sum half of [[concurrencySweep]] over an
    * ALREADY-AGGREGATED per-timestamp delta table `(_t, _d)` — shared
    * with the streaming twin, whose delta table is the drained
    * incremental aggregation (deltas merge; the global cumsum doesn't,
    * so it shapes the drained state). Rides the shared
    * [[Relational.distributedPrefixSum]]. */
  private[graft] def concurrencyFromDeltas(deltas: DataFrame): DataFrame = {
    // cached (r15): the instant-grain delta table is the prefix sum's
    // whole input — caching it makes the count cheap and lets a
    // model-sized grain take distributedPrefixSum's single-window fast
    // path; past the bound the two-phase path reads the cache instead
    // of recomputing the delta aggregation into its range persist.
    // retained, not tracked: the prefix sum materializes its
    // checkpoint before returning, so the grain cache is DEAD on return
    // — the operator self-releases it (the CacheLifecycleSpec pin:
    // only the result checkpoint may outlive the call).
    graft.CacheScope.retained { hold =>
      val g = hold(deltas.cache())
      Relational.distributedPrefixSum(g, Seq(col("_t")), "_d", knownRows = g.count())
        .select(col("_t").as("ts"), col("_cum_incl").cast("long").as("n_active"))
    }
  }

  /** Regular-grid gap fill over a keyed time series: resample each key's
    * series onto a fixed `step` grid from its first to its last
    * observation, carrying observed values across gaps. Observations
    * aggregate per grid slot via `valueAgg` over `valueCol` (slots with
    * data are exact); empty slots fill with BOTH endpoints' context:
    * `locf` (last observation carried forward), `nocb` (next observation
    * carried backward), and `interp_micro` — the linear interpolation
    * between the surrounding observed slots in integer MICRO-units of
    * the value: `locf + (nocb − locf) · stepsSinceObs ÷ stepsBetween`
    * computed with integer multiply/divide only, so the fill replays
    * bit-for-bit in any engine (the [[graft.functions.Portable]] rule;
    * a float lerp would drift). Output: key, `slot_ts`, `observed`
    * (0/1), `locf`, `nocb`, `interp_micro`.
    *
    * Shape: per-key min/max is one keyed agg; the grid spine is a
    * per-key `sequence` generator (rows ∝ output, never a cross join);
    * observed slots attach by (key, slot) equi-join; the two carries are
    * running `last/first(ignoreNulls)` windows over ONE key-partitioned
    * sort shared by all four window expressions. Slot count per key is
    * bounded by (span / step) — size `step` to the series' natural
    * cadence exactly as a production resampler does. */
  def gapFill(df: DataFrame, keyCol: String, tsCol: String, valueCol: String,
      step: String, valueAgg: Column => Column = sum,
      maxSlotsPerKey: Long = 0): DataFrame = {
    require(maxSlotsPerKey >= 0, "maxSlotsPerKey >= 0 (0 = unbounded)")
    val micros = Relational.intervalMicros(step)
    val slot = (floor(unix_micros(col(tsCol).cast("timestamp")) / micros) * micros)
      .cast("long")
    val obs = df.select(col(keyCol), slot.as("_slot"),
        col(valueCol).cast("long").as("_v"))
      .groupBy(col(keyCol), col("_slot"))
      .agg(valueAgg(col("_v")).cast("long").as("_val"))
    // per-key state is SPAN-proportional ((hi−lo)/step grid slots per
    // key — the family's one span-proportional operator): a key with a
    // years-long span at fine step lands one multi-hundred-k-row task.
    // `maxSlotsPerKey` is the refuse-loudly guard (the coOccurrence
    // convention): any wider key fails naming itself — coarsen `step`,
    // split the series, or raise the cap. 0 = unbounded.
    // the guard's slot count uses the decimal(38,0) floor-division idiom
    // too: long/long is double true-division, so a span near i64 micros
    // would make the count approximate (guard-only impact, but keep every
    // division site on the same exact lattice)
    val nSlots = {
      val span = (col("_hi") - col("_lo")).cast("decimal(38,0)")
      val m = lit(micros).cast("decimal(38,0)")
      ((span - pmod(span, m)) / m).cast("long") + 1
    }
    val hiGuarded =
      if (maxSlotsPerKey == 0) col("_hi")
      else when(nSlots <= maxSlotsPerKey, col("_hi"))
        .otherwise(raise_error(concat(
          lit("gapFill: key "), col(keyCol).cast("string"),
          lit(s" spans more than $maxSlotsPerKey grid slots at step " +
            s"'$step' — coarsen step, split the series, or raise " +
            "maxSlotsPerKey"))))
    val spine = obs.groupBy(col(keyCol))
      .agg(min(col("_slot")).as("_lo"), max(col("_slot")).as("_hi"))
      .select(col(keyCol),
        explode(sequence(col("_lo"), hiGuarded, lit(micros))).as("_slot"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("_slot"))
    val back = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    // slot index of the nearest observed slot on each side: the lerp
    // needs distances, and carrying the OBSERVED slot index (not just
    // its value) keeps the arithmetic integral end to end
    val idx = (col("_slot") / micros).cast("long")
    spine.join(obs, Seq(keyCol, "_slot"), "left")
      .withColumn("_i", idx)
      .withColumn("observed", col("_val").isNotNull.cast("int"))
      .withColumn("locf", last(col("_val"), ignoreNulls = true).over(back))
      .withColumn("nocb", first(col("_val"), ignoreNulls = true).over(fwd))
      .withColumn("_li", last(when(col("_val").isNotNull, col("_i")), ignoreNulls = true).over(back))
      .withColumn("_ni", first(when(col("_val").isNotNull, col("_i")), ignoreNulls = true).over(fwd))
      .withColumn("interp_micro", {
        // exact integral floor-division (a - pmod(a, b)) / b — the
        // stratifiedSplit idiom: the difference is an exact multiple of
        // b, so the division is exact and engine-independent (`div`
        // truncates toward zero while other engines floor — this form
        // floors everywhere). The numerator rides DECIMAL(38,0) (the
        // anomalies convention): (nocb − locf) × 1e6 × gap wraps i64
        // silently at product ~9.2e18 — reachable with micro-unit
        // values across a long gap; a result past i64 fails loudly.
        val dec = (c: Column) => c.cast("decimal(38,0)")
        val num = dec(col("nocb") - col("locf")) * dec(lit(1000000L)) *
          dec(col("_i") - col("_li"))
        val den = dec(col("_ni") - col("_li"))
        val lerp = (num - pmod(num, den)) / den
        val out = when(col("observed") === 1, dec(col("_val")) * dec(lit(1000000L)))
          .when(col("locf").isNull, dec(col("nocb")) * dec(lit(1000000L)))
          .when(col("nocb").isNull, dec(col("locf")) * dec(lit(1000000L)))
          .otherwise(dec(col("locf")) * dec(lit(1000000L)) + lerp)
        // with no observed value on either side there is nothing to
        // carry — NULL, never a crash; past that point a NULL `out` can
        // only mean overflow (decimal wrap or a result past i64)
        when(col("locf").isNull && col("nocb").isNull, lit(null).cast("long"))
          .when(out.between(dec(lit(Long.MinValue)), dec(lit(Long.MaxValue))),
            out.cast("long"))
          .otherwise(raise_error(lit(
            "gapFill: interp_micro exceeds i64 — rescale valueCol " +
              "(coarser units) or coarsen step")))
      })
      .select(col(keyCol), timestamp_micros(col("_slot")).as("slot_ts"),
        col("observed"), col("locf"), col("nocb"), col("interp_micro"))
  }
}
