package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Relational operator library (SURVEY.md §2C): the pieces of the
  * reference's SQL surface that aren't a bare Spark call, each expressed so
  * Catalyst keeps pushdown/pruning and the shuffle count is minimal.
  */
object Relational {

  /** Latest-record-per-key — the table view of a compacted topic
    * (reference: `sample-data/variables.env:6` cleanup.policy=compact for
    * `telecom_italia_grid`; SURVEY.md §2 C9).
    *
    * One hash aggregation (map-side partial `max_by` then one shuffle on
    * the key) — no window sort, no row_number. `ordering` is the compaction
    * order (offset in Kafka; any strict total order here).
    */
  def latestByKey(df: DataFrame, keys: Seq[String], ordering: Seq[Column]): DataFrame = {
    val payload = df.columns.filterNot(keys.contains).toSeq
    val packed = df.groupBy(keys.map(col): _*).agg(
      max_by(struct(payload.map(col): _*), struct(ordering: _*)).as("_latest"))
    packed.select(keys.map(col) ++ payload.map(c => col(s"_latest.$c").as(c)): _*)
  }

  /** Deterministic dedup: keep exactly one row per `dupKeys` group — the
    * row minimal under `ordering` (e.g. smallest id = first-seen).
    * Exact-duplicate removal for the LLM-pipeline surface; same single
    * shuffle shape as [[latestByKey]].
    */
  def keepFirstBy(df: DataFrame, dupKeys: Seq[String], ordering: Seq[Column],
      hashWideKeys: Boolean = false): DataFrame = {
    if (hashWideKeys) {
      // Group by an md5 digest of the keys: for document-text dedup the
      // grouping key drops from the whole document to 32 bytes, halving
      // shuffled bytes (the text still rides once inside the kept row).
      // Collision probability ~n²/2¹²⁸ — immaterial at any corpus size.
      val digest = md5(to_json(struct(dupKeys.map(col): _*)))
      df.groupBy(digest.as("_kd"))
        .agg(min_by(struct(df.columns.map(col): _*), struct(ordering: _*)).as("_first"))
        .select(df.columns.map(c => col(s"_first.$c").as(c)): _*)
    } else {
      val payload = df.columns.filterNot(dupKeys.contains).toSeq
      val packed = df.groupBy(dupKeys.map(col): _*).agg(
        min_by(struct(payload.map(col): _*), struct(ordering: _*)).as("_first"))
      // original column ORDER (not keys-first): the flag must be a pure
      // performance knob — both branches return identically-shaped frames
      packed.select(df.columns.toSeq.map(c =>
        if (dupKeys.contains(c)) col(c) else col(s"_first.$c").as(c)): _*)
    }
  }

  /** Top-k rows per group under a strict total order (SURVEY.md §2 C11).
    * `orderBy` must be a total order (include a unique tiebreak column) or
    * results are nondeterministic. Single shuffle; rank truncation happens
    * before any downstream join.
    */
  def topKPerGroup(df: DataFrame, partitionBy: Seq[Column], orderBy: Seq[Column], k: Int): DataFrame =
    df.withColumn("_rn", row_number().over(
        Window.partitionBy(partitionBy: _*).orderBy(orderBy: _*)))
      .filter(col("_rn") <= k)
      .drop("_rn")

  /** Deterministic per-stratum quota sample with BOUNDED aggregation
    * state: the same min(k, |stratum|) rows per `stratumCol` that
    * [[topKPerGroup]] under the md5 content-hash order selects (the q80
    * semantics — reproducible engine-over-engine), but computed as a
    * bounded top-k AGGREGATION ([[graft.catalyst.TopKPairsAgg]]) instead of a
    * `row_number` window sort.
    *
    * The window path sorts every row of a stratum inside one partition —
    * correct, but a billion-doc hot stratum becomes a single-task sort.
    * Here each map task reduces its slice to ≤ k (hash, id) pairs before
    * the shuffle (map-side partial combine), so per-stratum shuffled
    * bytes are #map-tasks × k and no task ever sorts more than its own
    * slice — the hot-stratum shape. `idCol` must be numeric (it rides
    * the aggregation buffer as a long; the output column is cast back to
    * its input type, so the two paths return identical frames). */
  def quotaSampleByHash(df: DataFrame, stratumCol: String, idCol: String,
      k: Int): DataFrame = {
    require(k >= 1, "k >= 1")
    // integral ONLY: a fractional id would truncate in the long buffer,
    // merging distinct rows and emitting ids that don't exist
    val integral: Set[org.apache.spark.sql.types.DataType] = Set(
      org.apache.spark.sql.types.ByteType, org.apache.spark.sql.types.ShortType,
      org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.LongType)
    require(integral.contains(df.schema(idCol).dataType),
      s"idCol '$idCol' must be an integral type (rides the aggregation buffer as a long); " +
        s"got ${df.schema(idCol).dataType.catalogString} — re-key or use topKPerGroup")
    df.select(col(stratumCol),
        graft.functions.Portable.md5Long60(col(idCol).cast("string")).as("_u"),
        col(idCol).cast("long").as("_id"))
      .groupBy(stratumCol)
      .agg(graft.catalyst.TopKPairs.topKPairs(col("_u"), col("_id"), k).as("_top"))
      .select(col(stratumCol), explode(col("_top")).as("_e"))
      .select(col(stratumCol),
        col("_e._2").cast(df.schema(idCol).dataType).as(idCol))
  }

  /** Deterministic token-budget mixture draw — "assemble a training mix
    * of B_s tokens from each stratum s": rows are consumed per stratum
    * in the content-hash total order (the [[quotaSampleByHash]]
    * convention — reproducible, engine-independent, no `rand()`) and a
    * row is kept iff its stratum's budget was not yet exhausted BEFORE
    * it — so the budget-crossing row is included and every budgeted
    * stratum reaches at least its budget unless it runs out of rows.
    * Strata absent from `budgets` are dropped entirely. Output:
    * `(stratum, id, n_tokens, cum_before)`.
    *
    * Shape: one per-stratum running-sum window under the hash order —
    * budgets are config-sized, and a running sum needs a total order, so
    * each stratum sorts in one task (the q80 window-path caveat); for a
    * billion-doc hot stratum, bound the window's input first (e.g.
    * [[quotaSampleByHash]] with k sized to budget/min-doc-tokens, or
    * [[graft.operators.TextOps.sequentialPack]]'s distributed prefix sum
    * keyed by stratum) — the draw itself is unchanged. */
  def tokenBudgetSample(df: DataFrame, stratumCol: String, idCol: String,
      tokensCol: String, budgets: Seq[(String, Long)]): DataFrame = {
    require(budgets.nonEmpty && budgets.forall(_._2 >= 1), "budgets: positive, non-empty")
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(graft.functions.Portable.md5Long60(col(idCol).cast("string")), col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.select(col(stratumCol), col(idCol), col(tokensCol).cast("long").as("n_tokens"))
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("_budget",
        element_at(typedLit(budgets.toMap), col(stratumCol)))
      .filter(col("_budget").isNotNull && col("cum_before") < col("_budget"))
      .select(col(stratumCol), col(idCol), col("n_tokens"), col("cum_before"))
  }

  /** Deterministic train/valid/test split: every row gets a stable label
    * from a content hash of `keyCol` — the split a training pipeline must
    * reproduce run-over-run and engine-over-engine (no `rand()`, no row
    * numbering: adding or repartitioning data never flips an existing
    * row's split). `cuts` are cumulative percentage bounds over a 100-way
    * md5 bucket, e.g. `("train" -> 80, "valid" -> 90, "test" -> 100)`.
    * Pure projection — no shuffle; cross-engine replayable
    * (`('0x'||substring(md5(x),1,15))::BIGINT % 100` in DuckDB). */
  def hashSplit(df: DataFrame, keyCol: String, cuts: Seq[(String, Int)]): DataFrame = {
    require(cuts.nonEmpty && cuts.last._2 == 100, "cuts must be cumulative and end at 100")
    require(cuts.map(_._2) == cuts.map(_._2).sorted, "cuts must be non-decreasing")
    val bucket = pmod(graft.functions.Portable.md5Long60(col(keyCol)), lit(100))
    val label = cuts.init.foldRight(lit(cuts.last._1)) { case ((name, cut), rest) =>
      when(bucket < cut, name).otherwise(rest)
    }
    df.withColumn("split", label)
  }

  /** Deterministic shard assignment for a training-data export: shard =
    * md5(key) mod `nShards` — content-addressed like [[hashSplit]], so a
    * row's shard never moves when data is added, repartitioned, or the
    * export re-run, and any engine (or the training loader itself) can
    * recompute the mapping from the key alone. Pure projection, no
    * shuffle. */
  def shardAssign(df: DataFrame, keyCol: String, nShards: Int): DataFrame = {
    require(nShards >= 1, "nShards >= 1")
    df.withColumn("shard_id",
      pmod(graft.functions.Portable.md5Long60(col(keyCol).cast("string")),
        lit(nShards)).cast("int"))
  }

  /** Per-shard manifest for [[shardAssign]]'s mapping — the frame a
    * training loader checks before consuming an export: row count, total
    * payload bytes (`bytesCol` summed), an order-independent content sum
    * (Σ md5(key) mod 2³⁰ — insensitive to row order, sensitive to any
    * added/dropped/substituted key), and the key range per shard.
    *
    * One keyed aggregation on the synthesized shard id (map-side partial
    * combine; ≤ nShards result rows) — no window, no second scan. All
    * exported columns are exact integers (the [[graft.functions.Portable]]
    * rule), so the manifest replays bit-for-bit in DuckDB. The content
    * sum's addends are < 2³⁰, so overflow needs ≳2³⁴ rows in ONE shard —
    * size `nShards` so a shard is a file, and that bound is unreachable. */
  def shardManifest(df: DataFrame, keyCol: String, bytesCol: String,
      nShards: Int): DataFrame =
    shardAssign(df, keyCol, nShards)
      .groupBy("shard_id")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col(bytesCol).cast("long")).as("total_bytes"),
        sum(pmod(graft.functions.Portable.md5Long60(col(keyCol).cast("string")),
          lit(1L << 30))).as("content_sum"),
        min(col(keyCol)).as("min_key"),
        max(col(keyCol)).as("max_key"))

  /** Write the sharded export (hive-partitioned parquet, one directory
    * per shard) and return the manifest computed FROM THE WRITTEN FILES —
    * not from the input — so the returned manifest certifies what landed
    * on disk; comparing it to `shardManifest(df, …)` is the caller's
    * end-to-end write check ([[RelationalSpec]] does exactly that). */
  def shardExport(df: DataFrame, keyCol: String, bytesCol: String,
      nShards: Int, path: String): DataFrame = {
    shardAssign(df, keyCol, nShards)
      .write.mode("overwrite").partitionBy("shard_id").parquet(path)
    val back = df.sparkSession.read.parquet(path)
    back.groupBy(col("shard_id").cast("int").as("shard_id"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col(bytesCol).cast("long")).as("total_bytes"),
        sum(pmod(graft.functions.Portable.md5Long60(col(keyCol).cast("string")),
          lit(1L << 30))).as("content_sum"),
        min(col(keyCol)).as("min_key"),
        max(col(keyCol)).as("max_key"))
  }

  /** Exact-count stratified split: within every stratum, allocate rows to
    * the named splits in EXACTLY the requested proportions (largest-
    * remainder / Hamilton apportionment over parts-per-million weights),
    * assigning rows in the deterministic md5 content-hash order — where
    * [[hashSplit]] gives each row an independent Bernoulli label (split
    * sizes only correct in expectation; a 200-row stratum at 1% val can
    * easily get 0 val rows), this guarantees a 1000-row stratum at
    * 900000/50000/50000 ppm yields exactly 900/50/50. The price of
    * exactness is rank-coupling: adding rows to a stratum can relabel
    * existing ones (hashSplit never does) — eval-set freezes should
    * hashSplit or snapshot; quota-accurate corpus builds belong here.
    *
    * Integer arithmetic end to end (ppm weights, exact floor/remainder),
    * so DuckDB replays the allocation bit-for-bit with no float drift.
    *
    * 100-TB shape: per-stratum counts are one keyed aggregation; the
    * (strata × splits) allocation table is config-sized and BROADCASTS
    * with its [lo, hi) rank intervals; rows take ONE row_number window
    * per stratum in md5 order — the q80 quota-sampling shape (for a
    * billion-row hot stratum the same md5-rank order admits the bounded
    * two-phase variant: per-stratum rank thresholds from the broadcast
    * allocation, then a filter — no single-task sort of the full
    * stratum's payload, only of its (hash, key) pairs). */
  def stratifiedSplit(df: DataFrame, stratumCol: String, keyCol: String,
      splits: Seq[(String, Long)]): DataFrame = {
    require(splits.nonEmpty, "at least one split required")
    require(splits.forall(_._2 >= 0), "split ppm weights must be >= 0")
    require(splits.map(_._2).sum == 1000000L,
      s"split ppm weights must sum to 1000000, got ${splits.map(_._2).sum}")
    val spark = df.sparkSession
    import spark.implicits._
    val M = lit(1000000L)
    val sdf = splits.zipWithIndex.map { case ((nm, ppm), i) => (nm, ppm, i) }
      .toDF("split", "_ppm", "_idx")
    val cnt = df.groupBy(col(stratumCol)).agg(count(lit(1)).as("_n"))
    // Hamilton apportionment per stratum, all integer: guaranteed floor
    // quotas, then the shortfall goes to the largest remainders (split
    // order breaks ties). Window functions over a config-sized frame.
    val wAll = Window.partitionBy(col(stratumCol))
    val wRem = Window.partitionBy(col(stratumCol))
      .orderBy(col("_rem").desc, col("_idx"))
    val wCum = Window.partitionBy(col(stratumCol)).orderBy(col("_idx"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val alloc = cnt.crossJoin(sdf)
      .withColumn("_prod", col("_n") * col("_ppm"))
      .withColumn("_floor",
        ((col("_prod") - pmod(col("_prod"), M)) / M).cast("long"))
      .withColumn("_rem", pmod(col("_prod"), M))
      .withColumn("_short", col("_n") - sum(col("_floor")).over(wAll))
      .withColumn("_rank", row_number().over(wRem))
      .withColumn("_c",
        col("_floor") + when(col("_rank") <= col("_short"), 1L).otherwise(0L))
      .withColumn("_lo", coalesce(sum(col("_c")).over(wCum), lit(0L)))
      .select(col(stratumCol), col("split"), col("_lo"),
        (col("_lo") + col("_c")).as("_hi"))
    val rn = row_number().over(Window.partitionBy(col(stratumCol)).orderBy(
      graft.functions.Portable.md5Long60(
        concat(col(keyCol).cast("string"), lit("#split"))),
      col(keyCol)))
    df.select(col(stratumCol), col(keyCol))
      .withColumn("_rn", rn)
      .join(broadcast(alloc), Seq(stratumCol))
      .filter(col("_rn") > col("_lo") && col("_rn") <= col("_hi"))
      .select(col(stratumCol), col(keyCol), col("split"))
  }

  /** Deterministic weighted training mix: rows of stratum s appear
    * `weight(s)` times in expectation — floor(w) guaranteed copies plus
    * one more iff the row's stable unit draw < frac(w). w < 1
    * subsamples, w = 1 passes through, w > 1 upsamples; strata absent
    * from `weights` are dropped. Adds `copy_idx` (0-based) so repeats
    * stay distinguishable downstream (per-epoch shuffles, pack ids).
    *
    * The mixture a training run must reproduce run-over-run and
    * engine-over-engine: the draw is a salted 60-bit md5 of `keyCol`
    * (no `rand()`, no row numbering — repartitioning or data growth
    * never flips an existing row's copy count), replayable in DuckDB as
    * `('0x'||substring(md5(key||'#mix'),1,15))::BIGINT / 2^60`. Pure
    * projection + per-row generator, no shuffle. */
  def weightedMixture(df: DataFrame, stratumCol: String, keyCol: String,
      weights: Seq[(String, Double)]): DataFrame = {
    require(weights.nonEmpty && weights.forall(_._2 >= 0), "weights must be >= 0")
    val wt = weights.foldRight(lit(0.0)) { case ((s, w), rest) =>
      when(col(stratumCol) === s, lit(w)).otherwise(rest)
    }
    val u = graft.functions.Portable
      .md5Long60(concat(col(keyCol).cast("string"), lit("#mix")))
      .cast("double") / lit(math.pow(2, 60))
    val copies = (floor(wt) + when(u < wt - floor(wt), 1).otherwise(0)).cast("int")
    df.withColumn("_copies", copies)
      .filter(col("_copies") >= 1)
      .select(df.columns.map(col) :+
        explode(sequence(lit(0), col("_copies") - 1)).as("copy_idx"): _*)
  }

  /** Rebalance a corpus to TARGET token shares per stratum: weights are
    * DERIVED from the data — `w_s = share_s · totalTokens / tokens_s` —
    * then each row replicates `floor(w)` times plus one more when its
    * salted md5 fraction clears the fractional part, exactly the
    * [[weightedMixture]] draw. The output token mass per stratum lands
    * on `share_s` of the kept total in expectation, which is the
    * "equalize my languages" / "upsample the rare domain" move every
    * multilingual training mix needs. Strata absent from `targets` are
    * dropped; shares are over the KEPT strata.
    *
    * Determinism: tokens/total are exact integer sums; each weight is
    * literal·double two-op IEEE arithmetic (`share · total / tokens`,
    * left-to-right — the [[graft.functions.Portable.ratio]] rule), and
    * the draw is the content-hash fraction — reproducible run-over-run
    * and replayable in DuckDB. Shape: one stats aggregation to
    * stratum-count rows, broadcast back; the mixture itself is a pure
    * projection + per-row generator, zero extra shuffle. */
  def rebalancedMixture(df: DataFrame, stratumCol: String, keyCol: String,
      tokensCol: String, targets: Seq[(String, Double)]): DataFrame = {
    require(targets.nonEmpty && targets.forall(_._2 > 0), "targets: positive shares")
    val share = targets.tail.foldLeft(
      when(col(stratumCol) === targets.head._1, lit(targets.head._2))) {
      case (acc, (st, sh)) => acc.when(col(stratumCol) === st, lit(sh))
    }
    val stats = df
      .filter(col(stratumCol).isin(targets.map(_._1): _*))
      .groupBy(col(stratumCol))
      .agg(sum(col(tokensCol).cast("long")).as("_toks"))
    val tot = stats.agg(sum(col("_toks")).as("_tot"))
    val weights = stats.crossJoin(broadcast(tot))
      .withColumn("_w", share * col("_tot") / col("_toks"))
      .select(col(stratumCol), col("_w"))
    val u = graft.functions.Portable
      .md5Long60(concat(col(keyCol).cast("string"), lit("#mix")))
      .cast("double") / lit(math.pow(2, 60))
    df.join(broadcast(weights), Seq(stratumCol))
      .withColumn("_copies",
        (floor(col("_w")) + when(u < col("_w") - floor(col("_w")), 1).otherwise(0)).cast("int"))
      .filter(col("_copies") >= 1)
      .select(df.columns.map(col) :+
        explode(sequence(lit(0), col("_copies") - 1)).as("copy_idx"): _*)
  }

  /** UniMax token-budget allocation (Chung et al. 2023, "UniMax: fairer
    * and more effective language sampling for large-scale multilingual
    * pretraining"): split `budgetTokens` across sources as uniformly as
    * possible, capping every source at `maxEpochs` passes over its own
    * `n_s` tokens. The paper's sequential water-filling — visit sources
    * by ascending size; give each `min(maxEpochs·n_s, remaining/k)` —
    * has a closed form because caps ascend with size: the capped set is
    * a PREFIX of the ascending order, and every uncapped source gets the
    * same equal share. A source `i` (1-based ascending by
    * `(n_s, source)`, the deterministic total order) is capped iff
    * `maxEpochs·n_i · (k−i+1) ≤ budget − Σ_{j<i} maxEpochs·n_j` — the
    * condition is downward-closed, so one cumulative-sum window over the
    * SOURCES frame (model-sized: one row per source, never corpus rows)
    * decides everything. Uncapped shares use integer floor division; the
    * ≤ k−1 leftover tokens stay unallocated (documented — a training
    * loader rounds to batches far coarser than this).
    *
    * All arithmetic is exact integers, so the oracle match is identity.
    * Output per source: `total_tokens`, `allocated_tokens`, `capped`,
    * and `epochs_micro` = 10⁶·allocated/total (floor) — the effective
    * epoch count the mixture implies.
    *
    * Shape: ONE keyed aggregation to source grain (corpus volume rides
    * the map-side combine), then windows over the sources frame itself —
    * single-partition by construction and intentionally so: its row
    * count is the source vocabulary, the same model-sized frame every
    * mixture operator broadcasts. */
  def unimaxAllocation(df: DataFrame, sourceCol: String, tokensCol: String,
      budgetTokens: Long, maxEpochs: Int): DataFrame = {
    require(budgetTokens >= 0, "budgetTokens >= 0")
    require(maxEpochs >= 1, "maxEpochs >= 1")
    import org.apache.spark.sql.expressions.Window
    // the sources frame feeds BOTH the cutoff aggregate and the final
    // projection — cache it (model-sized) so the corpus-grain aggregation
    // underneath runs exactly once
    val src = graft.CacheScope.track(
      df.groupBy(col(sourceCol).as("source"))
        .agg(sum(col(tokensCol).cast("long")).as("total_tokens"))
        .cache())
    val asc = Window.orderBy(col("total_tokens"), col("source"))
    val ranked = src.select(col("source"), col("total_tokens"),
      (col("total_tokens") * maxEpochs).as("_cap"),
      row_number().over(asc).as("_i"),
      count(lit(1)).over(Window.partitionBy()).as("_k"),
      coalesce(sum(col("total_tokens") * maxEpochs)
        .over(asc.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("_capsum"))
    val capped = ranked.withColumn("_capped",
      col("_cap") * (col("_k") - col("_i") + 1) <= lit(budgetTokens) - col("_capsum"))
    // t = size of the capped prefix; cumcap = Σ caps over it — 1-row agg
    // broadcast back (the cutoffs pattern)
    val cut = capped.agg(
      sum(when(col("_capped"), 1L).otherwise(0L)).as("_t"),
      coalesce(sum(when(col("_capped"), col("_cap"))), lit(0L)).as("_cumcap"),
      max(col("_k")).as("_kk"))
    // share < cap for every uncapped source by the prefix argument
    // (the first uncapped index already failed cap·(k−t) ≤ remainder),
    // so no min() is needed — allocated is cap XOR share exactly
    val share = when(col("_kk") > col("_t"),
      expr(s"($budgetTokens - _cumcap) div (_kk - _t)")).otherwise(0L)
    capped.crossJoin(broadcast(cut))
      .withColumn("allocated_tokens",
        when(col("_capped"), col("_cap")).otherwise(share))
      .select(col("source"), col("total_tokens"), col("allocated_tokens"),
        col("_capped").cast("int").as("capped"),
        when(col("total_tokens") > 0,
          expr("(1000000 * allocated_tokens) div total_tokens"))
          .otherwise(0L).as("epochs_micro"))
  }

  /** Temperature-sampled mixture allocation at α = 1/2 — the √-schedule
    * of multilingual pretraining (mBERT/XLM-R lineage): draws per source
    * follow `w_s = ⌊√(total tokens)⌋`, so low-resource sources are
    * up-sampled and head dominance flattened (a source 100× larger gets
    * only 10× the draws). α = 1/2 is the one temperature the engine can
    * promise EXACTLY across engines: IEEE-754 `sqrt` is correctly
    * rounded in both (general `pow` is not), and for totals < 2⁵² the
    * floor is the true integer square root. The budget then splits by
    * Hamilton largest-remainder apportionment in exact integers
    * (budget·w products on decimal(38,0), remainder order tie-broken by
    * source name; zero-remainder sources can never receive a top-up, so
    * zero-token sources always draw 0).
    *
    * Draws may EXCEED a source's own tokens — epochs > 1 on small
    * sources is the point of temperature sampling; compose with
    * [[unimaxAllocation]] when unbounded repetition is unwanted.
    *
    * Scale shape (the [[unimaxAllocation]] contract): corpus volume
    * collapses ONCE into the model-sized sources frame; the remainder
    * rank is the one global window and rides that frame.
    *
    * Output per source: `(source, total_tokens, weight, draw_tokens,
    * epochs_micro)`; draws sum to exactly `budgetTokens` whenever any
    * source has tokens. */
  def temperatureAllocation(df: DataFrame, sourceCol: String, tokensCol: String,
      budgetTokens: Long): DataFrame = {
    require(budgetTokens >= 0, "budgetTokens >= 0")
    import org.apache.spark.sql.expressions.Window
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    def fdiv(a: Column, b: Column): Column = (a - pmod(a, b)).divide(b)
    val src = graft.CacheScope.track(
      df.groupBy(col(sourceCol).as("source"))
        .agg(sum(col(tokensCol).cast("long")).as("total_tokens"))
        .cache())
    val weighted = src.select(col("source"), col("total_tokens"),
      floor(sqrt(col("total_tokens").cast("double"))).cast("long").as("weight"))
    val tot = weighted.agg(coalesce(sum(col("weight")), lit(0L)).as("_W"))
    val based = graft.CacheScope.track(
      weighted.crossJoin(broadcast(tot)).select(
        col("source"), col("total_tokens"), col("weight"),
        when(col("_W") > 0,
          fdiv(dec(lit(budgetTokens)) * dec(col("weight")), dec(col("_W")))
            .cast("long")).otherwise(0L).as("_q"),
        when(col("_W") > 0,
          pmod(dec(lit(budgetTokens)) * dec(col("weight")), dec(col("_W"))))
          .otherwise(dec(lit(0L))).as("_r"))
      .cache())
    val left = based.agg(
      (lit(budgetTokens) - coalesce(sum(col("_q")), lit(0L))).as("_left"),
      coalesce(sum(col("weight")), lit(0L)).as("_w2"))
    val draw = when(col("_w2") > 0,
      col("_q") + when(col("_i") <= col("_left"), 1L).otherwise(0L))
      .otherwise(0L)
    based
      .withColumn("_i", row_number().over(
        Window.orderBy(col("_r").desc, col("source"))))
      .crossJoin(broadcast(left))
      .select(col("source"), col("total_tokens"), col("weight"),
        draw.as("draw_tokens"),
        when(col("total_tokens") > 0,
          fdiv(dec(lit(1000000L)) * dec(draw), dec(col("total_tokens")))
            .cast("long")).otherwise(0L).as("epochs_micro"))
  }

  /** Deterministic per-epoch training-data shuffle: every row of every
    * epoch 0..`epochs`−1 gets a (shard_id, pos) read address — shard and
    * within-shard rank are both epoch-salted md5 draws of `keyCol` — so a
    * training loader reading shards in (shard, pos) order sees an
    * independent reproducible permutation per epoch, with no `rand()`
    * and no global sort anywhere. Appends `epoch`, `shard_id`, `pos`
    * (0-based) to every input column.
    *
    * Re-sharding per epoch is the point: salting only the order would
    * keep each row in one shard forever, so a loader that assigns shards
    * to workers would show every worker the same subset every epoch.
    * `keyCol` must be UNIQUE (the [[topKPerGroup]] total-order rule):
    * duplicate keys draw identical (shard, ord) addresses and their
    * relative `pos` is then partition-luck, not a contract.
    * Determinism contract: a row's (epoch, shard_id) never changes as
    * the corpus grows (pure content hash), and two surviving rows in the
    * same epoch-shard never swap relative order — though `pos` itself
    * shifts when rows are inserted between them (ranks are dense).
    *
    * 100-TB shape: the epoch explode is a per-row generator (in practice
    * run one epoch per export — the explode is for auditing several at
    * once); the one shuffle is the (epoch, shard) partition, and each
    * window task sorts only its own shard — size `nShards` so a shard is
    * a worker's file, exactly like [[shardAssign]]. DuckDB replays the
    * whole addressing bit-for-bit (gate q123). */
  def epochShuffle(df: DataFrame, keyCol: String, epochs: Int, nShards: Int): DataFrame = {
    require(epochs >= 1, "epochs >= 1")
    require(nShards >= 1, "nShards >= 1")
    // the contract says APPEND: silently overwriting a caller's epoch /
    // shard_id / pos (e.g. a frame this operator already addressed once)
    // would corrupt it without a trace — fail loudly instead
    val clash = df.columns.toSet.intersect(Set("epoch", "shard_id", "pos"))
    require(clash.isEmpty,
      s"input already has column(s) ${clash.mkString(", ")} — rename them first")
    val salt = concat(col(keyCol).cast("string"), lit("#ep"), col("epoch"))
    val ord = graft.functions.Portable.md5Long60(concat(salt, lit("#ord")))
    df.withColumn("epoch", explode(sequence(lit(0), lit(epochs - 1))))
      .withColumn("shard_id",
        pmod(graft.functions.Portable.md5Long60(concat(salt, lit("#shard"))),
          lit(nShards)).cast("int"))
      .withColumn("pos", (row_number().over(
        Window.partitionBy(col("epoch"), col("shard_id"))
          .orderBy(ord, col(keyCol))) - 1).cast("long"))
  }

  /** Skew-salted equi-join: spread a hot key across `saltBuckets` reducers
    * by salting the (large, skewed) left side deterministically from its
    * row content and replicating the (small) right side across all salt
    * values. Same result set as the plain equi-join.
    *
    * AQE's skew-join splitting is the first line of defense; salting is
    * for the cases AQE can't re-plan — a single hot key inside a required
    * shuffle (e.g. pre-aggregation feeding a stateful op) or a sink that
    * needs balanced partitions. At 100 TB one pathological key otherwise
    * pins one executor while 999 idle.
    */
  def saltedEquiJoin(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      saltBuckets: Int, joinType: String = "inner"): DataFrame = {
    require(saltBuckets >= 1, "saltBuckets >= 1")
    // The replicated side is the RIGHT one, so only join types that never
    // emit unmatched right rows preserve plain-join semantics: a right/full
    // outer would surface each unmatched replica separately (×saltBuckets).
    require(Set("inner", "left", "left_outer", "leftouter", "left_semi",
      "leftsemi", "left_anti", "leftanti").contains(joinType.toLowerCase),
      s"saltedEquiJoin supports inner/left/semi/anti join types, got '$joinType'")
    val l = left.withColumn("_salt_l",
      pmod(xxhash64(struct(left.columns.map(col): _*)), lit(saltBuckets)).cast("int"))
    val r = right.withColumn("_salt_r",
      explode(sequence(lit(0), lit(saltBuckets - 1))))
    l.join(r, l(leftKey) === r(rightKey) && col("_salt_l") === col("_salt_r"), joinType)
      .drop("_salt_l", "_salt_r")
  }

  /** Time-bounded pair join (the interval join's batch form, SURVEY.md §2
    * C8): all (left, right) pairs satisfying `keyCond` with
    * `|leftTs - rightTs| <= maxDelay`.
    *
    * NOT a post-join time filter: that shape generates every same-key pair
    * first (per-key quadratic — the round-2 scale hazard). Instead both
    * sides are bucketized on `floor(ts / maxDelay)` and the bucket joins as
    * an EQUI key next to `keyCond`: the left side expands to buckets
    * {b-1, b, b+1} (any pair within maxDelay differs by at most one bucket,
    * since floor of two values ≤ Δ apart differs by ≤ 1 when dividing by Δ),
    * the right side keeps its single bucket, so each qualifying pair meets
    * exactly once and candidate count is bounded by bucket occupancy — not
    * key cardinality. The exact time bound then filters candidates.
    * Shuffle key = (join keys, bucket); left shuffles ×3, pairs never
    * explode.
    */
  def intervalJoin(
      left: DataFrame, leftTs: String,
      right: DataFrame, rightTs: String,
      keyCond: Column, maxDelay: String): DataFrame =
    bucketedTimeJoin(left, leftTs, right, rightTs, keyCond, maxDelay)
      .drop("_gbkt_l", "_gbkt_r")

  /** Shared core of the batch and streaming interval joins: adds the
    * ±1-bucket equi keys and the exact time bound. The time bound is left
    * as a raw `timestamp ± INTERVAL` comparison so Structured Streaming
    * still recognizes it as a watermark range condition for state expiry.
    * Callers drop `_gbkt_l`/`_gbkt_r` after the join. */
  private[graft] def bucketedTimeJoin(
      left: DataFrame, leftTs: String,
      right: DataFrame, rightTs: String,
      keyCond: Column, maxDelay: String): DataFrame = {
    val micros = intervalMicros(maxDelay)
    val l = left.withColumn("_gbkt_l",
      explode(array(Seq(-1L, 0L, 1L).map(d =>
        (floor(unix_micros(col(leftTs)) / micros) + d).cast("long")): _*)))
    val r = right.withColumn("_gbkt_r",
      floor(unix_micros(col(rightTs)) / micros).cast("long"))
    l.join(r, keyCond && col("_gbkt_l") === col("_gbkt_r") &&
      col(rightTs) >= col(leftTs) - expr(s"INTERVAL $maxDelay") &&
      col(rightTs) <= col(leftTs) + expr(s"INTERVAL $maxDelay"))
  }

  /** Day/time interval string (e.g. "10 minutes") → microseconds. */
  private[graft] def intervalMicros(interval: String): Long = {
    val ci = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
      org.apache.spark.unsafe.types.UTF8String.fromString(interval))
    require(ci.months == 0, s"interval '$interval' must not contain months")
    val micros = ci.days * 86400000000L + ci.microseconds
    require(micros > 0, s"interval '$interval' must be positive")
    micros
  }

  /** Backward as-of join: for each left row, attach the latest right row
    * with `right.time <= left.time` for the same key (stream enrichment
    * against a versioned/compacted table — the temporal generalization of
    * SURVEY.md §2 C7's stream–table join).
    *
    * Implemented as union → one shuffle on the key → running
    * `last(_, ignoreNulls)` window, NOT as a range join: wall-clock and
    * shuffle volume stay O(|L|+|R|) at any scale, with no range-explosion.
    * Right rows sort before left rows at equal timestamps, making the
    * match inclusive (DuckDB/pandas `ASOF JOIN` semantics).
    *
    * `rightTiebreak` names a column ordering right rows that share a
    * timestamp — the match is then max(time, tiebreak), deterministic.
    * Without it, equal-time right rows are matched arbitrarily (exactly
    * as SQL ASOF joins leave unspecified) — fine for unique times only.
    *
    * `tolerance` bounds the lookback (pandas `merge_asof` tolerance):
    * a match older than `left.time − tolerance` is nulled out. Since the
    * backward match is already the LATEST right at-or-before the left
    * time, a too-old best match means every candidate is too old — so
    * the bound is a pure post-filter on the matched struct, costing one
    * projection, never a second join or window.
    *
    * Returns all left columns plus the matched right row as a nullable
    * struct column `_asof`.
    */
  def asofJoinBackward(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      leftTime: String,
      rightTime: String,
      rightTiebreak: Option[String] = None,
      tolerance: Option[String] = None): DataFrame = {
    val rightStruct = struct(right.columns.map(col): _*)
    // Keys and tiebreak keep their NATIVE types: casting to long (the
    // round-2 shape) nulled out non-numeric keys, collapsing every key
    // into one window partition — silent cross-key matches. Mismatched
    // left/right key types now fail analysis loudly instead.
    val tb = rightTiebreak.map(col(_)).getOrElse(lit(0L))
    val rightTyped = right.select(
      col(rightKey).as("_k"),
      col(rightTime).cast("timestamp").as("_t"),
      lit(0).as("_side"),
      tb.as("_tb"),
      rightStruct.as("_r"))
    val rightSchema = rightTyped.schema("_r").dataType
    val tbSchema = rightTyped.schema("_tb").dataType
    val leftTyped = left.select(
      col(leftKey).as("_k"),
      col(leftTime).cast("timestamp").as("_t"),
      lit(1).as("_side"),
      // _side=1 already orders left rows after every right tie at equal
      // _t, so the left tiebreak value is irrelevant — null keeps types
      lit(null).cast(tbSchema).as("_tb"),
      lit(null).cast(rightSchema).as("_r"),
      struct(left.columns.map(col): _*).as("_l"))
    val unioned = rightTyped
      .withColumn("_l", lit(null).cast(leftTyped.schema("_l").dataType))
      .unionByName(leftTyped)
    val w = Window
      .partitionBy(col("_k"))
      .orderBy(col("_t"), col("_side"), col("_tb"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tolMicros = tolerance.map(intervalMicros)
    val bounded = tolMicros match {
      case None => col("_asof")
      case Some(m) => when(
        unix_micros(col("_asof").getField(rightTime).cast("timestamp")) >=
          unix_micros(col("_t")) - m,
        col("_asof"))
    }
    unioned
      .withColumn("_asof", last(col("_r"), ignoreNulls = true).over(w))
      .filter(col("_side") === 1)
      .withColumn("_asof", bounded)
      .select(col("_l.*"), col("_asof"))
  }

  /** Forward as-of join: for each left row, attach the EARLIEST right
    * row with `right.time >= left.time` for the same key (optionally
    * bounded: `horizon` nulls out a match later than
    * `left.time + horizon` — the forward mirror of
    * [[asofJoinBackward]]'s tolerance) — the mirror of
    * [[asofJoinBackward]] ("what happened next": the next shipment after
    * an order, the next version after a read). Same union + single key
    * shuffle + running-window shape, O(|L|+|R|) at any scale; the match
    * is inclusive at equal timestamps, `rightTiebreak` makes equal-time
    * right rows deterministic (the match is then min(time, tiebreak)).
    * Returns all left columns plus the matched right row as a nullable
    * struct column `_asof`. */
  def asofJoinForward(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      leftTime: String,
      rightTime: String,
      rightTiebreak: Option[String] = None,
      horizon: Option[String] = None): DataFrame = {
    val rightStruct = struct(right.columns.map(col): _*)
    val tb = rightTiebreak.map(col(_)).getOrElse(lit(0L))
    // left rows sort BEFORE right ties at equal time (side 0 < 1), so the
    // first-following right row at the same timestamp still matches
    val rightTyped = right.select(
      col(rightKey).as("_k"),
      col(rightTime).cast("timestamp").as("_t"),
      lit(1).as("_side"),
      tb.as("_tb"),
      rightStruct.as("_r"))
    val rightSchema = rightTyped.schema("_r").dataType
    val tbSchema = rightTyped.schema("_tb").dataType
    val leftTyped = left.select(
      col(leftKey).as("_k"),
      col(leftTime).cast("timestamp").as("_t"),
      lit(0).as("_side"),
      lit(null).cast(tbSchema).as("_tb"),
      lit(null).cast(rightSchema).as("_r"),
      struct(left.columns.map(col): _*).as("_l"))
    val unioned = rightTyped
      .withColumn("_l", lit(null).cast(leftTyped.schema("_l").dataType))
      .unionByName(leftTyped)
    // DESCENDING scan with a running last(): Spark executes an
    // (unboundedPreceding, currentRow) frame incrementally — O(n) per
    // key — where the "natural" first() over (currentRow,
    // unboundedFollowing) re-aggregates the whole suffix per row, O(n²)
    // on a hot key. In the descending order, right rows sort BEFORE
    // left ties (side 1 > 0) so equal-timestamp matches stay inclusive,
    // and larger tiebreaks come first so the running last() lands on
    // the SMALLEST (time, tiebreak) — the earliest match.
    val w = Window
      .partitionBy(col("_k"))
      .orderBy(col("_t").desc, col("_side").desc, col("_tb").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    unioned
      // a NULL left time matches nothing (right.time >= NULL is never
      // true) — it sorts NULLS LAST in the descending scan, where the
      // running last() would hand it the globally-earliest right row
      .withColumn("_asof",
        when(col("_t").isNotNull, last(col("_r"), ignoreNulls = true).over(w)))
      .filter(col("_side") === 0)
      // `horizon` bounds the lookAHEAD (the forward mirror of the
      // backward tolerance): the earliest match past left.time + horizon
      // means every candidate is past it — a pure post-projection
      .withColumn("_asof", horizon.map(Relational.intervalMicros) match {
        case None => col("_asof")
        case Some(m) => when(
          unix_micros(col("_asof").getField(rightTime).cast("timestamp")) <=
            unix_micros(col("_t")) + m,
          col("_asof"))
      })
      .select(col("_l.*"), col("_asof"))
  }

  /** Blocked fuzzy join (record linkage): all (left, right) pairs that
    * share the blocking key(s) AND whose text columns are within
    * `maxDist` Levenshtein edits, emitted with an `edit_dist` column —
    * the candidate-pair stage of entity resolution / dirty-data matching.
    *
    * Blocking is MANDATORY: an unblocked fuzzy join is an all-pairs
    * cartesian, the classic record-linkage scale killer. With blocks the
    * candidate count tracks block occupancy (like the interval join's
    * time buckets); a hot block is a skew problem with existing remedies
    * ([[saltedEquiJoin]], AQE skew splitting). A cheap length-difference
    * bound (|len(a) − len(b)| ≤ maxDist, a Levenshtein lower bound) rides
    * INSIDE the join condition — structurally guaranteed to prune before
    * the edit-distance kernel, not left to the optimizer's left-to-right
    * conjunct courtesy — and the kernel itself is the THRESHOLDED
    * `levenshtein(l, r, maxDist)`: the DP early-exits (banded
    * O(maxDist·len) work) instead of filling the full O(len²) matrix on
    * every candidate, returning −1 past the bound. Both engines (Spark
    * and the DuckDB oracle) implement standard Levenshtein, so the gate
    * hash-checks every pair and distance.
    *
    * Output is every left column, then every right column, then
    * `edit_dist` — callers must ensure the two inputs share NO column
    * names (rename before joining), or downstream select-by-name hits
    * Spark's ambiguity error. */
  def fuzzyJoin(
      left: DataFrame, right: DataFrame,
      blockKeys: Seq[(String, String)],
      leftText: String, rightText: String,
      maxDist: Int): DataFrame = {
    require(blockKeys.nonEmpty,
      "blocking keys required — an unblocked fuzzy join is an all-pairs cartesian")
    require(maxDist >= 0, "maxDist >= 0")
    val cond = blockKeys.map { case (l, r) => left(l) === right(r) }.reduce(_ && _) &&
      abs(length(left(leftText)) - length(right(rightText))) <= maxDist
    left.join(right, cond)
      .withColumn("edit_dist", levenshtein(left(leftText), right(rightText), maxDist))
      .filter(col("edit_dist") >= 0 && col("edit_dist") <= maxDist)
  }

  /** Snapshot diff (CDC between two materialized states): classify every
    * key as `added` / `removed` / `changed` between an `old` and a `new`
    * snapshot, comparing content via an md5 fingerprint of `compareCols`.
    * Unchanged keys are dropped — at 100 TB the diff is the small output;
    * emitting unchanged rows would make every diff a full-corpus copy.
    *
    * Output: key columns, `change`, `old_fp`, `new_fp` (md5 hex of the
    * compared payload; null on the absent side). One full-outer
    * sort-merge join — a single shuffle per side on the key, no window,
    * no driver state. Fingerprints are md5 over a '|'-joined string cast
    * of `compareCols` (null → literal " "), portable to any engine
    * that has md5, so a downstream system can recompute and audit the
    * diff without re-reading either snapshot.
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame,
      keys: Seq[String], compareCols: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "at least one key column")
    require(compareCols.nonEmpty, "at least one compare column")
    def fp(df: DataFrame) = md5(concat_ws("|",
      compareCols.map(c => coalesce(col(c).cast("string"), lit(" "))): _*))
    val o = oldDf.select(keys.map(col) :+ fp(oldDf).as("old_fp"): _*)
    val n = newDf.select(keys.map(col) :+ fp(newDf).as("new_fp"): _*)
    o.join(n, keys, "full_outer")
      .withColumn("change",
        when(col("old_fp").isNull, lit("added"))
          .when(col("new_fp").isNull, lit("removed"))
          .when(col("old_fp") =!= col("new_fp"), lit("changed")))
      .filter(col("change").isNotNull)
      .select(keys.map(col) ++ Seq(col("change"), col("old_fp"), col("new_fp")): _*)
  }

  /** Apply a CDC changelog to a snapshot (MERGE INTO semantics): per key
    * the LATEST change under `seqCol` wins — an `upsert` replaces the
    * row (or inserts a new key), a `delete` removes it, and keys the
    * changelog never mentions pass through untouched. A later upsert
    * resurrects a deleted key; a later delete wins over any earlier
    * upsert — ordering is per-key, exactly a compacted changelog topic.
    *
    * `changes` must carry the snapshot's columns plus `opCol` (rows
    * whose op is `"delete"` delete; ANY other value upserts — the
    * Debezium convention where c/r/u all carry state and only `d`
    * removes) and `seqCol` (a strict per-key total order: the log
    * offset, an LSN; ties are a contract violation and resolve
    * arbitrarily). Output has exactly the snapshot's columns.
    *
    * Shape: the changelog collapses to one net row per key via
    * [[latestByKey]] (map-side partial `max_by`, one shuffle of the
    * CHANGES — at 100 TB the changelog is the small side); the snapshot
    * pays one anti join on the key (broadcastable when the net-change
    * key set is small, by size estimate not by code) and the surviving
    * upserts union in. The snapshot is never windowed, never grouped.
    */
  def applyChanges(snapshot: DataFrame, changes: DataFrame, keys: Seq[String],
      opCol: String, seqCol: String): DataFrame = {
    require(keys.nonEmpty, "at least one key column")
    val snapCols = snapshot.columns.toSeq
    val missing = (snapCols ++ Seq(opCol, seqCol)).filterNot(changes.columns.contains)
    require(missing.isEmpty,
      s"changes is missing column(s): ${missing.mkString(", ")}")
    val net = latestByKey(changes, keys, Seq(col(seqCol)))
    val survivors = snapshot.join(net.select(keys.map(col): _*), keys, "left_anti")
    // NULL op upserts (ANY non-delete value carries state — the
    // documented Debezium convention): a bare =!= would evaluate NULL
    // and silently DELETE the key
    val upserts = net.filter(!coalesce(col(opCol) === "delete", lit(false)))
      .select(snapCols.map(col): _*)
    survivors.unionByName(upserts)
  }

  /** Materialize a type-2 slowly-changing dimension from a CDC
    * changelog: one row per (key, version) with its validity interval —
    * `valid_from` = the change's own `tsCol`, `valid_to` = the NEXT
    * change's ts for that key (null while current), `is_current` = 1 on
    * a key's last change when it is not a delete. Deletes emit no row
    * but still CLOSE the previous version's interval (the standard
    * warehouse treatment); [[applyChanges]] is the "latest state" view,
    * this is the full history view — together with [[snapshotDiff]]
    * they are the CDC write/read/history triptych.
    *
    * `seqCol` orders versions (strict per-key total order, the
    * [[applyChanges]] contract); `tsCol` supplies the interval bounds
    * and must be non-decreasing in `seqCol` per key or intervals invert
    * (a changelog with honest event times satisfies this by
    * construction).
    *
    * Shape: ONE key-partitioned window (lead over the seq order) + a
    * filter — per-task state is a key's own version chain; no joins, no
    * driver state. */
  def scd2(changes: DataFrame, keys: Seq[String], opCol: String,
      seqCol: String, tsCol: String): DataFrame = {
    require(keys.nonEmpty, "at least one key column")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(seqCol))
    changes
      .withColumn("valid_from", col(tsCol).cast("timestamp"))
      .withColumn("valid_to", lead(col(tsCol).cast("timestamp"), 1).over(w))
      // NULL op is a version, not a delete — the applyChanges convention
      .filter(!coalesce(col(opCol) === "delete", lit(false)))
      .withColumn("is_current", col("valid_to").isNull.cast("int"))
      .drop(opCol, seqCol)
  }

  /** Bucketized numeric range join: all (left, right) pairs with
    * `lo <= value < hi` (half-open — band boundaries never double-match)
    * WITHOUT the BroadcastNestedLoopJoin Spark plans for a raw
    * inequality join. Both sides map onto `bucketWidth`-wide buckets —
    * the left row to `floor(value / W)`, the interval to every bucket it
    * overlaps — and the join runs as an EQUI join on the bucket with the
    * exact range predicate as a filter: the [[intervalJoin]] discipline
    * generalized to numeric intervals of arbitrary length. Candidates
    * track bucket occupancy, never |L|×|R|; each true pair meets exactly
    * once (DISTINCT bucket lists per interval are unnecessary — an
    * interval covers each bucket once by construction).
    *
    * Size `bucketWidth` near the median interval length: an interval
    * explodes into `(hi − lo)/W + 1` bucket rows (too-small W inflates
    * the right side), while a too-large W degrades pruning (more
    * candidates per bucket). Inner join only; output is every left
    * column then every right column — inputs must share no column names
    * (the [[fuzzyJoin]] convention). */
  def rangeJoin(left: DataFrame, valueCol: String,
      right: DataFrame, loCol: String, hiCol: String,
      bucketWidth: Long): DataFrame = {
    require(bucketWidth >= 1, "bucketWidth >= 1")
    // bucket ids use EXACT integer floor division for integral columns
    // (the (a − pmod(a, b)) / b idiom): a double round-trip loses
    // precision past 2^53 and can assign a row or interval edge to the
    // wrong bucket — and since the exact predicate only FILTERS, a
    // mis-bucketed true pair would be silently lost. Fractional columns
    // keep the double floor (their domain is the double lattice anyway).
    def bkt(c: Column, dt: org.apache.spark.sql.types.DataType): Column = {
      import org.apache.spark.sql.types._
      dt match {
        case ByteType | ShortType | IntegerType | LongType =>
          // the division itself must also stay off the double lattice:
          // long/long in Spark is double true-division, so past 2^53 the
          // quotient of an exactly-divisible numerator can still round to
          // a neighboring bucket id — ride decimal(38,0) like every other
          // floor-division site (the gapFill idiom)
          val a = c.cast("decimal(38,0)")
          val w = lit(bucketWidth).cast("decimal(38,0)")
          ((a - pmod(a, w)) / w).cast("long")
        case _ => floor(c.cast("double") / bucketWidth).cast("long")
      }
    }
    val l = left.withColumn("_rbkt",
      bkt(col(valueCol), left.schema(valueCol).dataType))
    val r = right.withColumn("_rbkt", explode(sequence(
      bkt(col(loCol), right.schema(loCol).dataType),
      bkt(col(hiCol), right.schema(hiCol).dataType))))
    l.join(r, Seq("_rbkt"))
      .filter(col(valueCol) >= col(loCol) && col(valueCol) < col(hiCol))
      .drop("_rbkt")
  }

  /** Key-skew profile — the diagnostic a pipeline runs BEFORE choosing a
    * join/shuffle strategy (broadcast? salt? AQE skew hints?): the top-k
    * hottest keys with their row counts, plus an order-of-magnitude
    * histogram (keys bucketed by the DECIMAL DIGIT COUNT of their row
    * count — exact integer arithmetic, unlike float log2 whose exact
    * powers round unpredictably across engines). Output rows:
    * `(kind, ord, key, n_keys, n_rows)` — `kind` `'hot'` (ord = rank,
    * key = '|'-joined key string, n_keys = 1) or `'hist'` (ord = digit
    * count, key null, n_keys = #keys in the bucket, n_rows = their row
    * sum).
    *
    * Shape: one keyed count (map-side partial); the hot arm is
    * `TakeOrderedAndProject` (partial top-k, never a global sort — the
    * k-row rank window runs on k rows); the histogram is a second
    * ≤ 20-bucket agg over the count table. */
  def keySkewProfile(df: DataFrame, keys: Seq[String], topK: Int): DataFrame = {
    require(keys.nonEmpty, "at least one key column")
    skewProfileFromCounts(
      df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("_n"))
        .select(concat_ws("|", keys.map(c => col(c).cast("string")): _*).as("_k"),
          col("_n")),
      topK)
  }

  /** The profile half of [[keySkewProfile]] over an ALREADY-AGGREGATED
    * `(_k, _n)` key-count table — shared with the streaming twin, whose
    * count table is the drained incremental aggregation (counts merge;
    * top-k/histogram don't, so they shape the drained state). */
  private[graft] def skewProfileFromCounts(countsIn: DataFrame, topK: Int): DataFrame = {
    require(topK >= 1, "topK >= 1")
    val counts = graft.CacheScope.track(countsIn.cache())
    val top = counts.orderBy(col("_n").desc, col("_k")).limit(topK)
    val hot = top.withColumn("ord", row_number().over(
        Window.orderBy(col("_n").desc, col("_k"))))
      .select(lit("hot").as("kind"), col("ord"), col("_k").as("key"),
        lit(1L).as("n_keys"), col("_n").as("n_rows"))
    val hist = counts
      .groupBy(length(col("_n").cast("string")).as("ord"))
      .agg(count(lit(1)).as("n_keys"), sum(col("_n")).as("n_rows"))
      .select(lit("hist").as("kind"), col("ord"),
        lit(null).cast("string").as("key"), col("n_keys"), col("n_rows"))
    hot.unionByName(hist)
  }

  /** Distributed two-phase prefix sum — the shared engine behind every
    * global running sum in this library ([[graft.operators.TextOps.sequentialPack]],
    * [[graft.operators.Events.concurrencySweep]], [[paretoClasses]]): a
    * global-order cumulative sum WITHOUT the one-partition global window
    * Spark would otherwise plan. Range-partition by `order`, cumsum per
    * partition in parallel windows, shift each partition by the total of
    * all partitions before it (a #partitions-row collect — a model
    * fetch). Returns the input columns plus `_cum_incl` (the INCLUSIVE
    * prefix sum of `valueCol` in `order`), checkpoint-backed and
    * CacheScope-tracked; callers derive the exclusive form as
    * `_cum_incl − value`. The range-partitioned frame is pinned
    * MEMORY_AND_DISK across its two consumers (`repartitionByRange`
    * SAMPLES its boundaries per execution — an unpinned recompute could
    * place boundary rows differently than the collected offsets) and
    * self-releases.
    *
    * `knownRows` (r15): callers whose input is an already-cached,
    * grain-collapsed frame (score grain, item grain — the metric/rank
    * family) pass its row count; while the frame is model-sized
    * ([[ModelSized.fits]] — the bound the iterative operators' broadcast
    * hints use: at most [[ModelSized.MaxRows]] rows) the prefix sum runs as ONE single-task global window instead of the
    * 4-job two-phase machinery (range-sample, persist, offset collect,
    * checkpoint join). Identical results: same strict order, same
    * default RANGE frame (tie blocks accumulate together in BOTH paths
    * — the two-phase per-partition window uses the same frame and the
    * range partitioner never splits equal keys). −1 (default) or a
    * count past the bound takes the distributed path — corpus-grain
    * consumers (sequentialPack, concurrencySweep) never pass a count. */
  private[graft] def distributedPrefixSum(df: DataFrame, order: Seq[Column],
      valueCol: String, knownRows: Long = -1L): DataFrame = {
    val spark = df.sparkSession
    // byte-aware since r16 (VERDICT r15 item 3): the row cap alone would
    // put 2M FULL-WIDTH rows through one window task when the caller's
    // frame carries wide keys; ModelSized adds the 64 MB estimate test
    // (schema arithmetic for fixed-width frames, one measuring agg over
    // the caller's already-cached frame when strings are present)
    if (ModelSized.fits(df, knownRows))
      return graft.CacheScope.trackCheckpoint(
        df.withColumn("_cum_incl",
          sum(col(valueCol)).over(Window.orderBy(order: _*)))
          .localCheckpoint())
    // retained, not bare persist/unpersist: concurrent sessions share
    // this cache entry by canonical plan, and a recompute after a
    // premature unpersist would RE-SAMPLE the range partitioner mid-query
    // (the one recompute in the engine that can change results)
    graft.CacheScope.retained { hold =>
      val w = hold(df.repartitionByRange(order: _*)
        .sortWithinPartitions(order: _*)
        .withColumn("_pid", spark_partition_id())
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val pidTotals = w.groupBy("_pid").agg(sum(col(valueCol)).as("_ps"))
        .orderBy("_pid").collect().map(r => (r.getInt(0), r.getLong(1)))
      val offsets = pidTotals.map(_._1).zip(
        pidTotals.map(_._2).scanLeft(0L)(_ + _).init)
      val offDf = broadcast(spark.createDataFrame(offsets.toSeq).toDF("_pid", "_off"))
      val cumIn = sum(col(valueCol)).over(
        Window.partitionBy(col("_pid")).orderBy(order: _*))
      graft.CacheScope.trackCheckpoint(
        w.join(offDf, Seq("_pid"))
          .withColumn("_cum_incl", col("_off") + cumIn)
          .drop("_pid", "_off")
          .localCheckpoint())
    }
  }

  /** Pareto / ABC classification: aggregate `valueCol` per key, rank
    * keys by total descending, and label each with the first class whose
    * cumulative-share-BEFORE-it is still under the class's cut — the
    * "20% of customers drive 70% of revenue" segmentation. `cuts` are
    * cumulative percent bounds ending at 100 (e.g. A→70, B→90, C→100);
    * cumBefore < cut (the [[tokenBudgetSample]] convention) makes the
    * first key always class A even if it alone exceeds the A share, and
    * the comparison `cumBefore·100 < cut·total` is exact integer
    * cross-multiplication — no float shares anywhere. Output: key,
    * `total`, `cum_before`, `abc_class`.
    *
    * Shape: one keyed agg to key grain, then the global descending
    * cumulative sum as the distributed two-phase prefix sum (range
    * partitions in (total DESC, key) order, parallel per-partition
    * cumsums, a #partitions-row offset collect) — never a one-partition
    * global window; the grand total is a 1-row broadcast. */
  def paretoClasses(df: DataFrame, keyCol: String, valueCol: String,
      cuts: Seq[(String, Int)]): DataFrame = {
    require(cuts.nonEmpty && cuts.last._2 == 100, "cuts must end at 100")
    require(cuts.map(_._2) == cuts.map(_._2).sorted, "cuts must be non-decreasing")
    // cached (r15): key-grain totals feed the prefix sum — the count
    // makes a model-sized key universe take the single-window fast
    // path. Retained, not tracked: the prefix sum returns
    // checkpoint-backed, so the totals cache is dead on return and
    // self-releases here.
    val cum = graft.CacheScope.retained { hold =>
      val totals = hold(df.select(col(keyCol).as("_k"), col(valueCol).cast("long").as("_v"))
        .groupBy("_k").agg(sum(col("_v")).as("total"))
        .cache())
      distributedPrefixSum(totals,
        Seq(col("total").desc, col("_k")), "total", knownRows = totals.count())
    }
    // the grand total is the last inclusive prefix — one cheap job over
    // the checkpoint-backed result, no second pass over the base frame
    val grandRow = cum.agg(max(col("_cum_incl"))).head()
    val grand = if (grandRow.isNullAt(0)) 0L else grandRow.getLong(0)
    // the cross-multiplication rides DECIMAL(38,0) (the anomalies
    // convention): cum_before × 100 wraps i64 silently at ~9.2e16 —
    // reachable in cents at the 100-TB envelope — and a wrapped compare
    // would emit wrong ABC classes with no error
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val label = cuts.init.foldRight(lit(cuts.last._1)) { case ((name, cut), rest) =>
      when(dec(col("cum_before")) * dec(lit(100L)) <
        dec(lit(cut.toLong)) * dec(lit(grand)), name).otherwise(rest)
    }
    cum.withColumn("cum_before", col("_cum_incl") - col("total"))
      .select(col("_k").as(keyCol), col("total"), col("cum_before"),
        label.as("abc_class"))
  }

  /** Data-quality expectation report — the contract check a pipeline
    * runs before promoting a table: each named rule is a row-level
    * predicate (null checks, ranges, regex shape, referential bounds),
    * and the report counts its violations over the whole frame in ONE
    * pass; an optional `uniqueKeys` adds a `unique(...)` row counting
    * duplicate-key rows (n_rows − distinct keys — not expressible as a
    * row predicate). Output: `(rule, n_violations, n_rows, pass)` —
    * `pass` = 1 iff zero violations.
    *
    * Shape: all rule counters are conditional sums in a single global
    * aggregation (one map-side-combined pass over the scan — adding a
    * rule adds a column, never a scan); the uniqueness row is one
    * distinct-key aggregate. NULL predicate results count as violations
    * (a rule that cannot evaluate did not pass — the conservative
    * reading a contract needs). */
  def expectationReport(df: DataFrame, rules: Seq[(String, Column)],
      uniqueKeys: Seq[String] = Nil): DataFrame = {
    require(rules.nonEmpty || uniqueKeys.nonEmpty, "at least one rule")
    require(rules.map(_._1).distinct.size == rules.size, "rule names must be unique")
    val ruleRows =
      if (rules.isEmpty) Nil
      else {
        val aggs = ruleAggExprs(rules)
        Seq(shapeRuleRows(df.agg(aggs.head, aggs.tail: _*), rules))
      }
    val uniqueRow =
      if (uniqueKeys.isEmpty) Nil
      else Seq(df.agg(count(lit(1)).as("_n"),
          count_distinct(struct(uniqueKeys.map(col): _*)).as("_d"))
        .select(lit(s"unique(${uniqueKeys.mkString(",")})").as("rule"),
          (col("_n") - col("_d")).as("n_violations"), col("_n").as("n_rows")))
    (ruleRows ++ uniqueRow).reduce(_ unionByName _)
      .withColumn("pass", (col("n_violations") === 0).cast("int"))
  }

  /** The conditional-sum counters of [[expectationReport]] — every one
    * incrementally mergeable, so the streaming twin runs them as a
    * continuous aggregation. */
  private[graft] def ruleAggExprs(rules: Seq[(String, Column)]): Seq[Column] =
    count(lit(1)).as("_n") +:
      rules.zipWithIndex.map { case ((_, pred), i) =>
        sum(when(coalesce(pred, lit(false)), 0L).otherwise(1L)).as(s"_v$i")
      }

  /** Explode the rule counters out of the ONE 1-row aggregate (a select
    * per rule would re-reference — and re-execute — the whole scan). */
  private[graft] def shapeRuleRows(one: DataFrame,
      rules: Seq[(String, Column)]): DataFrame =
    one.select(col("_n"), explode(array(
        rules.zipWithIndex.map { case ((name, _), i) =>
          struct(lit(name).as("rule"),
            coalesce(col(s"_v$i"), lit(0L)).as("n_violations"))
        }: _*)).as("_r"))
      .select(col("_r.rule").as("rule"), col("_r.n_violations").as("n_violations"),
        col("_n").as("n_rows"))

  /** The [[expectationReport]] rule rows with `pass`, from an
    * already-drained 1-row counter frame (the streaming twin's shape
    * step; no uniqueness row — distinct aggregation is unsupported on
    * streams, which is exactly why it is a separate row in the batch
    * report). */
  private[graft] def shapeRuleReport(one: DataFrame,
      rules: Seq[(String, Column)]): DataFrame =
    shapeRuleRows(one, rules)
      .withColumn("pass", (col("n_violations") === 0).cast("int"))

  /** k-anonymity by bottom-up global recoding: every published
    * quasi-identifier combination is shared by ≥ k rows, achieved by
    * progressively generalizing (masking to "*") quasi columns from the
    * LAST to the first for rows whose group is still below k.
    *
    * Level 0 keeps all `quasiCols`; level i masks the last i of them.
    * A row publishes at the smallest level where the group formed by the
    * rows STILL UNPUBLISHED at that level reaches k (leftover-only
    * recounting — counting already-published rows would let a "k-sized"
    * level-1 group publish with fewer than k actual members). Rows that
    * never reach k even fully masked are suppressed (the fully-masked
    * group itself had < k leftovers).
    *
    * Output: the masked quasi columns (string-cast) + `anon_level`.
    * Each level is one keyed count + one broadcast-size join back (the
    * level's group list is ≤ distinct-combination count, not row count);
    * levels are bounded by quasiCols.size + 1, so the whole operator is a
    * fixed, small number of aggregations — no iteration to convergence.
    */
  def kAnonymize(df: DataFrame, quasiCols: Seq[String], k: Int): DataFrame = {
    require(quasiCols.nonEmpty, "at least one quasi-identifier column")
    require(k >= 1, "k >= 1")
    val strCols = quasiCols.map(c => col(c).cast("string").as(c))
    var leftover = df.select(strCols: _*)
    var published: DataFrame = null
    for (level <- 0 to quasiCols.size) {
      val masked = quasiCols.zipWithIndex.map { case (c, i) =>
        (if (i < quasiCols.size - level) coalesce(col(c), lit(" "))
         else lit("*")).as(c)
      }
      // Each level's masked view feeds three consumers (the group count,
      // the semi publish, the anti leftover) and the next level chains on
      // the leftover -- uncached that recompute compounds ~3^levels over
      // the base scan. Tracked cache per level; `pass` (the >=k group
      // list, distinct-combination-sized) likewise, so the broadcast
      // builds once per level.
      val m = graft.CacheScope.track(leftover.select(masked: _*).cache())
      val pass = graft.CacheScope.track(
        m.groupBy(quasiCols.map(col): _*)
          .agg(count(lit(1)).as("_n")).filter(col("_n") >= k)
          .drop("_n").cache())
      val lvl = m.join(pass.hint("broadcast"), quasiCols, "left_semi")
        .withColumn("anon_level", lit(level))
      published = if (published == null) lvl else published.unionByName(lvl)
      // rows failing even the all-masked level are suppressed entirely
      leftover = m.join(pass.hint("broadcast"), quasiCols, "left_anti")
    }
    published
  }

  /** Deterministic fill-in-the-middle transform (code/LLM training): split
    * each document into (prefix, middle, suffix) at two content-addressed
    * cut points and emit the PSM-ordered training string. Cuts derive from
    * md5 of (id, text) — reproducible run-over-run, engine-independent,
    * and unmoved by repartitioning, exactly like [[hashSplit]]. Pure
    * projection: no shuffle, fully codegen (md5/conv/substring are all
    * native expressions), so it rides inside whatever scan reads the
    * corpus at 100 TB.
    *
    * Invariant (spec-pinned): prefix ++ middle ++ suffix == text.
    * Documents shorter than `minChars` pass through unsplit (middle = "",
    * fim_text = sentinel-free original) — flagged by `fim_applied`.
    */
  def fimTransform(df: DataFrame, idCol: String, textCol: String,
      minChars: Int = 16): DataFrame = {
    val len = length(col(textCol))
    def cut(salt: String) = pmod(
      graft.functions.Portable.md5Long60(
        concat_ws("|", col(idCol).cast("string"), lit(salt), col(textCol))),
      len + lit(1))
    val c1 = cut("fim-a")
    val c2 = cut("fim-b")
    val lo = least(c1, c2)
    val hi = greatest(c1, c2)
    val applied = len >= minChars
    df.withColumn("prefix", when(applied, col(textCol).substr(lit(1), lo)).otherwise(col(textCol)))
      .withColumn("middle", when(applied, col(textCol).substr(lo + 1, hi - lo)).otherwise(lit("")))
      .withColumn("suffix", when(applied, col(textCol).substr(hi + 1, len - hi)).otherwise(lit("")))
      .withColumn("fim_applied", applied.cast("int"))
      .withColumn("fim_text",
        when(applied, concat(lit("<|fim_pre|>"), col("prefix"),
          lit("<|fim_suf|>"), col("suffix"), lit("<|fim_mid|>"), col("middle")))
          .otherwise(col(textCol)))
  }
}
