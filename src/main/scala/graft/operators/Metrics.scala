package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Model-eval and drift metrics — the measurement layer of an eval /
  * data-quality pipeline: classifier discrimination ([[rocAuc]]),
  * ranked-retrieval quality ([[retrievalMetrics]]), distribution drift
  * ([[ksTwoSample]]), and inter-annotator agreement ([[cohenKappa]]).
  *
  * Engine-exact contract (the [[Rank]] conventions): every statistic is
  * either an EXACT integer rational floored through the negative-safe
  * pmod idiom, or a per-TERM micro-quantized double whose expression
  * tree (including its literal constants) is replayed verbatim by the
  * oracle — sums then ride integers, so no result ever depends on
  * aggregation order. Wide products ride decimal(38,0) ⇄ DuckDB
  * HUGEINT.
  */
object Metrics {

  private def dec(c: Column): Column = c.cast("decimal(38,0)")
  /** Negative-safe integral floor division (pmod ≥ 0 for den > 0 —
    * matches DuckDB `//` on negatives). */
  private def fdiv(a: Column, b: Column): Column = (a - pmod(a, b)).divide(b)

  /** ROC-AUC of a score against a boolean label via the tie-corrected
    * Mann–Whitney U: with midranks R over ascending score,
    * `AUC = (ΣR⁺ − n⁺(n⁺+1)/2) / (n⁺·n⁻)`. Doubling clears the halves:
    * a tie group at one score value spanning positions
    * `(before, before+c]` has `2·midrank = 2·before + c + 1` (an odd
    * integer), so `auc_micro = 10⁶·(2ΣR⁺ − n⁺(n⁺+1)) // (2·n⁺·n⁻)` is
    * an exact floor. NULL scores are excluded (unrankable); a NULL
    * label counts negative. One-class inputs report NULL (AUC is
    * undefined without both classes).
    *
    * Scale shape: corpus volume collapses ONCE into the score-grain
    * `(count, positives)` aggregation (map-side combined); the
    * cumulative count over that grain is the distributed two-phase
    * prefix sum (the q161/q164 machinery — no one-partition window),
    * and the finale is a 1-row global aggregation. ΣR⁺ reaches n² —
    * decimal(38,0), a long wraps past ~3·10⁹ rows.
    *
    * Output: ONE row `(n_pos, n_neg, auc_micro)`. */
  def rocAuc(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    // cached (r15): the grain collapse ran once either way (the two-phase
    // prefix sum pinned its range-partitioned copy); caching it instead
    // makes the count cheap and lets a model-sized grain take
    // distributedPrefixSum's single-window fast path. Retained, not
    // tracked: the prefix sum returns checkpoint-backed, so the grain
    // cache is dead on return and self-releases here.
    val cum = graft.CacheScope.retained { hold =>
      val grain = hold(df.filter(col(scoreCol).isNotNull)
        .select(col(scoreCol).as("_s"),
          when(col(labelCol).cast("boolean"), 1L).otherwise(0L).as("_y"))
        .groupBy("_s").agg(count(lit(1)).as("_c"), sum(col("_y")).as("_p"))
        .cache())
      Relational.distributedPrefixSum(grain, Seq(col("_s")), "_c",
        knownRows = grain.count())
    }
    val agg = cum.agg(
      sum(col("_p")).as("n_pos"),
      sum(col("_c") - col("_p")).as("n_neg"),
      // per-group 2·Σmidrank of its positives: p · (2·before + c + 1)
      sum(dec(col("_p")) *
        dec(lit(2L) * (col("_cum_incl") - col("_c")) + col("_c") + lit(1L)))
        .as("_r2"))
    val num = dec(lit(1000000L)) *
      (col("_r2") - dec(col("n_pos")) * dec(col("n_pos") + lit(1L)))
    val den = dec(lit(2L)) * dec(col("n_pos")) * dec(col("n_neg"))
    agg.select(
      coalesce(col("n_pos"), lit(0L)).as("n_pos"),
      coalesce(col("n_neg"), lit(0L)).as("n_neg"),
      when(col("n_pos") > 0 && col("n_neg") > 0,
        fdiv(num, den).cast("long")).as("auc_micro"))
  }

  /** Two-sample Kolmogorov–Smirnov statistic between the `sideCol`-true
    * (A) and -false (B) samples of `valueCol`:
    * `D = sup |F_A − F_B|`, evaluated at every distinct sample value
    * (ECDFs only step there) and cross-multiplied to the exact integer
    * `max |cumA·n_B − cumB·n_A|`, so
    * `d_micro = 10⁶·max // (n_A·n_B)` is an exact floor. `at_value` is
    * the LARGEST value attaining the sup (deterministic tie policy).
    * NULL values are excluded; an empty side reports NULL (no ECDF).
    *
    * Scale shape: one corpus-collapsing aggregation to value grain,
    * two distributed prefix sums over it, one broadcast 1-row totals
    * frame, two tiny aggregations over the grain. See
    * [[ksFromCounts]] for the pre-aggregated form (a drained streaming
    * count state feeds it directly). */
  def ksTwoSample(df: DataFrame, valueCol: String, sideCol: String): DataFrame =
    ksFromCounts(
      df.filter(col(valueCol).isNotNull)
        .select(col(valueCol).as("_v"),
          when(col(sideCol).cast("boolean"), 1L).otherwise(0L).as("_a"))
        .groupBy("_v").agg(sum(col("_a")).as("_ca"),
          sum(lit(1L) - col("_a")).as("_cb")),
      "_v", "_ca", "_cb")

  /** [[ksTwoSample]] on PRE-AGGREGATED value-grain counts
    * `(value, countA, countB)` — the weighted form (the
    * [[Rank.bradleyTerry]] `weightCol` convention): exactly equivalent
    * to the exploded samples, so a streaming complete-mode count state
    * drains straight into it. */
  def ksFromCounts(counts: DataFrame, valueCol: String, aCol: String,
      bCol: String): DataFrame = {
    val vType = counts.schema(valueCol).dataType
    val g = graft.CacheScope.track(
      counts.select(col(valueCol).as("_v"), col(aCol).cast("long").as("_ca"),
          col(bCol).cast("long").as("_cb"))
        .cache())
    // value-grain count over the just-cached frame: both ECDF sides take
    // the single-window fast path while the grain is model-sized
    val nG = g.count()
    val fa = Relational.distributedPrefixSum(g, Seq(col("_v")), "_ca", knownRows = nG)
      .select(col("_v"), col("_cum_incl").as("_fa"))
    val fb = Relational.distributedPrefixSum(g, Seq(col("_v")), "_cb", knownRows = nG)
      .select(col("_v"), col("_cum_incl").as("_fb"))
    val tot = g.agg(sum(col("_ca")).as("_na"), sum(col("_cb")).as("_nb"))
    // |F_A − F_B| cross-multiplied: |cumA·nB − cumB·nA| — decimal, the
    // product reaches n², past a long at ~3·10⁹ samples a side
    val diff = graft.CacheScope.track(
      fa.join(fb, Seq("_v")).crossJoin(broadcast(tot))
        .select(col("_v"), col("_na"), col("_nb"),
          abs(dec(col("_fa")) * dec(col("_nb")) -
            dec(col("_fb")) * dec(col("_na"))).as("_d"))
        .cache())
    val m = diff.agg(max(col("_d")).as("_dm"))
    diff.join(broadcast(m), diff("_d") === m("_dm"))
      .agg(max(col("_na")).as("n_a"), max(col("_nb")).as("n_b"),
        max(col("_dm")).as("_dmax"), max(col("_v")).as("_at"))
      .select(
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        when(col("n_a") > 0 && col("n_b") > 0,
          fdiv(dec(lit(1000000L)) * col("_dmax"),
            dec(col("n_a")) * dec(col("n_b"))).cast("long")).as("d_micro"),
        col("_at").cast(vType).as("at_value"))
  }

  /** Cohen's kappa between two raters' labels of the same rows:
    * `κ = (p_o − p_e)/(1 − p_e)` with `p_o = agree/n` and
    * `p_e = Σ_c a_c·b_c / n²` — cleared to the exact rational
    * `κ = (n·agree − Σ a_c b_c) / (n² − Σ a_c b_c)`, floored to
    * `kappa_micro` through the negative-safe pmod idiom (κ < 0 = worse
    * than chance — reachable and exact). Rows where either label is
    * NULL are excluded (no agreement to measure). A zero denominator
    * means both raters are constant on the SAME single category
    * (Cauchy–Schwarz equality) — perfect agreement, reported as
    * 1,000,000 by convention.
    *
    * Scale shape: corpus volume collapses ONCE into the
    * (label_a, label_b) confusion-matrix grain (map-side combined,
    * |labels|² rows); marginals, the p_e cross term, and the finale all
    * ride that model-sized frame. Products reach n² — decimal(38,0).
    *
    * Output: ONE row `(n, agree, po_micro, kappa_micro)`. */
  def cohenKappa(df: DataFrame, aCol: String, bCol: String): DataFrame =
    cohenKappaFromCounts(
      df.select(col(aCol).as("_ka"), col(bCol).as("_kb"), lit(1L).as("_kw")),
      "_ka", "_kb", "_kw")

  /** [[cohenKappa]]'s weighted form — the production streaming-monitor
    * shape (the ksFromCounts convention): the (rater_a, rater_b)
    * confusion cells arrive PRE-COUNTED (e.g. drained complete-mode
    * state), and the identical statistic rides them, so the exploded
    * batch oracle applies verbatim. Weighted ≡ exploded is spec-pinned. */
  def cohenKappaFromCounts(counts: DataFrame, aCol: String, bCol: String,
      nCol: String): DataFrame = {
    val cm = graft.CacheScope.track(
      counts.filter(col(aCol).isNotNull && col(bCol).isNotNull &&
          col(nCol).cast("long") > 0)
        .select(col(aCol).as("_a"), col(bCol).as("_b"),
          col(nCol).cast("long").as("_w"))
        .groupBy("_a", "_b").agg(sum(col("_w")).as("_n"))
        .cache())
    val tot = cm.agg(sum(col("_n")).as("n"),
      sum(when(col("_a") === col("_b"), col("_n")).otherwise(0L)).as("agree"))
    val pe = cm.groupBy("_a").agg(sum(col("_n")).as("_ma"))
      .join(cm.groupBy("_b").agg(sum(col("_n")).as("_mb")),
        col("_a") === col("_b"))
      .agg(coalesce(sum(dec(col("_ma")) * dec(col("_mb"))),
        dec(lit(0L))).as("_pe"))
    val num = dec(lit(1000000L)) *
      (dec(col("n")) * dec(col("agree")) - col("_pe"))
    val den = dec(col("n")) * dec(col("n")) - col("_pe")
    tot.crossJoin(broadcast(pe))
      .select(
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("agree"), lit(0L)).as("agree"),
        when(col("n") > 0,
          fdiv(dec(lit(1000000L)) * dec(col("agree")), dec(col("n")))
            .cast("long")).as("po_micro"),
        when(col("n") === 0, lit(null).cast("long"))
          .when(den === dec(lit(0L)), 1000000L)
          .otherwise(fdiv(num, den).cast("long")).as("kappa_micro"))
  }

  /** Fleiss' kappa (Fleiss 1971) — [[cohenKappa]]'s generalization from
    * two fixed raters to ANY fixed number of raters per item, the
    * agreement number for a real annotation job (n labelers per
    * document). Input is ONE ROW PER RATING (`itemCol`, `categoryCol`);
    * rater identity is irrelevant to the statistic and deliberately not
    * a parameter.
    *
    * With N items, n raters per item, n_ij raters putting item i in
    * category j, C_j = Σ_i n_ij and the integer sums S2 = Σ_ij n_ij²,
    * T = Σ_j C_j²:
    *
    *   κ = (P̄ − P̄_e)/(1 − P̄_e)
    *     = ((S2 − Nn)·Nn − T·(n−1)) / ((n−1)·((Nn)² − T))
    *
    * — the textbook form cleared to ONE exact integer rational (both
    * clearings multiply by Nn²·(n−1) > 0, so the sign is preserved);
    * products reach (Nn)² and the numerator carries an extra factor up
    * to n via (S2 − Nn)·Nn (S2 ≤ n·Nn), so decimal(38,0) holds to
    * Nn ≈ 10¹⁹/√n ratings — past that Spark's non-ANSI decimal multiply
    * yields NULL kappa rather than a wrong number (r10 advice: the
    * envelope documented here now matches the arithmetic). The floor is the negative-safe pmod idiom —
    * κ < 0 (worse than chance) is reachable and exact. Conventions:
    * NULL item/category rows are excluded; a DIFFERING per-item rating
    * count fails loudly (`raise_error` — Fleiss' P_i denominator
    * n(n−1) is only defined for a fixed n, and silently averaging
    * unequal panels would fake precision); n = 1 reports NULL (one
    * rater has no one to agree with); a single category used anywhere
    * (T = (Nn)², denominator 0) reports 1,000,000 — everyone agreed on
    * everything, the [[cohenKappa]] constant-same convention.
    *
    * Scale shape: corpus volume collapses ONCE into the (item,
    * category) cell grain; the per-item pass rides cells (≤ N·|cats|
    * rows, map-side combined), the category marginals ride |cats| rows,
    * and the two 1-row finales meet in a broadcast cross. Output: ONE
    * row `(n_items, n_raters, n_categories, kappa_micro)`. */
  def fleissKappa(df: DataFrame, itemCol: String,
      categoryCol: String): DataFrame =
    fleissKappaFromCounts(
      df.select(col(itemCol).as("_ki"), col(categoryCol).as("_kc"),
        lit(1L).as("_kw")),
      "_ki", "_kc", "_kw")

  /** [[fleissKappa]]'s weighted form — the annotation-job monitor shape:
    * the (item, category) rating cells arrive PRE-COUNTED (e.g. drained
    * complete-mode state accumulated while labelers work), and the
    * identical statistic rides them, so the exploded batch oracle
    * applies verbatim. State grain is O(items·|cats|) — the SIZE OF THE
    * LABELING JOB, not of any corpus; an annotation batch is
    * model-sized by construction. Weighted ≡ exploded is spec-pinned. */
  def fleissKappaFromCounts(counts: DataFrame, itemCol: String,
      categoryCol: String, nCol: String): DataFrame = {
    val cells = graft.CacheScope.track(
      counts.filter(col(itemCol).isNotNull && col(categoryCol).isNotNull &&
          col(nCol).cast("long") > 0)
        .select(col(itemCol).as("_i"),
          col(categoryCol).cast("string").as("_c"),
          col(nCol).cast("long").as("_w"))
        .groupBy("_i", "_c").agg(sum(col("_w")).as("_n"))
        .cache())
    val items = cells.groupBy("_i").agg(sum(col("_n")).as("_ni"),
      sum(dec(col("_n")) * dec(col("_n"))).as("_s2i"))
    val tot = items.agg(count(lit(1)).as("n_items"),
      min(col("_ni")).as("_nmin"), max(col("_ni")).as("_nmax"),
      coalesce(sum(col("_s2i")), dec(lit(0L))).as("_s2"))
    val cats = cells.groupBy("_c").agg(sum(col("_n")).as("_cj"))
      .agg(count(lit(1)).as("n_categories"),
        coalesce(sum(dec(col("_cj")) * dec(col("_cj"))), dec(lit(0L))).as("_t"))
    val n = when(col("n_items") === 0, lit(null).cast("long"))
      .when(col("_nmin") === col("_nmax"), col("_nmin"))
      .otherwise(raise_error(concat(
        lit("fleissKappa: per-item rating counts differ (min "),
        col("_nmin").cast("string"), lit(", max "),
        col("_nmax").cast("string"),
        lit(") - Fleiss' kappa requires a fixed rater count per item"))))
    val nn = dec(col("n_items")) * dec(col("_nr"))
    val num = (col("_s2") - nn) * nn - col("_t") * dec(col("_nr") - lit(1L))
    val den = dec(col("_nr") - lit(1L)) * (nn * nn - col("_t"))
    tot.crossJoin(broadcast(cats))
      .withColumn("_nr", n)
      .select(col("n_items"),
        coalesce(col("_nr"), lit(0L)).as("n_raters"),
        col("n_categories"),
        when(col("n_items") === 0 || col("_nr") < 2,
            lit(null).cast("long"))
          .when(den === dec(lit(0L)), 1000000L)
          .otherwise(fdiv(dec(lit(1000000L)) * num, den).cast("long"))
          .as("kappa_micro"))
  }

  /** Ranked-retrieval quality per query: MRR, DCG@k / NDCG@k (Järvelin
    * linear-gain form `rel_i / log₂(i+1)`), precision@k and recall@k
    * over a result table carrying a query key, a non-negative integer
    * relevance gain, and an explicit deterministic ranking order.
    *
    * Exactness: each DCG term is micro-quantized INDIVIDUALLY —
    * `round(10⁶·rel / L_i)` where `L_i = log₂(i+1)` enters the plan as
    * a PRE-COMPUTED double literal (the same literal the oracle prints,
    * so no libm parity is ever at stake) — and the per-query sums are
    * then pure integers, order-independent. MRR/precision/recall are
    * exact integer floors. `k ≤ 64` keeps the literal discount table a
    * CASE expression, not a plan blowup.
    *
    * Semantics: rank = row_number under `order` within the query;
    * IDCG@k re-ranks the SAME result list by descending gain (the
    * standard list-relative ideal); queries with no relevant result
    * report `mrr_micro = 0`, `ndcg_micro = 0`, and NULL recall
    * (undefined without a relevant set). NULL or negative gains fail
    * loudly — silently zeroing a label bug would fabricate quality.
    *
    * Scale shape: two windows over the per-query result lists (list-
    * bounded state, one Exchange on the query key) and one final
    * aggregation to query grain. Nothing crosses queries.
    *
    * Output per query: `(queryCol, n_results, n_rel, mrr_micro,
    * dcg_micro, idcg_micro, ndcg_micro, precision_micro,
    * recall_micro)`. */
  def retrievalMetrics(results: DataFrame, queryCol: String, relCol: String,
      order: Seq[Column], k: Int): DataFrame = {
    require(k >= 1 && k <= 64, "k in [1, 64]")
    val rel = {
      val c = col(relCol)
      when(c.isNull || c < 0, expr(
        s"raise_error('retrievalMetrics: NULL or negative relevance in $relCol')")
        .cast("long"))
        .otherwise(c.cast("long"))
    }
    val ranked = results
      .withColumn("_rk", row_number().over(
        Window.partitionBy(col(queryCol)).orderBy(order: _*)))
      .select(col(queryCol).as("_q"), rel.as("_r"), col("_rk"))
      .withColumn("_ik", row_number().over(
        Window.partitionBy(col("_q")).orderBy(col("_r").desc, col("_rk"))))
    // the literal discount table: position i (1-based) → log₂(i+1) as
    // the exact double the JVM computed — printed verbatim into the
    // oracle, so both engines divide by the identical constant
    def dcgTerm(rk: Column): Column =
      (1 to k).foldLeft(lit(0L)) { (acc, i) =>
        when(rk === i && col("_r") > 0,
          round(lit(1e6) * col("_r").cast("double") / lit(discount(i)))
            .cast("long"))
          .otherwise(acc)
      }
    val agg = ranked.groupBy(col("_q"))
      .agg(count(lit(1)).as("n_results"),
        sum(when(col("_r") > 0, 1L).otherwise(0L)).as("n_rel"),
        min(when(col("_r") > 0, col("_rk"))).as("_first"),
        sum(dcgTerm(col("_rk"))).as("dcg_micro"),
        sum(dcgTerm(col("_ik"))).as("idcg_micro"),
        sum(when(col("_rk") <= k && col("_r") > 0, 1L).otherwise(0L)).as("_hits"))
    agg.select(col("_q").as(queryCol), col("n_results"), col("n_rel"),
      when(col("_first").isNotNull,
        fdiv(lit(1000000L), col("_first")).cast("long"))
        .otherwise(0L).as("mrr_micro"),
      col("dcg_micro"), col("idcg_micro"),
      when(col("idcg_micro") > 0,
        fdiv(dec(lit(1000000L)) * dec(col("dcg_micro")), dec(col("idcg_micro")))
          .cast("long")).otherwise(0L).as("ndcg_micro"),
      fdiv(dec(lit(1000000L)) * dec(col("_hits")), dec(lit(k.toLong)))
        .cast("long").as("precision_micro"),
      when(col("n_rel") > 0,
        fdiv(dec(lit(1000000L)) * dec(col("_hits")), dec(col("n_rel")))
          .cast("long")).as("recall_micro"))
  }

  /** Pearson chi-square test of independence between two categorical
    * columns, with Cramér's V² effect size: over the full r×c grid
    * (absent cells still carry expectation),
    * `χ² = Σ (o·n − rₐ·c_b)² / (n·rₐ·c_b)` — each term floored to an
    * exact integer micro-unit through the SPLIT division
    * `10⁶·d²//nrc = 10⁶·(d²//nrc) + (10⁶·(d² mod nrc))//nrc` (both
    * halves stay inside decimal(38,0) to ~3·10⁹ rows, the engine's
    * standard wide-product bound), so the summed statistic is a pure
    * integer, order-independent. `dof = (r−1)(c−1)`;
    * `cramers_v2_micro = χ²_micro // (n·min(r−1, c−1))` (V² rather than
    * V — the square root would leave the exact-rational envelope).
    * Rows with a NULL side are excluded (no cell); dof = 0 (a constant
    * column) reports NULL χ² — independence is untestable.
    *
    * Scale shape: corpus volume collapses ONCE into the contingency
    * grain (map-side combined); marginals, the dense grid (model-sized,
    * |a|·|b| cells, broadcast-built), and the finale all ride that
    * frame. Output: ONE row `(n, dof, chi2_micro, cramers_v2_micro)`. */
  def chiSquareIndependence(df: DataFrame, aCol: String, bCol: String): DataFrame =
    chiSquareFromCounts(
      df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
        .select(col(aCol).as("_a"), col(bCol).as("_b"))
        .groupBy("_a", "_b").agg(count(lit(1)).as("_n")),
      "_a", "_b", "_n")

  /** [[chiSquareIndependence]] on PRE-AGGREGATED cell counts
    * `(a, b, count)` — the weighted form (the [[ksFromCounts]]
    * convention): exactly equivalent to the exploded rows, so a
    * streaming complete-mode count state drains straight into it. */
  def chiSquareFromCounts(counts: DataFrame, aCol: String, bCol: String,
      nCol: String): DataFrame = {
    val cm = graft.CacheScope.track(
      counts.filter(col(aCol).isNotNull && col(bCol).isNotNull)
        .select(col(aCol).as("_a"), col(bCol).as("_b"),
          col(nCol).cast("long").as("_n"))
        .groupBy("_a", "_b").agg(sum(col("_n")).as("_n"))
        .cache())
    val ra = cm.groupBy("_a").agg(sum(col("_n")).as("_ra"))
    val cb = cm.groupBy("_b").agg(sum(col("_n")).as("_cb"))
    val tot = cm.agg(sum(col("_n")).as("_t"),
      countDistinct(col("_a")).as("_r"), countDistinct(col("_b")).as("_c"))
    val grid = ra.crossJoin(broadcast(cb)).crossJoin(broadcast(tot))
      .join(cm, Seq("_a", "_b"), "left")
    val d = dec(coalesce(col("_n"), lit(0L))) * dec(col("_t")) -
      dec(col("_ra")) * dec(col("_cb"))
    val d2 = d * d
    val nrc = dec(col("_t")) * dec(col("_ra")) * dec(col("_cb"))
    val term = dec(lit(1000000L)) * dec(fdiv(d2, nrc)) +
      dec(fdiv(dec(lit(1000000L)) * pmod(d2, nrc), nrc))
    val agg = grid.agg(max(col("_t")).as("n"), max(col("_r")).as("_r"),
      max(col("_c")).as("_c"), sum(term).as("_chi2"))
    agg.select(
      coalesce(col("n"), lit(0L)).as("n"),
      coalesce((col("_r") - 1) * (col("_c") - 1), lit(0L)).as("dof"),
      when((col("_r") - 1) * (col("_c") - 1) > 0,
        col("_chi2").cast("long")).as("chi2_micro"),
      when((col("_r") - 1) * (col("_c") - 1) > 0,
        fdiv(dec(col("_chi2")),
          dec(col("n")) * dec(least(col("_r"), col("_c")) - lit(1L)))
          .cast("long")).as("cramers_v2_micro"))
  }

  /** Average precision (the PR-curve area) of a score against a boolean
    * label — [[rocAuc]]'s companion for IMBALANCED classes (ROC-AUC
    * saturates when negatives dominate; AP tracks the positive class):
    * scores collapse to DESCENDING blocks (a tie block contributes at
    * its block-end precision — the step-wise ties convention),
    * `AP = Σ_blocks (pos_b/n_pos)·(cumpos_b/cum_n_b)`, each block's term
    * floored to an exact integer micro-unit (per-block floors, summed —
    * deterministic and replayed verbatim by the oracle; ≤ 1 micro lost
    * per distinct score). NULL scores excluded, NULL labels negative,
    * no-positive input reports NULL.
    *
    * Scale shape: the [[rocAuc]] machinery — one corpus-collapsing
    * aggregation to score grain, two distributed prefix sums over it in
    * descending order, a 1-row totals broadcast, one final aggregation.
    * Output: ONE row `(n_pos, n_neg, ap_micro)`. */
  def averagePrecision(df: DataFrame, scoreCol: String,
      labelCol: String): DataFrame = {
    val grain = graft.CacheScope.track(
      df.filter(col(scoreCol).isNotNull)
        .select(col(scoreCol).as("_s"),
          when(col(labelCol).cast("boolean"), 1L).otherwise(0L).as("_y"))
        .groupBy("_s").agg(count(lit(1)).as("_c"), sum(col("_y")).as("_p"))
        .cache())
    val desc = Seq(col("_s").desc)
    // score-grain count over the just-cached frame (fast-path dispatch)
    val nGrain = grain.count()
    val cn = Relational.distributedPrefixSum(grain, desc, "_c", knownRows = nGrain)
      .select(col("_s"), col("_cum_incl").as("_cn"))
    val cp = Relational.distributedPrefixSum(grain, desc, "_p", knownRows = nGrain)
      .select(col("_s"), col("_cum_incl").as("_cp"))
    val tot = grain.agg(coalesce(sum(col("_p")), lit(0L)).as("_npos"),
      coalesce(sum(col("_c") - col("_p")), lit(0L)).as("_nneg"))
    grain.join(cn, Seq("_s")).join(cp, Seq("_s")).crossJoin(broadcast(tot))
      .agg(max(col("_npos")).as("n_pos"), max(col("_nneg")).as("n_neg"),
        sum(when(col("_p") > 0 && col("_npos") > 0,
          fdiv(dec(lit(1000000L)) * dec(col("_p")) * dec(col("_cp")),
            dec(col("_npos")) * dec(col("_cn"))))
          .otherwise(dec(lit(0L)))).as("_ap"))
      .select(
        coalesce(col("n_pos"), lit(0L)).as("n_pos"),
        coalesce(col("n_neg"), lit(0L)).as("n_neg"),
        when(col("n_pos") > 0, col("_ap").cast("long")).as("ap_micro"))
  }

  /** Gains / lift table (decile analysis) of a score against a boolean
    * label — the campaign-targeting view of the same curve
    * [[averagePrecision]] integrates: rows rank by DESCENDING score into
    * `buckets` equal-width rank bands, and each band reports its
    * cumulative capture of positives (`gain`) and its capture ratio
    * against random targeting (`lift`). Tie blocks never split — a
    * score block belongs to the band its LAST row lands in
    * (`band = (cum_n − 1)·buckets // N`, exact integers), so sparse
    * score universes may leave bands empty rather than invent an order
    * inside a tie. All statistics are exact integer floors; no-positive
    * input reports NULL gain/lift.
    *
    * Scale shape: the [[averagePrecision]] machinery — score-grain
    * collapse, two descending prefix sums, then everything rides the
    * band grain (≤ `buckets` rows; its running sums use a window over
    * that model-sized frame, the unimax contract).
    *
    * Output per band: `(band, n, pos, cum_n, cum_pos, gain_micro,
    * lift_micro)`. */
  def gainsTable(df: DataFrame, scoreCol: String, labelCol: String,
      buckets: Int = 10): DataFrame = {
    require(buckets >= 2 && buckets <= 1000, "buckets in [2, 1000]")
    import org.apache.spark.sql.expressions.Window
    val grain = graft.CacheScope.track(
      df.filter(col(scoreCol).isNotNull)
        .select(col(scoreCol).as("_s"),
          when(col(labelCol).cast("boolean"), 1L).otherwise(0L).as("_y"))
        .groupBy("_s").agg(count(lit(1)).as("_c"), sum(col("_y")).as("_p"))
        .cache())
    val desc = Seq(col("_s").desc)
    // score-grain count over the just-cached frame (fast-path dispatch)
    val cn = Relational.distributedPrefixSum(grain, desc, "_c",
        knownRows = grain.count())
      .select(col("_s"), col("_cum_incl").as("_cn"))
    val tot = grain.agg(coalesce(sum(col("_c")), lit(0L)).as("_tn"),
      coalesce(sum(col("_p")), lit(0L)).as("_tp"))
    val banded = grain.join(cn, Seq("_s")).crossJoin(broadcast(tot))
      .groupBy(fdiv(dec((col("_cn") - 1) * buckets), dec(col("_tn")))
        .cast("long").as("band"))
      .agg(sum(col("_c")).as("n"), sum(col("_p")).as("pos"),
        max(col("_tn")).as("_tn"), max(col("_tp")).as("_tp"))
    banded
      .withColumn("cum_n", sum(col("n")).over(
        Window.orderBy(col("band"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cum_pos", sum(col("pos")).over(
        Window.orderBy(col("band"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("band"), col("n"), col("pos"), col("cum_n"), col("cum_pos"),
        when(col("_tp") > 0,
          fdiv(dec(lit(1000000L)) * dec(col("cum_pos")), dec(col("_tp")))
            .cast("long")).as("gain_micro"),
        when(col("_tp") > 0 && col("cum_n") > 0,
          fdiv(dec(lit(1000000L)) * dec(col("cum_pos")) * dec(col("_tn")),
            dec(col("cum_n")) * dec(col("_tp"))).cast("long")).as("lift_micro"))
  }

  /** Probabilistic-forecast scorecard over an INTEGRAL micro-unit
    * probability column (0..10⁶ — the engine's score convention, q152's
    * calibration curves are the per-bin view, this is the scalar):
    * Brier score `Σ(p − y)²/n` (p, y in micro units — exact rational,
    * reported in micro) and Expected Calibration Error over `bins`
    * equal-width probability bins —
    * `ECE = Σ_b (n_b/n)·|mean_p_b − frac_pos_b|`, cross-multiplied to
    * the exact `Σ_b |Σp_b − 10⁶·pos_b| // n`. Out-of-range or NULL
    * probabilities fail LOUDLY (a clamped bad probability would fake
    * calibration); NULL labels count negative.
    *
    * Scale shape: corpus volume collapses ONCE into the bin grain
    * (map-side combined, `bins` rows); both statistics ride it.
    * Output: ONE row `(n, n_pos, brier_micro, ece_micro)`. */
  def probScorecard(df: DataFrame, probMicroCol: String, labelCol: String,
      bins: Int = 10): DataFrame = {
    require(bins >= 1 && bins <= 10000, "bins in [1, 10000]")
    val p = {
      val c = col(probMicroCol)
      when(c.isNull || c < 0 || c > 1000000L, expr(
        s"raise_error('probScorecard: $probMicroCol outside [0, 1e6] micro units')")
        .cast("long")).otherwise(c.cast("long"))
    }
    val y = when(col(labelCol).cast("boolean"), 1L).otherwise(0L)
    val binId = least(fdiv(dec(p) * dec(lit(bins.toLong)), dec(lit(1000000L)))
      .cast("long"), lit(bins.toLong - 1))
    val g = df.select(p.as("_p"), y.as("_y"), binId.as("_b"))
      .groupBy("_b").agg(count(lit(1)).as("_n"), sum(col("_y")).as("_pos"),
        sum(dec(col("_p"))).as("_sp"),
        sum(dec(col("_p") - lit(1000000L) * col("_y")) *
          dec(col("_p") - lit(1000000L) * col("_y"))).as("_sq"))
    g.agg(coalesce(sum(col("_n")), lit(0L)).as("n"),
        coalesce(sum(col("_pos")), lit(0L)).as("n_pos"),
        coalesce(sum(col("_sq")), dec(lit(0L))).as("_sq"),
        coalesce(sum(abs(col("_sp") - dec(lit(1000000L)) * dec(col("_pos")))),
          dec(lit(0L))).as("_gap"))
      .select(col("n"), col("n_pos"),
        when(col("n") > 0,
          fdiv(col("_sq"), dec(lit(1000000L)) * dec(col("n"))).cast("long"))
          .as("brier_micro"),
        when(col("n") > 0,
          fdiv(col("_gap"), dec(col("n"))).cast("long")).as("ece_micro"))
  }

  /** Group-fairness audit of a binary classifier: per group, selection
    * rate (demographic parity), true-positive rate and false-positive
    * rate (equalized odds), each with its signed gap against the POOLED
    * rate — the bias report run before shipping any quality filter
    * (a "quality" classifier that silently drops one source or language
    * at 3× the rate of another is a data bug wearing a model's clothes).
    * All rates are exact integer floors; a group with no positives
    * reports NULL tpr (no rate to have), no negatives NULL fpr; gaps are
    * NULL where the rate is. NULL group is its own group (both engines
    * group NULLs as equal); NULL label/pred count false.
    *
    * Scale shape: corpus volume collapses ONCE into the (group, y, ŷ)
    * grain (map-side combined, 4 cells per group); the pooled rates are
    * a 1-row broadcast over that frame.
    *
    * Output per group: `(groupCol, n, sel_micro, tpr_micro, fpr_micro,
    * sel_gap_micro, tpr_gap_micro, fpr_gap_micro)`. */
  def fairnessReport(df: DataFrame, groupCol: String, labelCol: String,
      predCol: String): DataFrame =
    fairnessFromCounts(
      df.select(col(groupCol),
          when(col(labelCol).cast("boolean"), 1L).otherwise(0L).as("_yy"),
          when(col(predCol).cast("boolean"), 1L).otherwise(0L).as("_pp"))
        .groupBy(groupCol, "_yy", "_pp").agg(count(lit(1)).as("_nn")),
      groupCol, "_yy", "_pp", "_nn")

  /** [[fairnessReport]] on PRE-AGGREGATED (group, label, pred, count)
    * confusion cells — the weighted form (the [[ksFromCounts]]
    * convention): exactly equivalent to the exploded rows, so a drained
    * streaming count state (the production bias-monitor shape) feeds it
    * directly. Label/pred cells must already be 0/1-coded booleans. */
  def fairnessFromCounts(counts: DataFrame, groupCol: String, labelCol: String,
      predCol: String, nCol: String): DataFrame = {
    val cm = graft.CacheScope.track(
      counts.select(col(groupCol).as("_g"),
          when(col(labelCol).cast("boolean"), 1L).otherwise(0L).as("_y"),
          when(col(predCol).cast("boolean"), 1L).otherwise(0L).as("_p"),
          col(nCol).cast("long").as("_n"))
        .groupBy("_g", "_y", "_p").agg(sum(col("_n")).as("_n"))
        .cache())
    def rates(grouped: org.apache.spark.sql.RelationalGroupedDataset): DataFrame = grouped
      .agg(sum(col("_n")).as("n"),
        sum(col("_n") * col("_p")).as("_sel"),
        sum(col("_n") * col("_y")).as("_pos"),
        sum(col("_n") * col("_y") * col("_p")).as("_tp"),
        sum(col("_n") * (lit(1L) - col("_y")) * col("_p")).as("_fp"))
      .select(col("*"),
        fdiv(dec(lit(1000000L)) * dec(col("_sel")), dec(col("n")))
          .cast("long").as("sel_micro"),
        when(col("_pos") > 0,
          fdiv(dec(lit(1000000L)) * dec(col("_tp")), dec(col("_pos")))
            .cast("long")).as("tpr_micro"),
        when(col("n") - col("_pos") > 0,
          fdiv(dec(lit(1000000L)) * dec(col("_fp")),
            dec(col("n") - col("_pos"))).cast("long")).as("fpr_micro"))
    val per = rates(cm.groupBy("_g"))
    val pooled = rates(cm.groupBy())
      .select(col("sel_micro").as("_psel"), col("tpr_micro").as("_ptpr"),
        col("fpr_micro").as("_pfpr"))
    per.crossJoin(broadcast(pooled))
      .select(col("_g").as(groupCol), col("n"),
        col("sel_micro"), col("tpr_micro"), col("fpr_micro"),
        (col("sel_micro") - col("_psel")).as("sel_gap_micro"),
        (col("tpr_micro") - col("_ptpr")).as("tpr_gap_micro"),
        (col("fpr_micro") - col("_pfpr")).as("fpr_gap_micro"))
  }

  /** Multi-class classification report — per class: support, tp/fp/fn
    * and precision / recall / F1 as exact integer floors
    * (`F1 = 2tp/(2tp + fp + fn)` — the harmonic mean cleared to one
    * rational, no float intermediate). The class universe is the UNION
    * of observed labels and predictions: a predicted-but-never-true
    * class appears with support 0 (recall NULL), a true-but-never-
    * predicted class with precision NULL — silently dropping either
    * hides exactly the classes that are broken. Rows with a NULL label
    * or prediction are excluded.
    *
    * Macro/micro averages are one tiny aggregation over this output
    * (deliberately not baked in: micro-F1 of a single-label task equals
    * accuracy, and macro needs a NULL policy only the caller can pick).
    *
    * Scale shape: corpus volume collapses ONCE into the cached
    * (label, pred) confusion grain (|classes|² rows); marginals, the
    * diagonal and the finale all ride it. */
  def classificationReport(df: DataFrame, labelCol: String,
      predCol: String): DataFrame = {
    val clsType = df.schema(labelCol).dataType
    val cm = graft.CacheScope.track(
      df.filter(col(labelCol).isNotNull && col(predCol).isNotNull)
        .select(col(labelCol).cast("string").as("_y"),
          col(predCol).cast("string").as("_p"))
        .groupBy("_y", "_p").agg(count(lit(1)).as("_n"))
        .cache())
    val lt = cm.groupBy(col("_y").as("_c")).agg(sum(col("_n")).as("support"))
    val pt = cm.groupBy(col("_p").as("_c")).agg(sum(col("_n")).as("_predn"))
    val dg = cm.filter(col("_y") === col("_p"))
      .groupBy(col("_y").as("_c")).agg(sum(col("_n")).as("_tp"))
    val f = lt.join(pt, Seq("_c"), "full_outer").join(dg, Seq("_c"), "left")
      .select(col("_c"),
        coalesce(col("support"), lit(0L)).as("support"),
        coalesce(col("_tp"), lit(0L)).as("tp"),
        (coalesce(col("_predn"), lit(0L)) - coalesce(col("_tp"), lit(0L)))
          .as("fp"),
        (coalesce(col("support"), lit(0L)) - coalesce(col("_tp"), lit(0L)))
          .as("fn"))
    f.select(col("_c").cast(clsType).as("class"),
      col("support"), col("tp"), col("fp"), col("fn"),
      when(col("tp") + col("fp") > 0,
        fdiv(dec(lit(1000000L)) * dec(col("tp")),
          dec(col("tp") + col("fp"))).cast("long")).as("precision_micro"),
      when(col("support") > 0,
        fdiv(dec(lit(1000000L)) * dec(col("tp")), dec(col("support")))
          .cast("long")).as("recall_micro"),
      when(lit(2L) * col("tp") + col("fp") + col("fn") > 0,
        fdiv(dec(lit(2000000L)) * dec(col("tp")),
          dec(lit(2L) * col("tp") + col("fp") + col("fn"))).cast("long"))
        .as("f1_micro"))
  }

  /** The macro/micro summary [[classificationReport]] deliberately
    * leaves to the caller, with the NULL policy made EXPLICIT: macro
    * averages EXCLUDE classes whose metric is undefined (a ghost class
    * predicted but never true has no recall; a missed class never
    * predicted has no precision) and the report carries
    * `n_undefined_precision` / `n_undefined_recall` so the exclusion is
    * visible, never silent — the exclude-and-count policy. Averaging
    * undefined-as-zero is a different (defensible) policy; a caller who
    * wants it can reconstruct it exactly from the report's counts.
    *
    * Exactness: micro accuracy is ONE rational (Σtp / n — for
    * single-label data micro-P = micro-R = micro-F1 = accuracy, so one
    * number is the whole micro story); each macro value is the floor of
    * the MEAN OF THE PER-CLASS FLOORED MICROS (floor(Σ micro_c / k)) —
    * deterministic integer arithmetic end to end, replayed verbatim by
    * the oracle, at most 1 micro-unit below the unfloored mean per
    * class. Output: ONE row `(n, n_classes, accuracy_micro,
    * macro_precision_micro, macro_recall_micro, macro_f1_micro,
    * n_undefined_precision, n_undefined_recall)`.
    *
    * Scale shape: inherits [[classificationReport]]'s one corpus
    * collapse; the summary itself is a global aggregate over the
    * |classes| report rows. */
  def classificationSummary(df: DataFrame, labelCol: String,
      predCol: String): DataFrame = {
    val rep = classificationReport(df, labelCol, predCol)
    rep.agg(
        coalesce(sum(col("support")), lit(0L)).as("n"),
        count(lit(1)).as("n_classes"),
        coalesce(sum(col("tp")), lit(0L)).as("_tp"),
        count(col("precision_micro")).as("_np"),
        count(col("recall_micro")).as("_nr"),
        count(col("f1_micro")).as("_nf"),
        coalesce(sum(col("precision_micro")), lit(0L)).as("_sp"),
        coalesce(sum(col("recall_micro")), lit(0L)).as("_sr"),
        coalesce(sum(col("f1_micro")), lit(0L)).as("_sf"))
      .select(col("n"), col("n_classes"),
        when(col("n") > 0,
          fdiv(dec(lit(1000000L)) * dec(col("_tp")), dec(col("n")))
            .cast("long")).as("accuracy_micro"),
        when(col("_np") > 0, fdiv(dec(col("_sp")), dec(col("_np")))
          .cast("long")).as("macro_precision_micro"),
        when(col("_nr") > 0, fdiv(dec(col("_sr")), dec(col("_nr")))
          .cast("long")).as("macro_recall_micro"),
        when(col("_nf") > 0, fdiv(dec(col("_sf")), dec(col("_nf")))
          .cast("long")).as("macro_f1_micro"),
        (col("n_classes") - col("_np")).as("n_undefined_precision"),
        (col("n_classes") - col("_nr")).as("n_undefined_recall"))
  }

  /** Matthews correlation coefficient over the same confusion grain as
    * [[classificationReport]] — the single balance-robust scalar the
    * per-class report deliberately leaves to the caller. The multiclass
    * (Gorodkin R_K) form rides only the class marginals: with s = Σn,
    * c = Σdiagonal, t_k/p_k the true/predicted class totals,
    *
    *   MCC = (c·s − Σ p_k·t_k)
    *         / ( √(s² − Σ p_k²) · √(s² − Σ t_k²) )
    *
    * (the binary case reduces to the familiar
    * (tp·tn − fp·fn)/√((tp+fp)(tp+fn)(tn+fp)(tn+fn))). The numerator
    * and both radicands are EXACT integers on decimal(38,0) (s² wraps a
    * long past ~3·10⁹ rows; decimal is safe to s ≈ 10¹⁹); only the two
    * square roots are IEEE doubles, micro-quantized through
    * `round(1e6·…)` with the oracle replaying the identical expression
    * tree — the q92/BLEU round-transcendental convention (√ alone is
    * correctly rounded in both engines; the factored √f₁·√f₂ form also
    * keeps each radicand inside decimal(38,0) where the product f₁·f₂
    * would overflow it). A one-class input (either radicand 0 — every
    * prediction or every label identical) reports NULL: the correlation
    * is undefined, not zero. Rows with a NULL label or prediction are
    * excluded, exactly as in the report.
    *
    * Scale shape: corpus volume collapses ONCE into the (label, pred)
    * confusion cells; marginals, the diagonal and the finale all ride
    * that model-sized grain (|classes|² rows), and the two 1-row frames
    * meet in a broadcast cross. Output: ONE row
    * `(n, n_correct, n_classes, mcc_micro)`. */
  def matthewsCorrelation(df: DataFrame, labelCol: String,
      predCol: String): DataFrame = {
    val cm = graft.CacheScope.track(
      df.filter(col(labelCol).isNotNull && col(predCol).isNotNull)
        .select(col(labelCol).cast("string").as("_y"),
          col(predCol).cast("string").as("_p"))
        .groupBy("_y", "_p").agg(count(lit(1)).as("_n"))
        .cache())
    val lt = cm.groupBy(col("_y").as("_c")).agg(sum(col("_n")).as("_t"))
    val pt = cm.groupBy(col("_p").as("_c")).agg(sum(col("_n")).as("_pn"))
    val marg = lt.join(pt, Seq("_c"), "full_outer")
      .select(coalesce(col("_t"), lit(0L)).as("_t"),
        coalesce(col("_pn"), lit(0L)).as("_pn"))
      .agg(coalesce(sum(col("_t")), lit(0L)).as("_s"),
        count(lit(1)).as("n_classes"),
        coalesce(sum(dec(col("_pn")) * dec(col("_t"))), dec(lit(0L)))
          .as("_spt"),
        coalesce(sum(dec(col("_t")) * dec(col("_t"))), dec(lit(0L)))
          .as("_st2"),
        coalesce(sum(dec(col("_pn")) * dec(col("_pn"))), dec(lit(0L)))
          .as("_sp2"))
    val diag = cm.filter(col("_y") === col("_p"))
      .agg(coalesce(sum(col("_n")), lit(0L)).as("_c"))
    val num = (dec(col("_c")) * dec(col("_s")) - col("_spt")).cast("double")
    val f1 = dec(col("_s")) * dec(col("_s")) - col("_sp2")
    val f2 = dec(col("_s")) * dec(col("_s")) - col("_st2")
    marg.crossJoin(broadcast(diag))
      .select(col("_s").as("n"), col("_c").as("n_correct"), col("n_classes"),
        when(f1 > 0 && f2 > 0,
          round(lit(1000000.0) *
            (num / (sqrt(f1.cast("double")) * sqrt(f2.cast("double")))))
            .cast("long")).as("mcc_micro"))
  }

  /** McNemar's paired test between two classifiers judged on the SAME
    * rows (`aCorrectCol` / `bCorrectCol` boolean verdicts): the test
    * rides ONLY the discordant counts — `b` = A right where B wrong,
    * `c` = A wrong where B right — with the statistic
    * `χ² = (b − c)²/(b + c)` (1 dof, no continuity correction —
    * documented, the oracle replays the same convention) as an exact
    * integer micro floor. Rows where either verdict is NULL are
    * excluded; `b + c = 0` (no disagreement) reports NULL — there is
    * nothing to test.
    *
    * Scale shape: ONE corpus-collapsing aggregation. Output: ONE row
    * `(n, b_discordant, c_discordant, chi2_micro)`. */
  def mcnemar(df: DataFrame, aCorrectCol: String,
      bCorrectCol: String): DataFrame = {
    val agg = df.filter(col(aCorrectCol).isNotNull && col(bCorrectCol).isNotNull)
      .select(col(aCorrectCol).cast("boolean").as("_a"),
        col(bCorrectCol).cast("boolean").as("_b"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("_a") && !col("_b"), 1L).otherwise(0L)).as("b_discordant"),
        sum(when(!col("_a") && col("_b"), 1L).otherwise(0L)).as("c_discordant"))
    agg.select(
      coalesce(col("n"), lit(0L)).as("n"),
      coalesce(col("b_discordant"), lit(0L)).as("b_discordant"),
      coalesce(col("c_discordant"), lit(0L)).as("c_discordant"),
      when(col("b_discordant") + col("c_discordant") > 0,
        fdiv(dec(lit(1000000L)) *
            dec(col("b_discordant") - col("c_discordant")) *
            dec(col("b_discordant") - col("c_discordant")),
          dec(col("b_discordant") + col("c_discordant"))).cast("long"))
        .as("chi2_micro"))
  }

  /** Concentration profile of an integral weight over a key universe —
    * the "is this corpus dominated by a few sources?" diagnostic run
    * before any mixture decision: Gini coefficient (population form over
    * the key grain: `G = (2·Σᵢ i·w₍ᵢ₎ − (n+1)·W) / (n·W)` with weights
    * ascending and rank i = 1..n), Herfindahl–Hirschman index
    * (`Σ (w_k/W)²`), and top-1 / top-10 shares. Every statistic is an
    * exact integer rational: ranks are row indexes under the strict
    * (weight, key) total order via the distributed two-phase prefix sum
    * (never a global window), and the rank-weighted sum rides
    * decimal(38,0). Equal-weight ties cannot perturb Gini (Σi over a tie
    * block is rank-assignment-invariant). NULL weights are excluded;
    * a NEGATIVE key total fails loudly (the Lorenz order is undefined —
    * refunds must be netted or filtered by the caller first).
    *
    * Scale shape: corpus volume collapses ONCE into the key grain; the
    * prefix sum, the moment aggregation and the TakeOrdered top-10 all
    * ride that frame; output is ONE row
    * `(n_keys, total, gini_micro, hhi_micro, top1_micro, top10_micro)`. */
  def concentrationProfile(df: DataFrame, keyCol: String,
      weightCol: String): DataFrame = {
    val grain = graft.CacheScope.track(
      df.filter(col(weightCol).isNotNull)
        .select(col(keyCol).as("_k"), col(weightCol).cast("long").as("_w"))
        .groupBy("_k").agg(sum(col("_w")).as("_wk0"))
        .select(col("_k"),
          when(col("_wk0") < 0, expr(
            "raise_error('concentrationProfile: negative key total — net or filter refunds first')")
            .cast("long"))
            .otherwise(col("_wk0")).as("_wk"))
        .cache())
    // key-grain count over the just-cached frame (fast-path dispatch)
    val ranked = Relational.distributedPrefixSum(
      grain.withColumn("_one", lit(1L)), Seq(col("_wk"), col("_k")), "_one",
      knownRows = grain.count())
    val iw = ranked.agg(
      coalesce(sum(dec(col("_cum_incl")) * dec(col("_wk"))), dec(lit(0L)))
        .as("_iw"))
    val tot = grain.agg(sum(col("_wk")).as("_W"), count(lit(1)).as("_n"),
      max(col("_wk")).as("_top1"),
      coalesce(sum(dec(col("_wk")) * dec(col("_wk"))), dec(lit(0L))).as("_sq"))
    val top10 = grain.orderBy(col("_wk").desc, col("_k")).limit(10)
      .agg(coalesce(sum(col("_wk")), lit(0L)).as("_t10"))
    iw.crossJoin(broadcast(tot)).crossJoin(broadcast(top10))
      .select(
        coalesce(col("_n"), lit(0L)).as("n_keys"),
        coalesce(col("_W"), lit(0L)).as("total"),
        when(col("_n") > 0 && col("_W") > 0,
          fdiv(dec(lit(1000000L)) *
              (dec(lit(2L)) * col("_iw") -
                dec(col("_n") + lit(1L)) * dec(col("_W"))),
            dec(col("_n")) * dec(col("_W"))).cast("long")).as("gini_micro"),
        when(col("_W") > 0,
          fdiv(dec(lit(1000000L)) * col("_sq"),
            dec(col("_W")) * dec(col("_W"))).cast("long")).as("hhi_micro"),
        when(col("_W") > 0,
          fdiv(dec(lit(1000000L)) * dec(col("_top1")), dec(col("_W")))
            .cast("long")).as("top1_micro"),
        when(col("_W") > 0,
          fdiv(dec(lit(1000000L)) * dec(col("_t10")), dec(col("_W")))
            .cast("long")).as("top10_micro"))
  }

  /** Jensen–Shannon divergence (nats) between the `sideCol`-true (A) and
    * -false (B) categorical distributions of `valueCol` — the
    * always-finite drift companion to [[ksTwoSample]] for UNordered
    * categories (KL explodes on any novel category; JSD ≤ ln 2). Each
    * value's term
    * `½p·ln(2p/(p+q)) + ½q·ln(2q/(p+q))` (zero-sided halves drop out
    * exactly) is micro-quantized INDIVIDUALLY from the same IEEE
    * expression tree the oracle replays — `ln` is the one transcendental,
    * the q19/q92/BM25 exposure — so the sum is a pure integer,
    * order-free. NULL values are excluded; an empty side reports NULL.
    *
    * Scale shape: one corpus-collapsing aggregation to value grain, a
    * 1-row totals broadcast, one aggregation over the grain.
    * Output: ONE row `(n_a, n_b, jsd_micro)`. */
  def jsDivergence(df: DataFrame, valueCol: String, sideCol: String): DataFrame =
    jsdFromCounts(
      df.filter(col(valueCol).isNotNull)
        .select(col(valueCol).as("_v"),
          when(col(sideCol).cast("boolean"), 1L).otherwise(0L).as("_a"))
        .groupBy("_v").agg(sum(col("_a")).as("_ca"),
          sum(lit(1L) - col("_a")).as("_cb")),
      "_v", "_ca", "_cb")

  /** [[jsDivergence]] on PRE-AGGREGATED value-grain counts
    * `(value, countA, countB)` — the weighted form; a drained streaming
    * count state feeds it directly. */
  def jsdFromCounts(counts: DataFrame, valueCol: String, aCol: String,
      bCol: String): DataFrame = {
    val g = graft.CacheScope.track(
      counts.select(col(valueCol).as("_v"), col(aCol).cast("long").as("_ca"),
          col(bCol).cast("long").as("_cb"))
        .cache())
    val tot = g.agg(sum(col("_ca")).as("_na"), sum(col("_cb")).as("_nb"))
    // ANSI guard: an EMPTY side makes its ratio 0/0 — the output is NULL
    // in that case anyway (gated below), so pin the ratio to 0.0 rather
    // than tripping the ANSI divide-by-zero error mid-aggregation
    val p = when(col("_na") > 0,
      col("_ca").cast("double") / col("_na").cast("double")).otherwise(lit(0.0))
    val q = when(col("_nb") > 0,
      col("_cb").cast("double") / col("_nb").cast("double")).otherwise(lit(0.0))
    val term =
      when(col("_ca") > 0,
        lit(0.5) * p * log(lit(2.0) * p / (p + q))).otherwise(lit(0.0)) +
      when(col("_cb") > 0,
        lit(0.5) * q * log(lit(2.0) * q / (p + q))).otherwise(lit(0.0))
    g.crossJoin(broadcast(tot))
      .agg(max(col("_na")).as("n_a"), max(col("_nb")).as("n_b"),
        sum(round(lit(1e6) * term).cast("long")).as("_jsd"))
      .select(
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        when(col("n_a") > 0 && col("n_b") > 0, col("_jsd")).as("jsd_micro"))
  }

  /** Population Stability Index between the `sideCol`-true (A, the
    * "expected"/reference side) and -false (B, the "actual" side) binned
    * distributions of `valueCol`: `PSI = Σ (p_i − q_i)·ln(p_i/q_i)` —
    * the industry-standard model-monitoring drift score (< 0.1 stable,
    * 0.1–0.25 drifting, > 0.25 act). Terms are non-negative by sign
    * agreement and micro-quantized individually from the identical IEEE
    * tree the oracle replays (the [[jsDivergence]] convention), so the
    * sum is a pure integer. PSI is UNDEFINED on a bin empty on either
    * side (ln 0) — this fails LOUDLY rather than silently smoothing:
    * re-bin coarser or pre-smooth explicitly (a fabricated ε would make
    * the score depend on an invisible constant). NULL values excluded;
    * an empty side reports NULL.
    *
    * Scale shape: identical to [[jsDivergence]] — one value-grain
    * collapse, a 1-row totals broadcast, one aggregation.
    * Output: ONE row `(n_a, n_b, psi_micro)`. */
  def psi(df: DataFrame, valueCol: String, sideCol: String): DataFrame =
    psiFromCounts(
      df.filter(col(valueCol).isNotNull)
        .select(col(valueCol).as("_v"),
          when(col(sideCol).cast("boolean"), 1L).otherwise(0L).as("_a"))
        .groupBy("_v").agg(sum(col("_a")).as("_ca"),
          sum(lit(1L) - col("_a")).as("_cb")),
      "_v", "_ca", "_cb")

  /** [[psi]] on PRE-AGGREGATED value-grain counts — the weighted form;
    * a drained streaming count state feeds it directly. */
  def psiFromCounts(counts: DataFrame, valueCol: String, aCol: String,
      bCol: String): DataFrame = {
    val g = graft.CacheScope.track(
      counts.select(col(valueCol).as("_v"), col(aCol).cast("long").as("_ca"),
          col(bCol).cast("long").as("_cb"))
        .cache())
    val tot = g.agg(sum(col("_ca")).as("_na"), sum(col("_cb")).as("_nb"))
    val p = when(col("_na") > 0,
      col("_ca").cast("double") / col("_na").cast("double")).otherwise(lit(0.0))
    val q = when(col("_nb") > 0,
      col("_cb").cast("double") / col("_nb").cast("double")).otherwise(lit(0.0))
    // gated behind the both-sides-present check and the empty-side NULL,
    // so the ln arguments are always strictly positive when evaluated
    val term = when(col("_na") > 0 && col("_nb") > 0,
      when(col("_ca") === 0 || col("_cb") === 0, expr(
        "raise_error('psi: a bin is empty on one side — PSI is undefined (ln 0); re-bin coarser or pre-smooth explicitly')")
        .cast("double"))
        .otherwise((p - q) * log(p / q))).otherwise(lit(0.0))
    g.crossJoin(broadcast(tot))
      .agg(max(col("_na")).as("n_a"), max(col("_nb")).as("n_b"),
        sum(round(lit(1e6) * term).cast("long")).as("_psi"))
      .select(
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        when(col("n_a") > 0 && col("n_b") > 0, col("_psi")).as("psi_micro"))
  }

  /** `log₂(i+1)` as the JVM's exact double — THE constant both the plan
    * and the oracle must share; [[discountSqlLiteral]] prints it
    * round-trip-exactly for the oracle side. */
  private[graft] def discount(i: Int): Double =
    math.log(i + 1.0) / math.log(2.0)

  /** The discount as a DuckDB double literal that parses back to the
    * identical bits (shortest round-trip repr via Java's Double). */
  private[graft] def discountSqlLiteral(i: Int): String = {
    val d = discount(i)
    s"CAST(${java.lang.Double.toString(d)} AS DOUBLE)"
  }
}
