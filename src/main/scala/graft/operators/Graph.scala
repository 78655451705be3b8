package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph analytics over edge frames — the quality-propagation
  * layer of a training-data pipeline: centrality scoring (PageRank) and
  * semi-supervised label spread (label propagation) over the kNN /
  * near-dup graphs the dedup+ANN family already produces.
  *
  * Both operators run a FIXED number of synchronous rounds, one keyed
  * aggregation per round, on [[Iterate]] (the engine's iterative
  * contract). And both are *integer-exact*: ranks ride as micro-units
  * with integral division and label votes break ties on
  * (count DESC, label ASC) — a strict total order — so results are
  * bit-identical across engines, partitionings, and runs; no
  * order-dependent float summation ever surfaces (the
  * [[graft.functions.Portable]] rule).
  */
object Graph {

  /** Loop-frame density for [[Iterate.partitions]]: ~2M edge rows
    * ≈ 50 MB per task (also [[Dedup.connectedComponents]]'). */
  private[operators] val RowsPerTask = 2000000L

  /** PageRank with fixed `iterations` and integer micro-unit arithmetic.
    *
    * Every node starts at 1,000,000 micro-units. Per round, node v
    * receives S(v) = Σ over in-edges (u,v) of `r(u) div outdeg(u)`
    * (integral division), then
    * `r'(v) = base + (dampingPct · S(v)) div 100` with
    * `base = (1,000,000 · (100 − dampingPct)) div 100`.
    * Integer sums are order-free, so the result is deterministic —
    * unlike float PageRank, whose partition-order summation never
    * hash-matches across engines. Rounding leaks a few micro-units per
    * edge per round and dangling nodes (no out-edges) leak their whole
    * rank share — both standard for the no-redistribution variant and
    * identical in any engine replaying the same rule.
    *
    * Scale shape: the |E|-row frames are hash-partitioned and SORTED on
    * the per-round join key ONCE, then cached; the V-row rank state
    * broadcasts into the round's one join while model-sized (r15 — the
    * bradleyTerry hint; past 2M rows AQE keeps the shuffle plan), so
    * |E| rows never move or sort again after round 0 and the only
    * per-round Exchange is the destination-key aggregation — the
    * transpose, information-theoretically necessary. The "nodes with no
    * in-flow keep base" completion is a zero-contribution union row per
    * node INSIDE that aggregation (r16 — the connectedComponents round
    * shape), not a second V-row join.
    * Rank state is one row per node; no step materializes anything
    * bigger than the edge list (the Pregel shape, expressed
    * declaratively so AQE handles skewed hub nodes). Total work is
    * `iterations × O(|E|)` — fixed rounds, no convergence test, no
    * driver-side data.
    *
    * Output: `(node_id, rank_micro)`. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int, dampingPct: Int = 85): DataFrame = {
    require(iterations >= 1, "iterations >= 1")
    require(dampingPct >= 0 && dampingPct <= 100, "dampingPct in [0,100]")
    val idType = edges.schema(srcCol).dataType
    val base = (1000000L * (100 - dampingPct)) / 100
    graft.CacheScope.retained { hold =>
      // the raw edge cache only feeds the two loop frames: it is freed
      // once they are materialized instead of sitting as |E| dead rows
      // through every round
      val (withDeg, nodes, nNodes) = graft.CacheScope.retained { raw =>
        val e = raw(edges.select(col(srcCol).cast("long").as("_s"),
          col(dstCol).cast("long").as("_d")).cache())
        val p = Iterate.partitions(e, RowsPerTask)
        // degree rides WITH each edge (one join, reused every round);
        // pinned on the per-round join key, so the round's sort-merge
        // join neither re-shuffles nor re-sorts the |E|-row side (only
        // the V-row rank side pays a per-round sort)
        val withDeg = hold(Iterate.pin(
          e.join(e.groupBy("_s").agg(count(lit(1)).as("_deg")), "_s"), p, "_s"))
        val nodes = hold(Iterate.pin(
          e.select(col("_s").as("_id")).union(e.select(col("_d").as("_id"))).distinct(),
          p, "_id"))
        withDeg.count()
        (withDeg, nodes, nodes.count())
      }
      // r15 (the bradleyTerry hint): the V-row rank state broadcasts into
      // the round's edge join while model-sized; past the bound AQE keeps
      // the shuffle plan and the cached |E| side is untouched either way
      // (GraphSpec's round-plan pin covers the SMJ fallback shape).
      // Interleaved same-JVM A/B on q132's edges: 12-round loop −9.4%,
      // checksums identical (BASELINE.md r15).
      val hint = ModelSized.hint(nodes.withColumn("_r", lit(0L)), nNodes)
      // r16: the round folds the "nodes that received nothing keep base"
      // left join INTO the destination-key aggregation by unioning one
      // zero-contribution row per node (the connectedComponents round
      // shape) — S(v) is the same order-free long sum (Σ contribs + 0),
      // missing-node coalesce(_S, 0) ≡ the zero row, so the result is
      // bit-identical (GraphSpec pins the rows the join spelling gave).
      // What it removes per round: the V-row `sums` frame no longer
      // materializes as a broadcast build (a blocking sub-job per round on
      // the fast path) or an exchange+sort SMJ leg (fallback) — the
      // aggregation's output IS the next rank state after one projection
      // (−16.5% loop-isolated, OPTIMIZATION_r16.md §9).
      Iterate.rounds(Iterate.checkpoint(nodes.withColumn("_r", lit(1000000L))), iterations) { r =>
        Iterate.checkpoint(withDeg
          .join(hint(r.withColumnRenamed("_id", "_s")), "_s")
          .select(col("_d").as("_id"), expr("_r div _deg").as("_c"))
          .unionByName(nodes.select(col("_id"), lit(0L).as("_c")))
          .groupBy("_id").agg(sum(col("_c")).as("_S"))
          .select(col("_id"),
            (lit(base) + expr(s"($dampingPct * _S) div 100")).as("_r")))
      }
    }.select(col("_id").cast(idType).as("node_id"), col("_r").as("rank_micro"))
  }

  /** Semi-supervised label propagation: spread `seeds`' labels over
    * `edges` for a fixed number of synchronous rounds.
    *
    * Round semantics (mirrored verbatim by the SQL oracle):
    *   - seeded nodes keep their seed label forever (clamped);
    *   - every other node adopts the plurality label among its OUT-edge
    *     neighbors' previous-round labels, ties broken by smallest label
    *     — a strict total order, so every round is deterministic;
    *   - a node whose neighbors are all unlabeled keeps its previous
    *     label (initially null — "unreached").
    *
    * Scale shape per round: one join of the edge list against the label
    * frame on the neighbor key, one (node, label) count aggregation, one
    * deterministic arg-max (`max_by` over the (count, −label) struct —
    * an aggregation, not a window sort), one left join back to the node
    * set. All state is one row per node; fixed rounds bound total work at
    * `rounds × O(|E|)`.
    *
    * Output: `(node_id, label, is_seed)`; `label` stays null for nodes no
    * seed can reach within `rounds`. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedIdCol: String, seedLabelCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1, "rounds >= 1")
    val idType = edges.schema(srcCol).dataType
    graft.CacheScope.retained { hold =>
      // same loop-frame discipline as [[pageRank]]: edges pinned on the
      // per-round join key (_d), nodes on the state key — each round's
      // edge×label join then re-shuffles neither side; the raw edge and
      // seed caches are freed before the rounds begin
      val (e, nodes, nNodes) = graft.CacheScope.retained { raw =>
        val e0 = raw(edges.select(col(srcCol).cast("long").as("_s"),
          col(dstCol).cast("long").as("_d")).cache())
        val p = Iterate.partitions(e0, RowsPerTask)
        val e = hold(Iterate.pin(e0, p, "_d"))
        val seed = raw(seeds.select(col(seedIdCol).cast("long").as("_id"),
          col(seedLabelCol).cast("int").as("_seed")).cache())
        val nodes = hold(Iterate.pin(
          e.select(col("_s").as("_id")).union(e.select(col("_d").as("_id")))
            .distinct()
            .join(seed, Seq("_id"), "left"),
          p, "_id"))
        e.count()
        (e, nodes, nodes.count())
      }
      // the label side and the per-round vote table both broadcast while
      // model-sized (see pageRank); the cached |E| side never moves
      val hint = ModelSized.hint(nodes.withColumn("_lbl", col("_seed")), nNodes)
      Iterate.rounds(Iterate.checkpoint(nodes.withColumn("_lbl", col("_seed"))), rounds) {
        labels =>
          val votes = e
            .join(hint(labels.select(col("_id").as("_d"), col("_lbl").as("_nl"))), "_d")
            .filter(col("_nl").isNotNull)
            .groupBy(col("_s"), col("_nl")).agg(count(lit(1)).as("_c"))
            .groupBy(col("_s"))
            .agg(max_by(col("_nl"), struct(col("_c"), (-col("_nl")).as("_neg"))).as("_vote"))
          // seed wins, else this round's plurality vote, else carry previous.
          // NOT the bradleyTerry γ-leg reuse case (r16, measured): the votes
          // join's label leg carries `Filter isnotnull(_lbl)` on its build
          // side (inner join + null-label filter) while this left-outer prev
          // leg cannot — the two broadcast build subtrees are semantically
          // different, so no alias spelling makes them canonical-equal
          // (ReusedExchange never appears; 7-rep interleaved medians 2.589
          // vs 2.618 s — a wash, OPTIMIZATION_r16.md §8). And NOT the
          // pageRank r16 union-into-aggregation case either (measured, n=9
          // loop-isolated, OPTIMIZATION_r16.md §9): folding (vote counts ∪
          // prev rows) into one max_by aggregation reads +4.8% median,
          // slower in 7/9 reps — unlike pageRank's, the broadcast builds
          // removed are cheap V-row frames while the union pushes V extra
          // rows through the struct-ordered arg-max; the join spelling stays.
          Iterate.checkpoint(nodes.select(col("_id"), col("_seed"))
            .join(hint(votes.select(col("_s").as("_id"), col("_vote"))), Seq("_id"), "left")
            .join(hint(labels.select(col("_id"), col("_lbl").as("_prev"))), Seq("_id"), "left")
            .select(col("_id"), col("_seed"),
              coalesce(col("_seed"), col("_vote"), col("_prev")).as("_lbl")))
      }
    }.select(col("_id").cast(idType).as("node_id"),
      col("_lbl").as("label"),
      col("_seed").isNotNull.cast("int").as("is_seed"))
  }

  /** Triangle count and local clustering coefficient per node — the
    * graph-density audit of a kNN / near-dup graph (a node whose
    * neighbors all know each other sits inside a tight semantic cluster;
    * one whose neighbors never meet is a hub or noise).
    *
    * Degree-ordered orientation (the O(|E|^1.5) triangle-listing shape):
    * every undirected edge orients from its lexicographically smaller
    * (degree, id) endpoint, so wedges enumerate only from each
    * triangle's LOWEST-degree corner — per-node wedge work is bounded by
    * that node's OUT-degree squared, which the orientation caps at
    * O(√|E|) even for a hub whose raw degree is millions (a plain id
    * orientation would square the hub's degree; the difference at 100 TB
    * is the job finishing or not). Each triangle is emitted exactly
    * once; the closing-edge check is a semi join on the oriented edge
    * list, since the same total order orients the closing edge (v, w)
    * identically. Directions and multi-edges collapse first.
    *
    * `cc_micro` = 2·T ÷ (d·(d−1)) in integer MICRO-units via the exact
    * (num − pmod) / den floor division (engine-portable; nodes with
    * d < 2 score 0). Output: `(node_id, degree, triangles, cc_micro)` —
    * one row per node of the undirected graph; the global triangle count
    * is Σ triangles / 3.
    *
    * Shape: dedup + degree are keyed aggs; the wedge join and the
    * closing semi join are equi-joins on node keys; the per-node count
    * is one explode (×3) + keyed agg. Nothing materializes beyond
    * O(wedges) transient candidates, bounded per task by oriented
    * out-degree². */
  def triangleStats(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val idType = edges.schema(srcCol).dataType
    val und = graft.CacheScope.track(
      edges.select(col(srcCol).cast("long").as("_a"), col(dstCol).cast("long").as("_b"))
        .filter(col("_a") =!= col("_b"))
        .select(least(col("_a"), col("_b")).as("_a"),
          greatest(col("_a"), col("_b")).as("_b"))
        .distinct().cache())
    val deg = graft.CacheScope.track(
      und.select(col("_a").as("_n")).union(und.select(col("_b").as("_n")))
        .groupBy("_n").agg(count(lit(1)).as("degree")).cache())
    val keyA = struct(col("_da"), col("_a"))
    val keyB = struct(col("_db"), col("_b"))
    val o = graft.CacheScope.track(und
      .join(deg.select(col("_n").as("_a"), col("degree").as("_da")), "_a")
      .join(deg.select(col("_n").as("_b"), col("degree").as("_db")), "_b")
      .select(
        when(keyA < keyB, col("_a")).otherwise(col("_b")).as("_u"),
        when(keyA < keyB, col("_b")).otherwise(col("_a")).as("_v"),
        when(keyA < keyB, col("_db")).otherwise(col("_da")).as("_dv"))
      .cache())
    val wedges = o.select(col("_u"), col("_v").as("_x"), col("_dv").as("_dx"))
      .join(o.select(col("_u"), col("_v").as("_y"), col("_dv").as("_dy")), Seq("_u"))
      .filter(struct(col("_dx"), col("_x")) < struct(col("_dy"), col("_y")))
    val tri = wedges
      .join(o.select(col("_u").as("_x"), col("_v").as("_y")), Seq("_x", "_y"), "left_semi")
      .select(col("_u"), col("_x"), col("_y"))
    val perNode = tri
      .select(explode(array(col("_u"), col("_x"), col("_y"))).as("_n"))
      .groupBy("_n").agg(count(lit(1)).as("triangles"))
    val num = col("triangles") * 2000000L
    val den = col("degree") * (col("degree") - 1)
    deg.join(perNode, Seq("_n"), "left")
      .withColumn("triangles", coalesce(col("triangles"), lit(0L)))
      .select(col("_n").cast(idType).as("node_id"), col("degree"),
        col("triangles"),
        when(col("degree") < 2, lit(0L))
          .otherwise(((num - pmod(num, den)) / den).cast("long")).as("cc_micro"))
  }
}
