package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

/** Loaders for the driver-generated test tables (TESTDATA.md).
  *
  * All queries go through here so scans stay uniform: parquet relations with
  * Catalyst predicate pushdown and column pruning intact. Do not cache —
  * at 100 TB the tables don't fit; rely on pushdown instead.
  */
object Tables {
  val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Small dimensions that should always broadcast in joins. */
  val Dims: Set[String] = Set("region", "nation", "customer", "supplier", "part")

  private val scopeIds = new java.util.concurrent.atomic.AtomicLong(0L)
  private val scopeId = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = java.lang.Long.valueOf(scopeIds.incrementAndGet())
  }

  /** OPT-IN shared cache scope (r12 verdict item 5). Worker isolation
    * (the per-thread tag below) deliberately forgoes cross-worker cache
    * sharing, costing ~20% multi-session soak throughput. Workers of ONE
    * trusted tenant that want the sharing back opt in by adopting a
    * common scope id: their plans become canonically equal again, so
    * CacheManager dedupes their persists into shared entries. Safety then
    * rests on [[CacheScope]]'s per-key ATOMIC reference-counted release
    * (the r12 bisect's other independent fix: atomic release alone
    * survived 22 consecutive soak loops pre-tag) — not on isolation.
    * Isolation stays the DEFAULT; never share a scope across tenants. */
  private val sharedScopeId = new ThreadLocal[Option[java.lang.Long]] {
    override def initialValue(): Option[java.lang.Long] = None
  }
  /** Entering also joins [[CacheScope]]'s DEFERRED-release scope: with
    * shared entries, CacheManager serves a sibling's query via plan
    * lookup — a consumer the refcount cannot see — so per-query
    * unpersists must not fire while any member is active (the refcount-
    * only shared mode reproduced the silent-empty chain in loop 1 of its
    * first soak). The last member's [[exitSharedScope]] drains them. */
  def enterSharedScope(id: Long): Unit = {
    // Join CacheScope membership FIRST (it throws on re-entrant enter,
    // ADVICE r14 medium): if the thread-local were set before a failed
    // join, a caller that catches the exception would tag plans with the
    // NEW scope id (sharing cache entries with that scope) while deferred-
    // release membership stayed with the OLD scope — an old-scope drain
    // could then unpersist an entry a new-scope member is mid-query on.
    // Ordering alone makes the failure atomic: on throw, neither changes.
    CacheScope.enterSharedScope(id)
    sharedScopeId.set(Some(java.lang.Long.valueOf(id)))
  }

  /** Leaves the shared scope. NOTE (ADVICE r14): if this thread is the
    * LAST member of the scope, [[CacheScope.exitSharedScope]] drains the
    * scope's deferred unpersists under a blocking write lock — a joiner
    * racing in on a fresh epoch can hold the read lock for its whole
    * query, so this call may block for the duration of that query. Do
    * not call from latency-critical service threads; exit at worker
    * teardown (the soak harness pattern). */
  def exitSharedScope(): Unit = {
    // Clear the plan-tag thread-local FIRST (reverse of enter): once
    // membership is dropped a racing drain may unpersist shared entries,
    // and any plan this thread builds afterwards must already carry its
    // private isolation tag rather than the departed scope's id.
    sharedScopeId.set(None)
    CacheScope.exitSharedScope()
  }
  private def effectiveScope: Long =
    sharedScopeId.get().map(_.longValue).getOrElse(scopeId.get.longValue)

  /** CONCURRENCY ISOLATION (r12 root cause, BASELINE.md "silent-empty
    * under concurrency"): Spark's CacheManager dedupes cache entries by
    * canonicalized plan ACROSS sessions of one SparkContext, so two
    * concurrent workers running the same (or a fragment-sharing) gate
    * share ONE entry for every operator-internal persist. That sharing is
    * the precondition for a proven wrong-answer chain: any unpersist of a
    * plan another entry depends on triggers CacheManager's dependent
    * RE-COMPILE (`recacheByCondition` — it runs even with cascade=false),
    * which swaps a FRESH CachedRDDBuilder under a live query; two
    * concurrent jobs then race-materialize it, BlockManager put-contention
    * drops one compute iterator unconsumed, and the builder's row-count
    * accumulator under-counts (to 0 in the observed repro) while its
    * partition-completion counter marks the entry fully loaded — poisoned
    * RUNTIME STATISTICS over intact data. AQE's PropagateEmptyRelation
    * trusts those stats and rewrites dependent joins to EmptyRelation:
    * silently empty/wrong results (the pre-fix soak reproduced it
    * ~1-in-3 runs; BASELINE.md "r12 ROOT CAUSE" records the chain).
    *
    * The fix is structural: every load is tagged with a THREAD-scoped
    * no-op projection (`withColumn(lit(scopeId)).drop`), so concurrent
    * workers' plans are never canonically equal and never share a cache
    * entry — no shared entry, no cross-worker dependent re-compile, no
    * concurrent double-materialization. Within a thread (the serial
    * Verify/Bench harnesses, each soak worker) canonical forms are
    * unchanged-equal, so same-scope cache reuse still works. The tag is
    * dead code after analysis — CollapseProject removes it, so optimized
    * plans, pushdown, and PLANS.md pins are byte-identical. */
  private def scopeTag(df: DataFrame): DataFrame = {
    // withColumn would silently REPLACE (then drop) a real column of the
    // tagging name — data loss, not an error. No driver table carries
    // one, but fail closed rather than open (ADVICE r12).
    require(!df.columns.contains("__graft_scope"),
      "loaded table already has a __graft_scope column — scope tagging would drop it")
    df.withColumn("__graft_scope", lit(effectiveScope)).drop("__graft_scope")
  }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    scopeTag(spark.read.parquet(s"$sfDir/$name.parquet"))

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
