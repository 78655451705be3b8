package graft

import org.apache.spark.sql.DataFrame

/** The r12 concurrency fix's structural property, pinned deterministically
  * (no timing, no soak): two THREADS' Tables.load plans are never
  * canonically equal, so Spark's CacheManager can never share a cache
  * entry between concurrent workers — which removes the precondition for
  * the whole silent-empty chain (foreign unpersist → dependent re-compile
  * → stats-poisoned builder → AQE EmptyRelation; see BASELINE.md "r12
  * ROOT CAUSE"). Same-thread plans stay canonically equal, so serial
  * cache reuse is unchanged.
  */
class CacheIsolationSpec extends SparkSpec {

  private def canonOf(df: DataFrame) = df.queryExecution.analyzed.canonicalized

  private def loadOnThread(): DataFrame = {
    @volatile var out: DataFrame = null
    val t = new Thread(() => { out = Tables.documents(spark, sf) }, "iso-load")
    t.start(); t.join()
    out
  }

  test("Tables.load: same thread -> canonically equal (cache reuse intact)") {
    val a = Tables.documents(spark, sf)
    val b = Tables.documents(spark, sf)
    assert(canonOf(a) == canonOf(b),
      "same-scope loads must stay canonically equal or serial cache reuse breaks")
  }

  test("Tables.load: different threads -> canonically DISTINCT, no CacheManager cross-hit") {
    val mine = Tables.documents(spark, sf)
    val theirs = loadOnThread()
    assert(canonOf(mine) != canonOf(theirs),
      "cross-thread loads must never be canonically equal (the r12 isolation property)")
    // and the real arbiter — CacheManager itself must not dedupe them
    val cached = mine.cache()
    try {
      cached.count()
      val hit = spark.sharedState.cacheManager.lookupCachedData(
        theirs.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      assert(hit.isEmpty, "CacheManager shared an entry across thread scopes")
      // derived plans inherit the isolation: a persist-shaped projection
      // over each load must not collide either (the shingled/e0 shapes)
      import org.apache.spark.sql.functions._
      val dMine = mine.select(col("doc_id"), length(col("text")).as("_n"))
      val dTheirs = theirs.select(col("doc_id"), length(col("text")).as("_n"))
      assert(canonOf(dMine) != canonOf(dTheirs),
        "derived frames must inherit the thread-scope isolation")
    } finally cached.unpersist(true)
  }

  test("opt-in shared scope: same-id threads are canonically EQUAL, exit restores isolation") {
    // The r12 verdict's throughput knob: trusted same-tenant workers
    // adopt one scope id and get cross-worker cache sharing back;
    // isolation stays the default and returns the moment they exit.
    def loadInScope(scope: Option[Long]): DataFrame = {
      @volatile var out: DataFrame = null
      val t = new Thread(() => {
        scope.foreach(Tables.enterSharedScope)
        try out = Tables.documents(spark, sf)
        finally Tables.exitSharedScope()
      }, "iso-shared-load")
      t.start(); t.join()
      out
    }
    val a = loadInScope(Some(7L))
    val b = loadInScope(Some(7L))
    val c = loadInScope(None)
    assert(canonOf(a) == canonOf(b),
      "same shared scope id across threads must be canonically equal (sharing restored)")
    assert(canonOf(a) != canonOf(c),
      "a worker outside the shared scope must stay isolated")
    // exit is thread-local and immediate: the SAME thread re-isolated
    @volatile var inOut: (DataFrame, DataFrame) = null
    val t = new Thread(() => {
      Tables.enterSharedScope(7L)
      val in = Tables.documents(spark, sf)
      Tables.exitSharedScope()
      inOut = (in, Tables.documents(spark, sf))
    }, "iso-shared-exit")
    t.start(); t.join()
    assert(canonOf(inOut._1) == canonOf(a), "inside the scope: shared")
    assert(canonOf(inOut._2) != canonOf(a), "after exit: isolated again")
  }

  test("the scope tag is dead after optimization: optimized plans are tag-free and equal") {
    val mine = Tables.documents(spark, sf)
    val theirs = loadOnThread()
    def opt(df: DataFrame) = df.queryExecution.optimizedPlan.canonicalized
    assert(!mine.queryExecution.optimizedPlan.toString.contains("__graft_scope"),
      "the tag must be collapsed out of the optimized plan (zero runtime cost)")
    assert(opt(mine) == opt(theirs),
      "optimized plans must be identical across scopes — the tag is analysis-only")
    assert(mine.columns.sameElements(theirs.columns), "schema unchanged by the tag")
  }
}
