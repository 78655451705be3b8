package graft.operators

import graft.{CacheScope, SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The CacheScope contract, asserted: every operator that persists an
  * internal table registers it, every operator whose RESULT rides a
  * local checkpoint registers that checkpoint, and after the consuming
  * action + `CacheScope.release()` NOTHING persisted remains — including
  * checkpoint blocks, which `Dataset.unpersist` alone can never free
  * (they persist at the RDD level, invisible to the SQL CacheManager).
  * Without this, repeated operator calls (bench repeats, scale-probe
  * loops) accumulate cached tables and checkpoint blocks for the
  * session's lifetime.
  */
class CacheLifecycleSpec extends SparkSpec {

  /** Persisted-RDD ids beyond `baseline` — checkpointed or not: after a
    * release, NOTHING the operator materialized may survive. */
  private def leaked(baseline: Set[Int]): Map[Int, String] =
    spark.sparkContext.getPersistentRDDs
      .filter { case (id, _) => !baseline(id) }
      .map { case (id, r) => id -> r.toString }
      .toMap

  /** Run `body` (which must materialize the operator's output), then
    * release and assert no persisted RDD survived. */
  private def assertReleasedAfter(expectTracked: Boolean)(body: => Long): Unit = {
    CacheScope.release() // drop anything a previous test/suite left behind
    val baseline = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val rows = body
    assert(rows > 0, "probe query produced no rows — the assertion would be vacuous")
    if (expectTracked)
      assert(CacheScope.pendingCount > 0,
        "operator was expected to register its internal persist with CacheScope")
    CacheScope.release()
    val left = leaked(baseline)
    assert(left.isEmpty, s"persisted RDDs leaked past release(): $left")
    assert(CacheScope.pendingCount == 0)
  }

  private lazy val docs = Tables.documents(spark, sf).select("doc_id", "text")
  private lazy val emb = Tables.embeddings(spark, sf)

  test("minhashLshPairs releases its shingle table") {
    assertReleasedAfter(expectTracked = true) {
      Dedup.minhashLshPairs(docs, "doc_id", "text", n = 3, minJaccard = 0.6).count()
    }
  }

  test("ngramJaccardPairs releases its shingle table") {
    assertReleasedAfter(expectTracked = true) {
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, minJaccard = 0.4).count()
    }
  }

  test("cosineNearDupCandidates releases its unit-vector projection") {
    assertReleasedAfter(expectTracked = true) {
      Similarity.cosineNearDupCandidates(emb, "vec_id", "embedding", 0.45).count()
    }
  }

  test("connectedComponents cleans up its own per-round caches") {
    assertReleasedAfter(expectTracked = false) {
      val edges = spark.range(1000)
        .select(col("id").as("id_a"), (col("id") - col("id") % 7).as("id_b"))
        .filter(col("id_a") =!= col("id_b"))
      Dedup.connectedComponents(edges, "id_a", "id_b").count()
    }
  }

  test("boilerplateCoverage releases its exploded span table") {
    assertReleasedAfter(expectTracked = true) {
      TextOps.boilerplateCoverage(docs, "doc_id", "text", span = 2, minDocs = 5).count()
    }
  }

  test("sourceOverlap releases its distinct shingle table") {
    assertReleasedAfter(expectTracked = true) {
      Dedup.sourceOverlap(Tables.documents(spark, sf).select("source", "text"),
        "source", "text", n = 2).count()
    }
  }

  test("stripRepeatedSpans releases its positioned n-gram table") {
    assertReleasedAfter(expectTracked = true) {
      TextOps.stripRepeatedSpans(docs, "doc_id", "text", span = 5, minDocs = 10).count()
    }
  }

  test("ngramLmScore releases its event table") {
    assertReleasedAfter(expectTracked = true) {
      TextOps.ngramLmScore(docs, "doc_id", "text").count()
    }
  }

  test("bm25Search releases its pruned token projection") {
    assertReleasedAfter(expectTracked = true) {
      TextOps.bm25Search(docs, "doc_id", "text", Seq("spark", "table"), k = 5).count()
    }
  }

  test("crossNearDup releases both unit-vector projections") {
    assertReleasedAfter(expectTracked = true) {
      Similarity.crossNearDup(emb, "vec_id", "embedding",
        emb.limit(20).select((col("vec_id") + 900000L).as("vec_id"), col("embedding")),
        "vec_id", "embedding", minSim = 0.95).count()
    }
  }

  test("tfidfKeywords releases its term-frequency table") {
    assertReleasedAfter(expectTracked = true) {
      TextOps.tfidfKeywords(docs, "doc_id", "text", k = 3).count()
    }
  }

  test("dsirScore releases its raw gram projection") {
    assertReleasedAfter(expectTracked = true) {
      TextOps.dsirScore(docs, docs.limit(50), "doc_id", "text",
        buckets = 512, lambda = 1.0, k = 10).count()
    }
  }

  test("sequentialPack: pinned partitioning released before return, output checkpoint tracked") {
    CacheScope.release()
    val baseline = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val df = spark.range(5000).select(col("id"), (pmod(col("id"), lit(97)) + 1).as("w"))
    val packed = TextOps.sequentialPack(df, "id", "w", budget = 997L)
    // the pinned range partitioning is released eagerly inside the
    // operator; what survives is exactly ONE tracked artifact — the
    // output's eager checkpoint, which the caller consumes and then
    // frees with the next release()
    assert(CacheScope.pendingCount == 1,
      "sequentialPack must track exactly its output checkpoint")
    assert(packed.count() == 5000)
    CacheScope.release()
    assert(leaked(baseline).isEmpty,
      "the output checkpoint's RDD blocks must be freed by release()")
    assert(CacheScope.pendingCount == 0)
  }

  test("pageRank releases its edge/degree caches and the final-round checkpoint") {
    assertReleasedAfter(expectTracked = true) {
      val edges = emb.select(col("vec_id").as("s"), ((col("vec_id") * 7) % 100).cast("long").as("d"))
      Graph.pageRank(edges, "s", "d", iterations = 3).count()
    }
  }

  test("labelPropagation releases its caches and the final-round checkpoint") {
    assertReleasedAfter(expectTracked = true) {
      val edges = emb.select(col("vec_id").as("s"), ((col("vec_id") * 7) % 100).cast("long").as("d"))
      val seeds = emb.filter(col("vec_id") % 10 === 0).select(col("vec_id"), col("label"))
      Graph.labelPropagation(edges, "s", "d", seeds, "vec_id", "label", rounds = 3).count()
    }
  }

  test("bradleyTerry releases its caches and the final-round checkpoint") {
    assertReleasedAfter(expectTracked = true) {
      Rank.bradleyTerry(btDuels, "w", "l", rounds = 3).count()
    }
  }

  test("releaseLocalCheckpoint frees blocks that Dataset.unpersist silently cannot") {
    CacheScope.release()
    val baseline = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val cp = spark.range(1000).toDF("id").localCheckpoint()
    cp.unpersist(true) // the trap: consults only the CacheManager — no-op here
    assert(leaked(baseline).nonEmpty,
      "precondition lost: Dataset.unpersist freed a checkpoint — the helper is obsolete")
    CacheScope.releaseLocalCheckpoint(cp)
    assert(leaked(baseline).isEmpty,
      "releaseLocalCheckpoint must unpersist the checkpointed RDD itself")
  }

  test("rougeScores releases its pair/token/count caches") {
    assertReleasedAfter(expectTracked = true) {
      import spark.implicits._
      val pairs = Seq((0L, 1L), (2L, 3L)).toDF("id_a", "id_b")
      TextOps.rougeScores(docs, "doc_id", "text", pairs, "id_a", "id_b").count()
    }
  }

  test("calibrationCurve releases its scored-join cache") {
    assertReleasedAfter(expectTracked = true) {
      import spark.implicits._
      val scored = Seq((1L, "a", 5L), (2L, "a", 7L)).toDF("id", "pred", "s")
      val truth = Seq((1L, "a"), (2L, "b")).toDF("id", "t")
      TextOps.calibrationCurve(scored, "id", "pred", "s", truth, "id", "t", 2).count()
    }
  }

  test("coOccurrence releases its distinct (group, item) cache") {
    assertReleasedAfter(expectTracked = true) {
      import spark.implicits._
      Events.coOccurrence(Seq(("g", "a"), ("g", "b")).toDF("g", "i"), "g", "i").count()
    }
  }

  test("concurrencySweep: pinned partitioning released, result checkpoint tracked") {
    CacheScope.release()
    val baseline = spark.sparkContext.getPersistentRDDs.keySet.toSet
    import spark.implicits._
    val iv = Seq(("2024-01-01 00:00:00", "2024-01-01 01:00:00"),
      ("2024-01-01 00:30:00", "2024-01-01 02:00:00")).toDF("s", "e")
    val out = Events.concurrencySweep(iv, "s", "e")
    assert(out.count() == 4)
    val live = spark.sparkContext.getPersistentRDDs.keySet.toSet -- baseline
    assert(live.size <= 1, s"only the result checkpoint may remain: $live")
    CacheScope.release()
    assert((spark.sparkContext.getPersistentRDDs.keySet.toSet -- baseline).isEmpty)
  }

  test("triangleStats releases its edge/degree/orientation caches") {
    assertReleasedAfter(expectTracked = true) {
      Graph.triangleStats(
        spark.range(60).select(col("id").as("a"), ((col("id") + 1) % 60).as("b")),
        "a", "b").count()
    }
  }

  test("keySkewProfile releases its key-count table") {
    assertReleasedAfter(expectTracked = true) {
      Relational.keySkewProfile(Tables.documents(spark, sf), Seq("lang"), topK = 3).count()
    }
  }

  private def prEdges = spark.range(200)
    .select(col("id").as("s"), ((col("id") * 7) % 100).as("d"))
  private def lpSeeds = spark.range(0, 100, 10)
    .select(col("id"), (col("id") % 3).cast("int").as("lbl"))
  private def btDuels = spark.range(300)
    .select((col("id") % 17).as("w"), ((col("id") * 7 + 3) % 17).as("l"))
    .filter(col("w") =!= col("l"))

  /** The checkpointed iterative operators, each with its result's row
    * count and the number of persisted RDDs its materialized result may still hold before the
    * harness release(): the final round's checkpoint, plus — for
    * bradleyTerry only — the `items` cache its returned plan joins.
    * Retired rounds and the loop-pinned frames must already be gone. */
  private lazy val iterative: Seq[(String, Int => DataFrame, Long, Int)] = Seq(
    // a 64-node path graph needs several pointer-jump rounds — if retired
    // rounds leaked, more than the final round's blocks would survive
    ("connectedComponents", _ => Dedup.connectedComponents(
      spark.range(63).select(col("id").as("id_a"), (col("id") + 1).as("id_b")),
      "id_a", "id_b"), 64L, 1),
    ("pageRank", n => Graph.pageRank(prEdges, "s", "d", iterations = n), 200L, 1),
    ("labelPropagation", n => Graph.labelPropagation(prEdges, "s", "d", lpSeeds,
      "id", "lbl", rounds = n), 200L, 1),
    ("bradleyTerry", n => Rank.bradleyTerry(btDuels, "w", "l", rounds = n), 16L, 2))

  for ((name, run, rows, keep) <- iterative)
    test(s"$name frees each retired round's checkpoint blocks in-loop") {
      CacheScope.release()
      val baseline = spark.sparkContext.getPersistentRDDs.keySet.toSet
      assert(run(4).count() == rows)
      val live = leaked(baseline)
      assert(live.size <= keep,
        s"only the result's own checkpoint${if (keep > 1) " and items" else ""} " +
          s"may remain after the loop: $live")
      CacheScope.release()
      assert(leaked(baseline).isEmpty,
        "the result checkpoint must be freed by the harness release()")
    }

  // A round that throws must not strand the live round's checkpoint: the
  // operator's job group is cancelled (with every later job in it) at the
  // first job after round 1 — the job count of a one-round call, plus one.
  // Checkpoint blocks are invisible to release() unless tracked, so a
  // stranded checkpoint survives it. A job cancelled inside a checkpoint's
  // own materialization would leave that checkpoint's RDD marked
  // persistent with no blocks and no handle to free it; round 2's first
  // job is a broadcast or shuffle-stage job, which runs before the
  // checkpoint marks its RDD, so normally nothing remains — if the cancel
  // lands late, at most that one block-less RDD may.
  for ((name, run, _, _) <- iterative if name != "connectedComponents")
    test(s"$name frees the live round checkpoint when a round fails") {
      CacheScope.release()
      val oneRound = JobWatch.run(spark)(run(1))
      assert(oneRound.result.isRight, s"one-round call failed: ${oneRound.result}")
      CacheScope.release()
      val baseline = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val failed = JobWatch.run(spark, cancelAt = oneRound.jobs + 1)(run(3))
      assert(failed.result.isLeft, "the cancelled call must throw")
      CacheScope.release()
      val left = leaked(baseline)
      val holdingBlocks = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
      assert(left.size <= 1 && left.keySet.forall(id => !holdingBlocks(id)),
        s"persisted RDDs survived a failed round and release(): $left")
    }

  test("shared scope defers unpersists: entries survive any member's release, last exit drains") {
    // The r13 opt-in shared-scope contract: while ANY member is active,
    // count-zero releases must NOT unpersist (CacheManager can serve a
    // sibling via lookup the refcount never sees — the refcount-only
    // shared mode reproduced the silent-empty chain in soak loop 1);
    // the LAST member's exit drains every deferred entry.
    CacheScope.release()
    val baseline = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val gate = new java.util.concurrent.CountDownLatch(1)
    val released = new java.util.concurrent.CountDownLatch(1)
    @volatile var afterRelease = Map.empty[Int, String]
    val a = new Thread(() => {
      Tables.enterSharedScope(990L)
      try {
        val df = CacheScope.track(
          Tables.documents(spark, sf).select("doc_id", "n_chars").persist())
        df.count()
        CacheScope.release() // count hits zero -> DEFERRED, not unpersisted
        afterRelease = leaked(baseline)
        released.countDown()
        gate.await() // stay an active member while the main thread checks
      } finally Tables.exitSharedScope()
    }, "scope-a")
    val b = new Thread(() => {
      Tables.enterSharedScope(990L)
      try { gate.await() } finally Tables.exitSharedScope()
    }, "scope-b")
    a.start(); b.start()
    released.await()
    assert(afterRelease.nonEmpty,
      "the tracked persist must SURVIVE release() while the scope is live")
    gate.countDown()
    a.join(); b.join()
    assert(leaked(baseline).isEmpty,
      s"last member's exit must drain the deferred unpersists: ${leaked(baseline)}")
  }

  test("long-lived shared scope stays bounded: quiescent-point drains cap pending + residency") {
    // r13 verdict watch item 2: a scope that outlives many queries (a real
    // multi-tenant service session) must not accumulate every distinct
    // plan's cache entry until the last exit. With the watermark forced
    // low, a SINGLE member cycling distinct persisted frames across the
    // equivalent of several inventories must see its pending queue drained
    // at release-time quiescent points — never above watermark + the one
    // cycle in flight — and persistent-RDD residency capped with it.
    import org.apache.spark.sql.functions._
    CacheScope.release()
    val baseline = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val prev = sys.props.get("graft.cachescope.drainWatermark")
    sys.props("graft.cachescope.drainWatermark") = "4"
    try {
      val t = new Thread(() => {
        Tables.enterSharedScope(991L)
        try {
          var maxPending = 0
          var maxLive = 0
          (1 to 18).foreach { i => // 18 distinct frames ≈ 3 six-gate inventories
            val df = CacheScope.track(Tables.documents(spark, sf)
              .select(col("doc_id"), (col("n_chars") + i).as("x")).persist())
            df.count()
            CacheScope.release() // deferral + quiescent drain attempt
            maxPending = math.max(maxPending, CacheScope.scopePendingSize(991L))
            maxLive = math.max(maxLive,
              (spark.sparkContext.getPersistentRDDs.keySet.toSet -- baseline).size)
          }
          assert(maxPending <= 5, // watermark 4 + the cycle that tips it over
            s"pending queue must stay bounded by the watermark, saw $maxPending")
          assert(maxLive <= 6,
            s"cache residency must be capped by the drains, saw $maxLive live entries")
        } finally Tables.exitSharedScope()
      }, "scope-longlived")
      t.start(); t.join()
      assert(leaked(baseline).isEmpty, s"exit drains the rest: ${leaked(baseline)}")
    } finally prev match {
      case Some(v) => sys.props("graft.cachescope.drainWatermark") = v
      case None => sys.props.remove("graft.cachescope.drainWatermark")
    }
  }

  test("quiescent drain is SKIPPED while any sibling is mid-query (read lock held)") {
    // The safety half of the watermark drain: a sibling that is presumed
    // mid-query (it holds the scope read lock for its whole membership
    // outside its own release()) must block the drain — tryLock(write)
    // fails — so deferred entries survive exactly until a provable
    // quiescent point.
    import org.apache.spark.sql.functions._
    CacheScope.release()
    val baseline = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val prev = sys.props.get("graft.cachescope.drainWatermark")
    sys.props("graft.cachescope.drainWatermark") = "2"
    val hold = new java.util.concurrent.CountDownLatch(1)
    val bJoined = new java.util.concurrent.CountDownLatch(1)
    try {
      val b = new Thread(() => {
        Tables.enterSharedScope(992L)
        bJoined.countDown()
        try hold.await() finally Tables.exitSharedScope()
      }, "scope-busy-sibling")
      b.start(); bJoined.await()
      @volatile var pendingWhileBusy = -1
      @volatile var liveWhileBusy = Map.empty[Int, String]
      val a = new Thread(() => {
        Tables.enterSharedScope(992L)
        try {
          (1 to 6).foreach { i =>
            val df = CacheScope.track(Tables.documents(spark, sf)
              .select(col("doc_id"), (col("n_chars") - i).as("y")).persist())
            df.count()
            CacheScope.release()
          }
          pendingWhileBusy = CacheScope.scopePendingSize(992L)
          liveWhileBusy = leaked(baseline)
        } finally Tables.exitSharedScope()
      }, "scope-releaser")
      a.start(); a.join()
      assert(pendingWhileBusy == 6,
        s"all 6 deferrals must survive while the sibling is mid-query: $pendingWhileBusy")
      assert(liveWhileBusy.size == 6,
        s"no entry may be unpersisted under a live sibling: ${liveWhileBusy.size}")
      hold.countDown(); b.join()
      assert(leaked(baseline).isEmpty,
        s"last exit still drains everything: ${leaked(baseline)}")
      assert(CacheScope.scopeMemberCount(992L) == 0)
    } finally prev match {
      case Some(v) => sys.props("graft.cachescope.drainWatermark") = v
      case None => sys.props.remove("graft.cachescope.drainWatermark")
    }
  }

  test("enterSharedScope is not re-entrant: joining while in a scope fails fast") {
    // ADVICE r13: silently overwriting the thread's scope would orphan the
    // earlier membership (count never reaches zero -> permanent leak).
    @volatile var thrown: Option[Throwable] = None
    val t = new Thread(() => {
      Tables.enterSharedScope(993L)
      try { try Tables.enterSharedScope(994L) catch { case e: Throwable => thrown = Some(e) } }
      finally Tables.exitSharedScope()
    }, "scope-reenter")
    t.start(); t.join()
    assert(thrown.exists(_.isInstanceOf[IllegalArgumentException]),
      s"double enter must throw, got $thrown")
    assert(CacheScope.scopeMemberCount(993L) == 0 &&
      CacheScope.scopeMemberCount(994L) == 0, "no orphaned membership")
  }

  test("enter/exit churn is atomic: no negative counts, no half-torn-down epoch (ADVICE r13)") {
    // The r13 advice race: between the last member's decrement-to-zero and
    // the queue removal, a concurrent enter could join a scope mid-teardown
    // and have its pending queue drained under it. With membership
    // transitions decided inside one per-key compute this cannot happen:
    // hammer same-id enter/exit churn with a tracked persist per pass and
    // assert the terminal state is fully clean.
    import org.apache.spark.sql.functions._
    CacheScope.release()
    val baseline = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 4).map { w =>
      new Thread(() => {
        try (0 until 12).foreach { i =>
          Tables.enterSharedScope(995L)
          try {
            val df = CacheScope.track(Tables.documents(spark, sf)
              .select(col("doc_id"), (col("n_chars") * 2 + w * 100 + i).as("z")).persist())
            df.count()
            CacheScope.release()
            assert(CacheScope.scopeMemberCount(995L) >= 1,
              "a live member must always see itself counted")
          } finally Tables.exitSharedScope()
        } catch { case e: Throwable => errors.add(e) }
      }, s"scope-churn-$w")
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errors.isEmpty, s"churn must be exception-free: ${errors.peek()}")
    assert(CacheScope.scopeMemberCount(995L) == 0, "terminal member count must be 0")
    assert(CacheScope.scopePendingSize(995L) == 0, "terminal pending must be drained")
    assert(leaked(baseline).isEmpty,
      s"no epoch may leak entries through the churn: ${leaked(baseline)}")
  }

  test("defer: cleanup thunks run at THIS thread's release, exceptions isolated") {
    val ran = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    CacheScope.defer(() => ran.add("a"))
    CacheScope.defer(() => throw new RuntimeException("boom"))
    CacheScope.defer(() => ran.add("b"))
    // another thread's release must NOT run this thread's thunks
    val t = new Thread(() => CacheScope.release())
    t.start(); t.join()
    assert(ran.isEmpty, "thread-scoped: a sibling's release ran our cleanups")
    CacheScope.release()
    assert(ran.toArray.toSeq == Seq("a", "b"),
      "all thunks run once, a throwing thunk must not skip the rest")
    CacheScope.release()
    assert(ran.size == 2, "thunks are consumed, not re-run")
  }

  test("streaming drain's memory-sink view is dropped at release (pooled child session)") {
    // run one streaming gate, materialize, release — the drained
    // graft_stream_q_* temp view must be gone from the child session's
    // catalog (with the r16 pooled session it would otherwise hold the
    // sink rows for the JVM's lifetime). The child is pooled per thread,
    // so a second gate on this thread sees the same catalog.
    val out = graft.queries.StreamingQueries.all("q87_stream_mixture")(spark, sf)
    val child = out.sparkSession // the pooled child session
    assert(out.count() > 0)
    val before = child.catalog.listTables().collect()
      .count(_.name.startsWith("graft_stream_q_"))
    assert(before >= 1, "the drained view must exist until release")
    CacheScope.release()
    val after = child.catalog.listTables().collect()
      .count(_.name.startsWith("graft_stream_q_"))
    assert(after == 0, s"release must drop the drained views ($after left)")
  }
}
