package graft

import org.apache.spark.sql.Dataset

/** Deterministic release for operator-internal persists.
  *
  * Some operators persist an intermediate that their returned (lazy) plan
  * consumes several times — e.g. `Dedup.shingled`'s hashed-shingle table
  * (3-4 consumers) and `Similarity.cosineNearDupCandidates`' unit-vector
  * projection (sketch branch + both verify joins). The operator cannot
  * unpersist before returning (the caller hasn't run the plan yet), and
  * Spark has no result-scoped unpersist hook — so without a contract each
  * call leaks one cached table for the session's lifetime, and repeated
  * invocations (bench repeats, scale-probe loops) pile up cached tables
  * that evict each other back to recompute.
  *
  * Contract: operators [[track]] every persist their RETURNED plan
  * reads and [[trackCheckpoint]] every checkpoint it reads; harness
  * callers (Verify, Bench, ScaleProbe, tests) call `release()` after
  * materializing a query's output. A persist only the operator's own
  * eager work reads is held for one [[retained]] block instead. Release
  * order is irrelevant (unpersist is idempotent and cheap), and
  * releasing a persist early is SAFE — a dropped cache degrades to
  * recompute, never to wrong answers (every tracked table is a
  * deterministic projection; the one case where recompute could change
  * results — `Relational.distributedPrefixSum`'s sampled range
  * partitioning, shared by sequentialPack / concurrencySweep /
  * paretoClasses — is self-contained in one [[retained]] block).
  *
  * CONCURRENCY: the registries are THREAD-scoped and the unpersists are
  * REFERENCE-COUNTED. A multi-tenant service runs many sessions' queries
  * concurrently against one SparkContext (the reference serves many
  * browsing sessions at once), which exposes two cross-talk paths a
  * serial harness never sees:
  *
  *  1. A global registry would make one session's end-of-query
  *     `release()` free ANOTHER session's in-flight tracked checkpoint —
  *     whose lineage is truncated, so the victim fails with lost blocks
  *     rather than recomputing. Hence thread scope: each gate builds and
  *     materializes its plan on its calling thread, so thread scope is
  *     session scope for every harness (Verify, Bench, the soak, tests).
  *
  *  2. Spark's CacheManager dedupes persists by CANONICALIZED PLAN
  *     across sessions of one SparkContext: two workers running the
  *     same (or a shingle-sharing) gate hold ONE shared cache entry,
  *     and either worker's unpersist — end-of-query or an operator's
  *     deliberate early release — yanks it while the other is mid-query
  *     (observed as a transiently EMPTY q45 under the interleaved soak,
  *     ~1-in-3 runs before this fix). Hence the per-plan reference
  *     counts: an unpersist is DEFERRED until the last same-plan holder
  *     releases — nothing is ever uncached while any tracked query
  *     still holds it. `ConcurrentGatesSpec` pins both properties with
  *     interleaved inventories under both session-sharing models.
  */
object CacheScope {

  private val tracked = new ThreadLocal[java.util.ArrayDeque[Dataset[_]]] {
    override def initialValue(): java.util.ArrayDeque[Dataset[_]] =
      new java.util.ArrayDeque[Dataset[_]]()
  }
  private val trackedCp = new ThreadLocal[java.util.ArrayDeque[Dataset[_]]] {
    override def initialValue(): java.util.ArrayDeque[Dataset[_]] =
      new java.util.ArrayDeque[Dataset[_]]()
  }

  /** Reference counts per canonicalized plan — the key CacheManager
    * itself dedupes persisted plans on, so count scope == entry scope.
    * ConcurrentHashMap gives per-key (bin-striped) atomicity: `compute`
    * holds only the key's bin lock, so releases of UNRELATED plans never
    * serialize behind each other (ADVICE r12 — the previous global
    * monitor made every retain/track/release wait out the slowest
    * release's `recacheByCondition` dependent-plan re-compilation). */
  private val refCounts = new java.util.concurrent.ConcurrentHashMap[
    org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Integer]()

  private def keyOf(ds: Dataset[_]) = ds.queryExecution.analyzed.canonicalized

  // --- OPT-IN shared scope (r13; hardened r14) -----------------------------
  // Under worker isolation (the Tables scope tag) cache entries are never
  // shared, so the per-key refcount sees every consumer. Under the OPT-IN
  // shared scope (same-tenant workers adopting one tag id) that invariant
  // BREAKS: CacheManager serves worker B's gate from worker A's entry via
  // plan LOOKUP, which the refcount never sees — so A's end-of-query
  // unpersist can still land under B's live query and re-open the proven
  // silent-empty chain (reproduced in loop 1 of the first shared-scope
  // soak attempt: a refcount-only shared mode is NOT safe).
  // The safe contract: while ANY member of a scope is mid-query, NO tracked
  // unpersist executes — count-zero releases are DEFERRED to a pending
  // queue. Drains happen only at provable quiescent points, guarded by a
  // per-scope FAIR read-write lock:
  //
  //   - every member holds the scope's READ lock for its whole membership
  //     EXCEPT inside its own end-of-query [[release]] — so "no reader"
  //     means "no member can be mid-query", including pure-LOOKUP
  //     consumers that never touch the refcount;
  //   - [[release]] momentarily drops the read lock and, when the pending
  //     queue has grown past [[drainWatermark]], try-locks WRITE (barging,
  //     never queued — a busy scope just skips) and drains: long-lived
  //     scopes stay bounded instead of accumulating every distinct plan's
  //     entry until the last exit (r13 verdict watch item 2);
  //   - the LAST member's exit removes the queue atomically with the
  //     membership decision (one `compute` — ADVICE r13: the previous
  //     merge-then-remove let a concurrent enter join a half-torn-down
  //     scope) and drains under a BLOCKING write lock, so even a
  //     fresh-epoch joiner racing the teardown cannot be mid-query while
  //     the old epoch's entries are unpersisted.
  //
  // Within a quiescent window cache residency still grows with distinct
  // frames used (block eviction under pressure degrades to recompute,
  // which is safe — only entry-level unpersist triggers the
  // dependent-recompile channel).
  private val scopeMembers = new java.util.concurrent.ConcurrentHashMap[Long, Integer]()
  private val scopePending = new java.util.concurrent.ConcurrentHashMap[
    Long, java.util.concurrent.ConcurrentLinkedQueue[Dataset[_]]]()
  // One FAIR lock per scope id, kept for the id's lifetime (a handful of
  // tenant ids; never removed — removal would race fresh joiners holding
  // the same object). Fairness matters on the teardown path: a waiting
  // writer blocks NEW readers, so the blocking drain always makes progress
  // even under a continuous stream of fresh-epoch joiners.
  private val scopeLocks = new java.util.concurrent.ConcurrentHashMap[
    Long, java.util.concurrent.locks.ReentrantReadWriteLock]()
  private def lockOf(id: Long) = scopeLocks.computeIfAbsent(id,
    _ => new java.util.concurrent.locks.ReentrantReadWriteLock(true))
  private val threadScope = new ThreadLocal[Option[Long]] {
    override def initialValue(): Option[Long] = None
  }

  private val warnedBadWatermark = new java.util.concurrent.atomic.AtomicBoolean(false)
  /** Pending-queue size that triggers a quiescent-point drain attempt at
    * the next [[release]]. Override (tests, tuning) via
    * `-Dgraft.cachescope.drainWatermark=N`. Re-read per call (specs flip
    * it at runtime), but a malformed value must not throw inside the
    * release/drain path mid-query (ADVICE r14): fall back to the default
    * with one loud log instead. */
  def drainWatermark: Int =
    sys.props.get("graft.cachescope.drainWatermark") match {
      case None => 32
      case Some(s) => s.toIntOption match {
        case Some(n) => n
        case None =>
          if (warnedBadWatermark.compareAndSet(false, true))
            System.err.println(s"[graft] WARNING: ignoring malformed " +
              s"-Dgraft.cachescope.drainWatermark='$s'; using default 32")
          32
      }
    }

  /** Deferred count-zero releases currently queued for scope `id` —
    * observability for specs and embedders sizing [[drainWatermark]]. */
  private[graft] def scopePendingSize(id: Long): Int = {
    val q = scopePending.get(id); if (q == null) 0 else q.size()
  }

  /** Live member count of scope `id` (0 after the last exit's teardown) —
    * spec observability for the atomic enter/exit transitions. */
  private[graft] def scopeMemberCount(id: Long): Int = {
    val v = scopeMembers.get(id); if (v == null) 0 else v.intValue
  }

  /** Join a shared release scope (called via `Tables.enterSharedScope`).
    * Not re-entrant: joining while already in a scope would orphan the
    * earlier membership (its count never reaches zero, so its deferred
    * unpersists never drain — ADVICE r13). Fail fast instead. */
  private[graft] def enterSharedScope(id: Long): Unit = {
    require(threadScope.get().isEmpty,
      s"already in shared scope ${threadScope.get().get}: exit it first")
    // Membership and teardown are decided inside the SAME per-key compute
    // (see exitSharedScope): either this runs before a concurrent last-exit
    // decision (count goes 1->2, no teardown) or after the entry's atomic
    // removal (fresh epoch, count 1, fresh pending queue below).
    scopeMembers.compute(id, (_, v) =>
      Integer.valueOf(if (v == null) 1 else v.intValue + 1))
    scopePending.computeIfAbsent(id,
      _ => new java.util.concurrent.ConcurrentLinkedQueue[Dataset[_]]())
    // Hold the read lock for the whole membership (released only inside
    // release()'s quiescent window and at exit): a member is presumed
    // mid-query at all times, so pure-lookup consumers are covered.
    lockOf(id).readLock().lock()
    threadScope.set(Some(id))
  }

  /** Leave the scope; the LAST member out drains the deferred unpersists
    * under a blocking write lock (no member is active and any fresh-epoch
    * joiner is held at its read lock until the drain completes, so nothing
    * can be mid-query on those entries; a tenant's next scope session
    * starts cold, which is the documented price of the sharing).
    *
    * LIVENESS (ADVICE r14): a fresh-epoch joiner that entered between the
    * count-zero decision and the write-lock acquisition holds the read
    * lock for its whole query, so the exiting thread can block here for
    * that query's duration (the lock is FAIR, so the waiting writer stalls
    * further joiners and the drain does make progress — bounded by ONE
    * in-flight query, not unbounded starvation). Callers on
    * latency-critical service threads should exit at worker teardown, not
    * between requests — documented at [[Tables.exitSharedScope]]. */
  private[graft] def exitSharedScope(): Unit = threadScope.get().foreach { id =>
    threadScope.set(None)
    lockOf(id).readLock().unlock()
    // Decrement, teardown decision, and queue removal in ONE atomic
    // compute: a concurrent enterSharedScope on the same id either lands
    // before (count stays positive — no teardown) or after the removal
    // (fresh epoch with a fresh queue). The ADVICE r13 race — increment
    // against a still-present zero count followed by a foreign queue
    // drain under a live member — is structurally gone.
    var drained: java.util.concurrent.ConcurrentLinkedQueue[Dataset[_]] = null
    scopeMembers.compute(id, (_, v) => {
      val left = (if (v == null) 0 else v.intValue) - 1
      if (left <= 0) { drained = scopePending.remove(id); null }
      else Integer.valueOf(left)
    })
    if (drained != null) {
      val wl = lockOf(id).writeLock()
      wl.lock() // blocking: waits out any fresh-epoch member mid-query
      try {
        var ds = drained.poll()
        while (ds != null) { ds.unpersist(false); ds = drained.poll() }
      } finally wl.unlock()
    }
  }

  /** Quiescent-point drain attempt (inside [[release]], read lock NOT
    * held): if the scope's pending queue exceeds the watermark, try to
    * take the write lock WITHOUT queueing — success proves no member is
    * mid-query anywhere, so the deferred count-zero entries are consumed
    * by nobody and unpersist safely. Failure means a sibling is mid-query:
    * skip, the next release retries. Entries enqueued concurrently (by
    * siblings inside their own release) are safe to drain too — their
    * enqueuer is also outside any query while we hold the write lock.
    *
    * MULTI-MEMBER LIMITATION (ADVICE r14): members hold the read lock
    * whenever not inside their own release(), so this barging tryLock
    * succeeds only when EVERY member is simultaneously between queries —
    * guaranteed for single-member scopes (each of their releases drains),
    * increasingly rare as member count and query length grow. For an
    * N-member scope the hard residency bound is therefore the LAST
    * member's exit drain, not the watermark; the watermark is a
    * best-effort bound in between. This is by design: any drain that
    * could run while a sibling is mid-query would re-open the lookup-
    * consumer silent-empty window the scope exists to close.
    * `CacheLifecycleSpec` pins both halves (mid-query sibling blocks the
    * watermark drain; teardown drains everything). */
  private def drainIfQuiescent(id: Long): Unit = {
    val q = scopePending.get(id)
    if (q != null && q.size() > drainWatermark) {
      val wl = lockOf(id).writeLock()
      if (wl.tryLock()) {
        try {
          var ds = q.poll()
          while (ds != null) { ds.unpersist(false); ds = q.poll() }
        } finally wl.unlock()
      }
    }
  }

  private def retain[T](ds: Dataset[T]): Dataset[T] = {
    refCounts.merge(keyOf(ds), 1, (a, b) => a + b); ds
  }

  /** Drop one reference; unpersist only when the LAST same-plan holder
    * (across all threads/sessions) lets go. The unpersist happens INSIDE
    * the per-key atomic `compute`: deciding "count hit zero" and executing
    * the unpersist as separate steps would let a concurrent retain slip
    * between them and have its shared cache entry yanked mid-query
    * (ADVICE r11). Only same-key (and same-bin) operations wait: the cost
    * of holding the bin lock includes CacheManager's
    * `recacheByCondition` dependent re-compilation, not just the async
    * block-removal mark — which is exactly why the lock is per-key, not
    * global (ADVICE r12). */
  private def releaseOne(ds: Dataset[_]): Unit =
    threadScope.get() match {
      case Some(id) =>
        // shared scope: NEVER unpersist while the scope lives — a sibling
        // may be consuming this entry through a lookup the refcount
        // cannot see. Defer to the scope's exit drain.
        refCounts.compute(keyOf(ds), (_, v) => {
          val left = (if (v == null) 0 else v.intValue) - 1
          if (left <= 0) {
            val q = scopePending.get(id)
            if (q != null) q.add(ds) else ds.unpersist(false) // scope already drained: free now
            null
          } else Integer.valueOf(left)
        })
        ()
      case None =>
        refCounts.compute(keyOf(ds), (_, v) => {
          val left = (if (v == null) 0 else v.intValue) - 1
          if (left <= 0) { ds.unpersist(false); null } else Integer.valueOf(left)
        })
        ()
    }

  /** Register an operator-internal persisted dataset for later release
    * (by the SAME thread — see CONCURRENCY above). */
  def track[T](ds: Dataset[T]): Dataset[T] = { retain(ds); tracked.get().add(ds); ds }

  /** `hold(ds)` takes a reference on a persisted `ds` for the block. */
  final class Lease private[CacheScope] () {
    private[CacheScope] val held = new java.util.ArrayDeque[Dataset[_]]()
    def apply[T](ds: Dataset[T]): Dataset[T] = { retain(ds); held.push(ds); ds }
  }

  /** Run `body` with a [[Lease]]; every persist it holds is released
    * when `body` exits, normally or by an exception — so nothing `body`
    * returns may read them unmaterialized. */
  def retained[R](body: Lease => R): R = {
    val lease = new Lease
    try body(lease)
    finally while (!lease.held.isEmpty) releaseOne(lease.held.pop())
  }

  /** Register a `localCheckpoint`'d dataset (an operator OUTPUT whose
    * blocks must survive until the caller has materialized it) for
    * release with the next same-thread [[release]]. `Dataset.unpersist`
    * cannot free these — see [[releaseLocalCheckpoint]]. */
  def trackCheckpoint[T](ds: Dataset[T]): Dataset[T] = { trackedCp.get().add(ds); ds }

  /** Free the RDD blocks behind a `localCheckpoint`'d dataset NOW.
    *
    * A local checkpoint persists at the RDD level; `Dataset.unpersist`
    * consults only the SQL CacheManager, which never saw it — so calling
    * `unpersist()` on a checkpointed dataset is a silent no-op and every
    * round of an iterative loop would leak one materialized copy until
    * driver GC + ContextCleaner get around to it. This walks the plan's
    * `LogicalRDD` leaves and unpersists the checkpointed RDDs directly.
    *
    * SAFETY: a local checkpoint TRUNCATES lineage — dropped blocks can
    * never be recomputed — so this must only run after every consumer of
    * the checkpoint has executed. (Contrast with [[track]]'s persists,
    * where early release degrades to recompute.) */
  def releaseLocalCheckpoint(ds: Dataset[_]): Unit =
    ds.queryExecution.analyzed.collectLeaves().foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false)
      case _ => ()
    }

  private val deferredCleanups = new ThreadLocal[java.util.ArrayDeque[() => Unit]] {
    override def initialValue(): java.util.ArrayDeque[() => Unit] =
      new java.util.ArrayDeque[() => Unit]()
  }

  /** Register a cleanup thunk to run at THIS THREAD's next [[release]]
    * (r16): the memory-sink temp views the streaming gates drain into
    * must outlive the gate function (the caller materializes the
    * returned plan) but die with the query — with the r16 pooled child
    * session they would otherwise accumulate result rows for the
    * session's lifetime. Same thread-scope contract as [[track]];
    * thunks must be idempotent and are run LAST (after unpersists), each
    * guarded so one failing cleanup cannot skip the rest. */
  def defer(f: () => Unit): Unit = { deferredCleanups.get().add(f); () }

  /** Release everything THIS THREAD tracked since its last release:
    * unpersist (non-blocking) the persisted intermediates and free the
    * blocks of tracked checkpoints. Other threads' registries are
    * untouched — their in-flight checkpoints stay alive.
    *
    * Inside a shared scope this is the member's QUIESCENT WINDOW: the
    * membership-long read lock is dropped for the duration (the thread is
    * by contract between queries), the thread's count-zero releases are
    * deferred to the scope's pending queue, and if that queue has grown
    * past [[drainWatermark]] a barging write-lock attempt drains it —
    * bounding a long-lived scope's cache residency without ever
    * unpersisting under a possibly-mid-query sibling. */
  def release(): Unit = {
    bumpGeneration()
    val scope = threadScope.get()
    scope.foreach(id => lockOf(id).readLock().unlock())
    try {
      val t = tracked.get()
      var ds = t.poll()
      while (ds != null) {
        releaseOne(ds)
        ds = t.poll()
      }
      val tc = trackedCp.get()
      var cp = tc.poll()
      while (cp != null) {
        releaseLocalCheckpoint(cp)
        cp = tc.poll()
      }
      val dc = deferredCleanups.get()
      var fn = dc.poll()
      while (fn != null) {
        try fn() catch { case scala.util.control.NonFatal(_) => () }
        fn = dc.poll()
      }
      scope.foreach(drainIfQuiescent)
    } finally scope.foreach(id => lockOf(id).readLock().lock())
  }

  /** Number of persists the CALLING thread has tracked and not yet
    * released. */
  def pendingCount: Int = tracked.get().size() + trackedCp.get().size()

  private val gen = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = java.lang.Long.valueOf(0L)
  }
  private[graft] def bumpGeneration(): Unit = gen.set(gen.get + 1L)

  /** The calling thread's release generation: bumped by every
    * [[release]], so operator-level memos of TRACKED frames (e.g.
    * [[graft.operators.Similarity]]'s shared IVF partition) can
    * invalidate themselves the moment the frames they hand out would be
    * unpersisted — a memo hit is only ever served within the query that
    * built it. */
  def generation: Long = gen.get
}
