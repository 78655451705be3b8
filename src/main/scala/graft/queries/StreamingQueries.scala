package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.functions.{Portable, TimeFunctions}
import graft.streaming.StreamOps

/** Streaming-parity queries in the correctness gate: the SAME logical
  * queries as their batch twins (q05/q09), executed as Structured
  * Streaming jobs (file source → windowed agg / stream-static join →
  * memory sink, Trigger.AvailableNow) and checked against the SAME DuckDB
  * oracles. This is the reference's browse-SQL vs continuous-SQL duality
  * (SURVEY.md §2C): one plan language, two execution modes, identical
  * results.
  */
object StreamingQueries {

  private val counter = new java.util.concurrent.atomic.AtomicLong(0)

  private val streamDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** FileStreamSource needs a DIRECTORY; the testdata tables are single
    * parquet files. Expose each as a one-file directory via symlink. */
  private def asStreamDir(tablePath: String): String =
    streamDirs.computeIfAbsent(tablePath, { p =>
      val dir = java.nio.file.Files.createTempDirectory("graft-stream")
      java.nio.file.Files.createSymbolicLink(
        dir.resolve(java.nio.file.Paths.get(p).getFileName), java.nio.file.Paths.get(p))
      dir.toString
    })

  /** events as a bounded file STREAM (FileStreamSource over the parquet
    * file), ts normalized exactly like the batch loader. */
  private def eventsStream(s: SparkSession, d: String): DataFrame = {
    val schema = Tables.events(s, d).schema
    val raw = s.readStream.schema(schema).parquet(asStreamDir(s"$d/events.parquet"))
    val tsNorm = schema("ts").dataType match {
      case LongType => timestamp_micros((col("ts") / 1000).cast("long"))
      case _        => col("ts").cast("timestamp")
    }
    raw.withColumn("ts", tsNorm)
  }

  /** Dedicated child session for the streaming gates: shares the
    * SparkContext, shared state, and extensions with the parent but owns
    * its OWN conf, so pinning shuffle partitions low here can never leak
    * into queries planned concurrently on the parent session (parallel
    * test suites, a future concurrent gate runner).
    *
    * Shuffle partitions are pinned low for the stream's lifetime: a
    * streaming query materializes ONE state store (+ per-batch commit) per
    * shuffle partition per stateful operator, so the session default (32)
    * spends more time committing near-empty stores than processing these
    * bounded gates. 8 keeps semantics identical — state partitioning is an
    * implementation detail — while cutting state-store overhead 4×. (A
    * real deployment sizes this to key cardinality, not gate latency.)
    *
    * POOLED since r16 (VERDICT r15 item 1, guide §1.2): the child session
    * object is reused across gates — per PARENT and per THREAD, so the
    * concurrent-soak isolation model is untouched (a thread never shares
    * its child with a sibling; threads on different parents never meet) —
    * because each fresh SessionState costs ~0.15 s of analyzer/catalog/
    * extension re-initialization on its first query (measured,
    * OPTIMIZATION_r16.md §1: fresh-child minimal drain 0.42-0.45 s vs
    * 0.37-0.38 reused). Per-gate STATE isolation is untouched: every
    * drain still starts its own query (fresh name, fresh temp checkpoint
    * + state dirs); only the session object and its conf are shared.
    * The map is weak-keyed so a test's discarded parent session can be
    * collected.
    *
    * `noDataMicroBatches=false` (r16, guide §1.2 remove work outright):
    * after the single AvailableNow data batch, Spark runs one extra
    * NO-DATA micro-batch whose only purpose is to let event-time
    * watermark advancement emit/evict state (timeouts, append-mode window
    * finalization). Every gate here either (a) carries no watermark at
    * all (the complete-mode monitors — the extra batch re-commits every
    * state store and re-emits the whole sink for nothing), or (b) uses a
    * watermark sized to the full replayed span purely as an
    * eviction bound on emit-on-arrival operators (interval join, dedup —
    * their OUTPUT rows emit in the data batch itself). In both shapes
    * the extra batch cannot change the drained table, only re-commit it
    * (measured −0.11 s on a minimal complete drain, more on wide-state
    * gates; oracle-verified across all 36 gates). */
  private val pooledChildren = new ThreadLocal[
      java.util.WeakHashMap[SparkSession, SparkSession]] {
    override def initialValue() = new java.util.WeakHashMap[SparkSession, SparkSession]()
  }
  private def streamSession(parent: SparkSession): SparkSession = {
    val m = pooledChildren.get()
    var ns = m.get(parent)
    if (ns == null) {
      ns = parent.newSession()
      ns.conf.set("spark.sql.shuffle.partitions", "8")
      ns.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      m.put(parent, ns)
    }
    ns
  }

  /** Drain a streaming DataFrame through a memory sink and return the
    * materialized result table (registered in the DataFrame's own —
    * child — session). The sink's temp view is registered for deferred
    * cleanup at the caller's end-of-query [[graft.CacheScope.release]]
    * (r16): with the pooled child session, drained result tables would
    * otherwise accumulate rows in the catalog for the JVM's lifetime. */
  private def drain(df: DataFrame, mode: String): DataFrame = {
    val name = s"graft_stream_q_${counter.incrementAndGet()}"
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val s = df.sparkSession
    graft.CacheScope.defer(() => { s.catalog.dropTempView(name); () })
    s.table(name)
  }

  // Streaming twin of q110: the training-shard export manifest as a
  // CONTINUOUS stateful aggregation — shard assignment is a stateless
  // content-hash projection, the per-shard counters (count / byte total /
  // order-independent content sum / key range) are all incrementally
  // mergeable aggregates, so the "current manifest" view of an unbounded
  // export stream is O(nShards) state. Complete mode; the bounded gate
  // stream drains to exactly the batch manifest (q110 oracle VERBATIM).
  def q115StreamShardManifest(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0)
    val schema = Tables.documents(s, d).schema
    val docs = s.readStream.schema(schema).parquet(asStreamDir(s"$d/documents.parquet"))
    drain(graft.operators.Relational.shardManifest(
      docs.select("doc_id", "n_chars"), "doc_id", "n_chars", nShards = 8), "complete")
  }

  // Streaming twin of q113: the held-out 20% scored as a STREAM under
  // the NB model frozen from the static 80% train split — yesterday's
  // classifier scoring today's crawl. The wide-pivoted model makes the
  // whole plan one stream-static join + ONE stateful aggregation + a
  // projection argmax (two stacked stateful aggs would be unsupported);
  // q113's batch oracle VERBATIM.
  def q116StreamNbClassify(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0)
    val cuts = Seq("train" -> 80, "rest" -> 100)
    val model = graft.operators.TextOps.nbTrain(
      graft.operators.Relational.hashSplit(Tables.documents(s, d), "text", cuts)
        .filter(col("split") === "train"), "text", "lang")
    val schema = Tables.documents(s, d).schema
    val docs = s.readStream.schema(schema).parquet(asStreamDir(s"$d/documents.parquet"))
    val held = graft.operators.Relational.hashSplit(docs, "text", cuts)
      .filter(col("split") =!= "train")
    drain(graft.operators.TextOps.nbScoreWith(held, "doc_id", "text", model), "complete")
  }

  // Streaming twin of q05: tumbling 10-minute windows (complete mode —
  // every window in the bounded stream, same rows as the batch query).
  def q27StreamTumbling(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0)
    drain(
      StreamOps.tumblingAgg(eventsStream(s, d), "ts", "10 minutes", "0 seconds",
        Seq(col("event_type")),
        Seq(count(lit(1)).as("n"), sum(Portable.cents(col("value"))).as("value_cents")))
        .select(TimeFunctions.canonical(col("w.start")).as("window_start"),
          col("event_type"), col("n"), col("value_cents")),
      "complete")
  }

  // Streaming twin of q09: stream-static broadcast enrichment + aggregation.
  def q28StreamEnrich(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0)
    drain(
      StreamOps.enrich(eventsStream(s, d), Tables.customer(s, d),
          col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), sum(Portable.cents(col("value"))).as("value_cents")),
      "complete")
  }

  // Streaming twin of q10: the compacted-topic view kept by
  // mapGroupsWithState (C9 streaming side). The bounded stream arrives as
  // ONE AvailableNow batch (single source file), so the update-mode output
  // is exactly one latest row per key — the same rows as the batch
  // latest-by-key aggregate.
  def q29StreamLatestByKey(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0)
    val e = eventsStream(s, d).withColumn("ts", date_trunc("second", col("ts")))
      // encode the (ts, event_id) compaction order as one orderable column:
      // epoch-seconds * 2^32 + event_id (epoch < 2^31 keeps this in Long range)
      .withColumn("_ord", unix_timestamp(col("ts")) * lit(4294967296L) + col("event_id"))
    val latest = graft.streaming.StreamOps.latestByKeyStream(e, "user_id", "_ord")
    drain(latest, "update")
      .select(col("user_id"), col("event_id"), col("event_type"),
        TimeFunctions.canonical(col("ts")).as("ts_s"),
        Portable.cents(col("value")).as("value_cents"))
  }

  // Streaming twin of q36: stream-stream interval join (C8) — two file
  // streams of the same events table joined within ±10 minutes per user
  // via StreamOps.intervalJoin (join state keyed by user AND time bucket,
  // expired by watermark). The join is the streaming stage (append mode —
  // the only mode a stream-stream join supports); the small per-type
  // rollup runs on the drained match table, keeping the gate comparable
  // to q36's oracle without chaining a second stateful operator.
  def q39StreamIntervalJoin(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0)
    val a = eventsStream(s, d).select(col("user_id"), col("event_id").as("id_a"),
      col("ts").as("ts_a"), col("event_type").as("type_a"))
    val b = eventsStream(s, d).select(col("user_id").as("uid_b"), col("event_id").as("id_b"),
      col("ts").as("ts_b"))
    // Watermark = 30 days: sized to the replayed table's full span, so the
    // gate's answer is batch-exact even if the file source ever splits the
    // replay into multiple micro-batches (a shorter watermark would drop
    // cross-batch late matches — correct streaming semantics, but then the
    // oracle comparison would measure batch alignment, not the join).
    // State-EXPIRY behavior is exercised in StreamingSpec, not here.
    val joined = StreamOps.intervalJoin(a, "ts_a", "30 days", b, "ts_b", "30 days",
      col("user_id") === col("uid_b") && col("id_a") =!= col("id_b"), "10 minutes")
    drain(joined.select("type_a", "id_a", "id_b"), "append")
      .groupBy("type_a")
      .agg(count(lit(1)).as("n_matches"),
        countDistinct(col("id_a")).as("n_events_matched"),
        sum(col("id_b")).cast("long").as("sum_matched_ids"))
  }

  // Streaming exact dedup in the gate: the events stream unioned with a
  // second read of itself — every record arrives twice — then
  // StreamOps.dedupStream drops duplicates on (event_id, ts) within the
  // watermark. The per-type rollup must equal the plain (un-doubled)
  // table's: one surviving copy per event, none lost.
  def q49StreamDedup(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0)
    val doubled = eventsStream(s, d).unionByName(eventsStream(s, d))
    // Watermark sized to the table span (see q39): with two independent
    // file reads, a copy landing in a later micro-batch than its twin
    // must still be recognized as a duplicate, not dropped as late.
    val deduped = StreamOps.dedupStream(doubled, "ts", "30 days", Seq("event_id"))
    drain(deduped.select("event_type", "event_id", "value"), "append")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(Portable.cents(col("value"))).as("value_cents"))
  }

  // Streaming twin of q64: curation (PII redaction) as a continuous
  // stateless projection over a document stream — the curation family
  // runs on streams with the SAME oracle-checked results as batch.
  def q78StreamRedact(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0)
    val schema = Tables.documents(s, d).schema
    val docs = s.readStream.schema(schema).parquet(asStreamDir(s"$d/documents.parquet"))
    drain(graft.operators.TextOps.redactPii(
      TextQueries.piiAugment(docs), "doc_id", "text"), "append")
  }

  // Streaming twin of q122: sentence segmentation of a DOCUMENT STREAM —
  // a pure stateless generate (the extraction array posexplodes per
  // micro-batch row, no state store at all), the extraction family's
  // stream==batch proof. Same oracle as q122 VERBATIM (q78 convention).
  def q125StreamSentenceSplit(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0)
    val schema = Tables.documents(s, d).schema
    val docs = s.readStream.schema(schema).parquet(asStreamDir(s"$d/documents.parquet"))
    drain(graft.operators.TextOps.splitSentences(
      TextQueries.sentenceAugment(docs), "doc_id", "text"), "append")
  }

  // Streaming twin of q69: eval-set decontamination over a DOCUMENT
  // STREAM — the corpus arrives as a stream, the (model-sized) eval set
  // stays a static broadcast posting list, exactly the batch operator's
  // 100-TB shape. The shingle explode + broadcast stream-static join are
  // stateless; only the (doc, eval) shared-count aggregation is stateful
  // (complete mode over the bounded stream). Same oracle as q69 VERBATIM
  // (the q78 convention: stream and browse must agree exactly).
  // Streaming twin of q92: perplexity scoring of a DOCUMENT STREAM under
  // a FROZEN batch-trained bigram model — the production shape (train the
  // LM on yesterday's corpus, score today's stream). Score side is all
  // stateless projections + stream-static left joins against the model
  // tables; only the per-doc NLL aggregation is stateful (complete mode
  // over the bounded stream). Stream == batch exactly, so q92's oracle
  // applies VERBATIM (the q78 convention).
  // Streaming twin of q131: fill-in-the-middle transformation of a
  // DOCUMENT STREAM — content-addressed cuts are pure per-row
  // projections, so the whole transform is stateless and rides each
  // micro-batch with no state store. Same oracle as q131 VERBATIM
  // (the q78 convention: stream and batch must agree exactly).
  // Streaming twin of q172: the Gopher document-quality rules over a
  // DOCUMENT STREAM — the whole rule set is one stateless per-row
  // projection (arrays + integer cross-multiplications, no state store),
  // so a crawl frontier can be quality-gated in flight at scan speed.
  // Same oracle as q172 VERBATIM (the q78 convention).
  def q176StreamGopher(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0)
    val schema = Tables.documents(s, d).schema
    val docs = s.readStream.schema(schema).parquet(asStreamDir(s"$d/documents.parquet"))
    drain(graft.operators.WebCuration.gopherRules(
      WebQueries.webAugment(docs), "doc_id", "text",
      minWords = 40, maxBulletPct = 40), "append")
  }

  // Streaming twin of q178: DPO preference pairs over a STREAMED
  // candidate feed — sentence explode and scoring are stateless
  // projections; the per-prompt extremes are ONE incrementally-merged
  // max_by/min_by aggregation (complete mode, O(prompts) state, two
  // struct registers per prompt); the margin filter shapes the drained
  // state. Same oracle as q178 VERBATIM (the q78 convention).
  def q180StreamPreferencePairs(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0)
    val schema = Tables.documents(s, d).schema
    val docs = s.readStream.schema(schema).parquet(asStreamDir(s"$d/documents.parquet"))
    val cands = graft.operators.TextOps.splitSentences(
        TextQueries.sentenceAugment(docs), "doc_id", "text")
      .select(col("doc_id"), col("sent_idx"), length(col("sentence")).as("score"))
    drain(graft.operators.Chat.preferencePairs(
      cands, "doc_id", "sent_idx", "score", minMargin = 1L), "complete")
  }

  // Streaming cleaning-drift scorer: the C4 line cleaner runs over a
  // DOCUMENT STREAM with the original text riding along (c4Clean
  // keepCols), and the per-row token-F1 scalar scores clean-vs-original
  // in the same projection — retention of a cleaning stage measured in
  // flight, zero state, scan speed. Own oracle (the scalar replayed
  // relationally: unnest both sides, clipped unigram overlap).
  def q186StreamRetentionF1(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0)
    val schema = Tables.documents(s, d).schema
    val docs = s.readStream.schema(schema).parquet(asStreamDir(s"$d/documents.parquet"))
    val cleaned = graft.operators.WebCuration.c4Clean(
      WebQueries.webAugment(docs), "doc_id", "text", keepCols = Seq("text"))
    drain(cleaned.select(col("doc_id"), col("n_lines"), col("n_kept"), col("doc_kept"),
      graft.functions.TextFunctions.tokenF1Micro(col("clean_text"), col("text"))
        .as("retention_f1_micro")), "append")
  }

  // Streaming twin of q184: the DUEL LOG is the streaming state — each
  // streamed line item joins the static table on its order key
  // (stream-static, append) to emit quantity duels, and the canonical
  // (winner, loser) pair COUNTS accumulate as one incrementally-merged
  // aggregation (complete mode, O(distinct pairs) state — the same
  // bound the batch operator's loop frame lives on). Ratings compute on
  // the drained pair-count state through bradleyTerry's weighted form —
  // exactly equivalent to the exploded log, so q184's oracle applies
  // VERBATIM (the q78 convention).
  def q188StreamBradleyTerry(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0)
    val schema = Tables.lineitem(s, d).schema
    val li = s.readStream.schema(schema).parquet(asStreamDir(s"$d/lineitem.parquet"))
    val stat = Tables.lineitem(s, d)
    val duels = li
      .select(col("l_orderkey").as("_o"), col("l_partkey").as("_pw"),
        col("l_quantity").as("_qw"))
      .join(stat.select(col("l_orderkey").as("_o"), col("l_partkey").as("_pl"),
        col("l_quantity").as("_ql")), Seq("_o"))
      .filter(col("_qw") > col("_ql") && col("_pw") =!= col("_pl"))
    val log = drain(duels.groupBy(col("_pw").as("w"), col("_pl").as("l"))
      .agg(count(lit(1)).as("n")), "complete")
    graft.operators.Rank.bradleyTerry(log, "w", "l", rounds = 6, weightCol = "n")
  }

  // PRODUCTION twin of q188 — the r11 verdict's state-bound knob,
  // EXECUTED. Same duel stream, but the pair-count state never lives in
  // a complete-mode state store: each micro-batch's duels collapse to
  // per-batch PARTIAL (w, l, n) counts inside foreachBatch and land in a
  // batch-keyed spill store (idempotent overwrite per batch id =
  // exactly-once under micro-batch retries); the ratings merge the
  // partials with ONE keyed sum at drain time. Streaming memory is
  // O(per-trigger distinct pairs) — bounded by trigger sizing
  // (maxFilesPerTrigger / maxOffsetsPerTrigger), NOT by the entity
  // universe — the state store vanishes entirely (StreamingSpec pins
  // stateOperators == 0) and nothing is re-emitted per trigger. At 100 TB
  // the spill store is object storage and the merge is the same keyed
  // sum; q188 stays as the complete-mode audit twin. Partial-count sum
  // is order-free integer arithmetic, so q184's oracle applies VERBATIM
  // (the q78 convention).
  def q222StreamBtBounded(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0)
    val schema = Tables.lineitem(s, d).schema
    val li = s.readStream.schema(schema).parquet(asStreamDir(s"$d/lineitem.parquet"))
    val stat = Tables.lineitem(s, d)
    val duels = li
      .select(col("l_orderkey").as("_o"), col("l_partkey").as("_pw"),
        col("l_quantity").as("_qw"))
      .join(stat.select(col("l_orderkey").as("_o"), col("l_partkey").as("_pl"),
        col("l_quantity").as("_ql")), Seq("_o"))
      .filter(col("_qw") > col("_ql") && col("_pw") =!= col("_pl"))
      .select(col("_pw").as("w"), col("_pl").as("l"))
    val outPath = java.nio.file.Files.createTempDirectory("graft-bt-partials")
    val ckptPath = java.nio.file.Files.createTempDirectory("graft-bt-ckpt")
    val outDir = outPath.toString
    val writeBatch: (DataFrame, Long) => Unit = (batch, batchId) =>
      batch.groupBy("w", "l").agg(count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    val q = duels.writeStream
      .foreachBatch(writeBatch)
      .option("checkpointLocation", ckptPath.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // partition discovery keys the partials by batch; the merge is one
    // map-side-combined keyed sum — the incremental form of q188's state.
    // An all-empty stream leaves outDir with no batch dirs (parquet schema
    // inference would throw); the batch operator's answer there is the
    // empty duel log → empty ratings, so build that frame directly
    // (ADVICE r12). The merged log is localCheckpoint'd (eager, spillable)
    // so both temp dirs can be deleted NOW instead of leaking one pair of
    // spill dirs per invocation across bench repeats (ADVICE r12); the
    // checkpoint blocks are freed by the caller's end-of-query release.
    val hasBatches = {
      val ls = java.nio.file.Files.list(outPath)
      try ls.anyMatch(p => p.getFileName.toString.startsWith("batch="))
      finally ls.close()
    }
    val log =
      if (!hasBatches)
        s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            duels.schema("w"), duels.schema("l"),
            org.apache.spark.sql.types.StructField("n", LongType, nullable = false))))
      else graft.CacheScope.trackCheckpoint(
        s.read.parquet(outDir).drop("batch")
          .groupBy("w", "l").agg(sum(col("n")).as("n")).localCheckpoint())
    graft.catalog.GraftCatalog.deleteRecursively(outPath)
    graft.catalog.GraftCatalog.deleteRecursively(ckptPath)
    graft.operators.Rank.bradleyTerry(log, "w", "l", rounds = 6, weightCol = "n")
  }

  // Streaming twin of q200: the (lang, source) contingency counts are
  // the complete-mode state — O(grid cells), the model-sized confusion
  // shape — and the drained counts flow through the SAME weighted-form
  // operator ([[graft.operators.Metrics.chiSquareFromCounts]]). q200's
  // batch oracle verbatim.
  def q201StreamChiSquare(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0)
    val schema = Tables.documents(s, d).schema
    val docs = s.readStream.schema(schema).parquet(asStreamDir(s"$d/documents.parquet"))
    val counts = drain(
      docs.filter(col("lang").isNotNull && col("source").isNotNull)
        .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n")),
      "complete")
    graft.operators.Metrics.chiSquareFromCounts(counts, "lang", "source", "n")
  }

  // Streaming twin of q203: the per-(event_type, cohort) counts are the
  // complete-mode state — O(value universe), the drift-monitor shape
  // (this is exactly how a production drift monitor runs: counts
  // accumulate on the stream, the divergence evaluates on the drained
  // state) — feeding the SAME weighted-form operator. q203's batch
  // oracle verbatim.
  def q206StreamJsdDrift(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0)
    val ev = eventsStream(s, d)
    val counts = drain(
      ev.filter(col("event_type").isNotNull)
        .select(col("event_type").as("v"),
          when(pmod(col("user_id"), lit(2)) === 0, 1L).otherwise(0L).as("a"))
        .groupBy(col("v"))
        .agg(sum(col("a")).as("ca"), sum(lit(1L) - col("a")).as("cb")),
      "complete")
    graft.operators.Metrics.jsdFromCounts(counts, "v", "ca", "cb")
  }

  // Streaming twin of q210: the (group, label, pred) confusion cells are
  // the complete-mode state — O(groups · 4), the production bias-monitor
  // shape (the filter's verdicts accumulate on the stream, the fairness
  // report evaluates on the drained state) — feeding the SAME
  // weighted-form operator. q210's batch oracle verbatim.
  def q214StreamFairness(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0)
    val schema = Tables.documents(s, d).schema
    val docs = s.readStream.schema(schema).parquet(asStreamDir(s"$d/documents.parquet"))
    val counts = drain(
      docs.select(col("source"),
          (col("lang") === "en").as("is_en"),
          (col("n_chars") > 300).as("pred_en"))
        .groupBy(col("source"), col("is_en"), col("pred_en"))
        .agg(count(lit(1)).as("n")),
      "complete")
    graft.operators.Metrics.fairnessFromCounts(
      counts, "source", "is_en", "pred_en", "n")
  }

  // Streaming twin of q205: per-(band, cohort) counts as complete-mode
  // state — O(bands), the PSI monitor shape — drained into the SAME
  // weighted-form operator. q205's batch oracle verbatim.
  def q215StreamPsi(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0)
    val ev = eventsStream(s, d)
    val counts = drain(
      ev.filter(col("value").isNotNull)
        .select(pmod(Portable.cents(col("value")), lit(8)).as("v"),
          when(pmod(col("user_id"), lit(2)) === 0, 1L).otherwise(0L).as("a"))
        .groupBy(col("v"))
        .agg(sum(col("a")).as("ca"), sum(lit(1L) - col("a")).as("cb")),
      "complete")
    graft.operators.Metrics.psiFromCounts(counts, "v", "ca", "cb")
  }

  // Streaming twin of q195: the two rule-raters' (a, b) confusion cells
  // as complete-mode state — O(|labels|²), the agreement-monitor shape
  // (two classifiers judged continuously, the kappa evaluates on the
  // drained state) — feeding the SAME weighted-form operator
  // ([[graft.operators.Metrics.cohenKappaFromCounts]]). q195's batch
  // oracle verbatim.
  def q218StreamCohenKappa(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0)
    val schema = Tables.documents(s, d).schema
    val docs = s.readStream.schema(schema).parquet(asStreamDir(s"$d/documents.parquet"))
    val counts = drain(
      docs.select(
          when(col("n_chars") > 300, "long").otherwise("short").as("a"),
          when(graft.functions.TextFunctions.tokenCount(col("text")) > 50,
            "long").otherwise("short").as("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n")),
      "complete")
    graft.operators.Metrics.cohenKappaFromCounts(counts, "a", "b", "n")
  }

  // Streaming twin of q217: the (item, category) rating cells as
  // complete-mode state — O(items·|cats|), the ANNOTATION-JOB monitor
  // shape (state is the size of the labeling batch, bounded by the job
  // itself, not any corpus; ratings accumulate while labelers work and
  // the agreement evaluates on the drained cells) — feeding the SAME
  // weighted-form operator. q217's batch oracle verbatim.
  //
  // BOUND (r10 advice): unlike the label-grain monitor twins, this
  // state is keyed per ITEM, so it is only safe because the keyspace is
  // an annotation job (10³-10⁶ items), never a corpus. Pointing this
  // shape at an unbounded item stream would grow both the state store
  // and the per-trigger complete-mode re-emission without limit — for
  // that, window the job id into the key (one drained state per
  // labeling batch) or switch to update mode over a bounded item set.
  def q219StreamFleissKappa(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0)
    val schema = Tables.documents(s, d).schema
    val docs = s.readStream.schema(schema).parquet(asStreamDir(s"$d/documents.parquet"))
    val ratings = docs.select(col("doc_id"),
      explode(array(
        when(col("n_chars") > 300, "long").otherwise("short"),
        when(graft.functions.TextFunctions.tokenCount(col("text")) > 50,
          "long").otherwise("short"),
        when(length(trim(col("text"))) > 290, "long").otherwise("short")))
        .as("category"))
    val cells = drain(
      ratings.groupBy(col("doc_id"), col("category"))
        .agg(count(lit(1)).as("n")),
      "complete")
    graft.operators.Metrics.fleissKappaFromCounts(
      cells, "doc_id", "category", "n")
  }

  def q136StreamFim(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0)
    val schema = Tables.documents(s, d).schema
    val docs = s.readStream.schema(schema).parquet(asStreamDir(s"$d/documents.parquet"))
    drain(TextQueries.fimExport(graft.operators.Relational.fimTransform(
      docs.select("doc_id", "text"), "doc_id", "text", minChars = 64)), "append")
  }

  // Streaming twin of q140: the CDC changelog arrives as a STREAM. The
  // stateful part is exactly the net-change view — one latest-wins
  // max_by aggregation per key (complete mode; O(keys touched) state,
  // the compacted-changelog shape) — and the merge against the static
  // snapshot is the read-side view over the drained state, running the
  // SAME applyChanges operator (idempotent on an already-net changelog).
  // q140's batch oracle VERBATIM (the q78 convention).
  def q141StreamApplyChanges(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0)
    val schema = Tables.documents(s, d).schema
    def docs = s.readStream.schema(schema)
      .parquet(asStreamDir(s"$d/documents.parquet")).select("doc_id", "text")
    val rev2 = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      .withColumn("text", concat(col("text"), lit(" (rev 2)")))
      .withColumn("op", lit("upsert")).withColumn("seq", lit(1L))
    val dels = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
      .withColumn("op", lit("delete")).withColumn("seq", lit(2L))
    val ins = docs.filter(pmod(col("doc_id"), lit(11)) === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      .withColumn("op", lit("upsert")).withColumn("seq", lit(1L))
    val rev3 = docs.filter(pmod(col("doc_id"), lit(35)) === 0)
      .withColumn("text", concat(col("text"), lit(" (rev 3)")))
      .withColumn("op", lit("upsert")).withColumn("seq", lit(3L))
    val net = drain(graft.operators.Relational.latestByKey(
      rev2.unionByName(dels).unionByName(ins).unionByName(rev3),
      Seq("doc_id"), Seq(col("seq"))), "complete")
    graft.operators.Relational.applyChanges(
        Tables.documents(s, d).select("doc_id", "text"), net,
        Seq("doc_id"), "op", "seq")
      .select(col("doc_id"), md5(col("text")).as("text_md5"))
  }

  // Streaming twin of q155 (rules only): every expectation counter is a
  // conditional sum — incrementally mergeable — so the data contract
  // runs as ONE continuous 1-row aggregation (complete mode), and the
  // per-rule report shapes the drained state. The uniqueness row stays
  // batch-only by design: distinct aggregation is unsupported on
  // streams, which is exactly why it is a separate row in the batch
  // report. Oracle = q155's rule rows VERBATIM (minus the unique row).
  def q156StreamExpectations(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0)
    val schema = Tables.documents(s, d).schema
    val docs = s.readStream.schema(schema).parquet(asStreamDir(s"$d/documents.parquet"))
    val rules = Seq(
      "text_nonnull" -> col("text").isNotNull,
      "n_chars_consistent" -> (length(col("text")) === col("n_chars")),
      "lang_allowlisted" -> col("lang").isin("en", "de", "fr", "zh"),
      "id_nonnegative" -> (col("doc_id") >= 0))
    val aggs = graft.operators.Relational.ruleAggExprs(rules)
    val one = drain(docs.agg(aggs.head, aggs.tail: _*), "complete")
    graft.operators.Relational.shapeRuleReport(one, rules)
  }

  // Streaming twin of q153: the per-key count table is the stateful
  // part (one incrementally-merged keyed count, complete mode); the
  // top-k and digit-count histogram shape the drained counts — the
  // continuously-maintained skew monitor a pipeline consults before
  // each shuffle-strategy decision. q153's batch oracle VERBATIM.
  def q157StreamKeySkew(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0)
    val ev = eventsStream(s, d)
    val counts = drain(ev.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("_n"))
      .select(concat_ws("|", col("user_id").cast("string"),
        col("event_type").cast("string")).as("_k"), col("_n")), "complete")
    graft.operators.Relational.skewProfileFromCounts(counts, topK = 10)
  }

  // Streaming twin of q161: the per-timestamp delta counts are the
  // stateful part (sessions arrive as a bounded stream of intervals —
  // here recomputed per batch from the event stream via the stateless
  // q142 projection is impossible (sessionization needs the window), so
  // the intervals are the STATIC side and the sweep's DELTA AGG runs
  // continuously over them restreamed; the prefix-sum shapes the
  // drained per-timestamp deltas. q161's batch oracle VERBATIM.
  def q162StreamConcurrency(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0)
    // materialize the session intervals once (batch — the q142 shape),
    // restream them as the interval feed a capacity monitor would consume
    val sess = graft.operators.Events.sessionize(
        RelationalQueries.events(s, d), "user_id", "ts", "30 minutes",
        Seq(col("event_id")))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(min(col("ts")).as("s_start"),
        (max(col("ts")) + expr("INTERVAL 30 minutes")).as("s_end"))
    // memoized per data dir (the asStreamDir discipline): repeated gate /
    // bench invocations must not leave a fresh materialized copy each run
    val dir = streamDirs.computeIfAbsent(s"q162:$d", { _ =>
      val p = java.nio.file.Files.createTempDirectory("graft-q162").toString
      sess.write.mode("overwrite").parquet(p)
      p
    })
    val iv = s.readStream.schema(sess.schema).parquet(dir)
    val deltas = drain(
      iv.select(col("s_start").as("_t"), lit(1L).as("_d"))
        .unionByName(iv.select(col("s_end").as("_t"), lit(-1L).as("_d")))
        .groupBy("_t").agg(sum(col("_d")).as("_d")), "complete")
    // the prefix sum shapes the drained per-timestamp delta state via
    // the operator's own shared half
    graft.operators.Events.concurrencyFromDeltas(deltas)
      .select(TimeFunctions.canonical(col("ts")).as("ts"), col("n_active"))
  }

  // Streaming twin of q163: the per-(key, period) totals are ONE
  // incrementally-merged keyed aggregation (complete mode — the live
  // WoW dashboard state); the adjacent-period self-join and exact ppm
  // growth shape the drained totals through the operator's own
  // period-grain half. q163's batch oracle VERBATIM.
  def q165StreamPeriodOverPeriod(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0)
    val ev = eventsStream(s, d)
    val period = floor(datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
      .cast("long") / 7).cast("long")
    val drained = drain(ev
      .select(col("event_type").as("_k"), period.as("period"),
        Portable.cents(col("value")).as("_v"))
      .groupBy(col("_k"), col("period"))
      .agg(sum(col("_v")).as("total")), "complete")
    // re-root the drained memory-sink view: the adjacent-period SELF-join
    // would otherwise see the same attribute ids on both sides (the
    // analyzer does not dedup MemoryPlan-backed views) and fail analysis
    val totals = s.createDataFrame(drained.collectAsList(), drained.schema)
    graft.operators.Events.periodOverPeriodFromTotals(totals, "event_type")
  }

  // Streaming twin of q167: the (group, item) co-presence table is ONE
  // incrementally-merged distinct aggregation (complete mode — a live
  // market-basket dashboard's state); confidence/lift shape the drained
  // state through the operator's own rule half. q167's batch oracle
  // VERBATIM.
  def q170StreamAssociationRules(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0)
    val sessed = graft.operators.Events.sessionize(
        RelationalQueries.events(s, d), "user_id", "ts", "30 minutes",
        Seq(col("event_id")))
      .select(concat_ws("#", col("user_id").cast("string"),
        col("session_seq").cast("string")).as("_g"),
        col("event_type").as("_i"))
    val dir = streamDirs.computeIfAbsent(s"q170:$d", { _ =>
      val p = java.nio.file.Files.createTempDirectory("graft-q170").toString
      sessed.write.mode("overwrite").parquet(p)
      p
    })
    val gi = s.readStream.schema(sessed.schema).parquet(dir)
    val drained = drain(gi.groupBy(col("_g"), col("_i"))
      .agg(count(lit(1)).as("_n")), "complete")
    // re-root the drained memory-sink view WITHOUT a driver collect (it
    // is row-scale, unlike q165's period-grain totals): the checkpoint
    // gives the rule half's self-join fresh attribute ids
    val rerooted = graft.CacheScope.trackCheckpoint(
      drained.select(col("_g"), col("_i")).localCheckpoint())
    graft.operators.Events.rulesFromGroupItems(rerooted, minGroups = 3)
  }

  def q98StreamLmScore(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0)
    val schema = Tables.documents(s, d).schema
    val docs = s.readStream.schema(schema).parquet(asStreamDir(s"$d/documents.parquet"))
    drain(graft.operators.TextOps.ngramLmScoreWith(
      docs, Tables.documents(s, d), "doc_id", "text",
      alpha = 0.1, keepMaxMicroPerToken = 3400000L), "complete")
  }

  def q82StreamDecontaminate(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0)
    val schema = Tables.documents(s, d).schema
    val docs = s.readStream.schema(schema).parquet(asStreamDir(s"$d/documents.parquet"))
    val evalSet = Tables.documents(s, d).filter(col("doc_id") % 50 === 0)
    drain(graft.operators.Dedup.crossContamination(
      docs.filter(col("doc_id") % 50 =!= 0), "doc_id", "text",
      evalSet, "doc_id", "text",
      n = 3, minShared = 3), "complete")
  }

  // Streaming twin of q106: today's increment arrives as a document
  // STREAM; history stays the static hashed-shingle store. Stateless
  // posting explode → stream-static equi-join on the shingle hash →
  // stateful (inc, hist) count agg (complete mode); q106's batch oracle
  // VERBATIM — the daily-crawl near-dup sweep as a continuous job.
  def q107StreamIncrementalNearDup(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0)
    val schema = Tables.documents(s, d).schema
    val docs = s.readStream.schema(schema).parquet(asStreamDir(s"$d/documents.parquet"))
    val store = Tables.documents(s, d).filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id"), graft.catalyst.ShingleExprs.shingleHashes(
        graft.functions.TextFunctions.tokens(col("text")), 3).as("shingles"))
    drain(graft.operators.Dedup.incrementalNearDup(
      docs.filter(col("doc_id") % 10 === 0), "doc_id", "text",
      store, "doc_id", "shingles", n = 3, minJaccard = 0.4), "complete")
  }

  // PRODUCTION twin of q107 — the q222 discipline applied to the
  // incremental near-dup monitor (r12 verdict item 4). q107 keeps the
  // (inc, hist) intersection counts as complete-mode state: O(candidate
  // pairs) heap, re-emitted every trigger, the q188-family GC channel
  // (sf1 34.9→57.8 s). Here the streaming plan is STATELESS end-to-end:
  // shingle explode + the stream-static equi-join on the shingle hash run
  // per micro-batch, each batch's (inc, hist, na, nb) partial
  // intersection counts collapse map-side and land in a batch-keyed
  // spill store (overwrite per batch id = exactly-once under retries),
  // and the Jaccard evaluates once at drain over ONE keyed sum of the
  // partials. Intersection counts are additive over shingle-match rows,
  // so the merge is exact and q106's batch oracle applies VERBATIM (the
  // q78 convention). Streaming memory is bounded by trigger sizing, not
  // by the pair universe; at 100 TB the spill store is object storage
  // and the drain is the same keyed sum. q107 stays as the
  // complete-mode audit twin.
  def q224StreamNearDupBounded(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0)
    val schema = Tables.documents(s, d).schema
    val docs = s.readStream.schema(schema).parquet(asStreamDir(s"$d/documents.parquet"))
    val store = Tables.documents(s, d).filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id").as("_hid"), graft.catalyst.ShingleExprs.shingleHashes(
        graft.functions.TextFunctions.tokens(col("text")), 3).as("_sh"))
      .select(col("_hid"), size(col("_sh")).as("_nb"), explode(col("_sh")).as("_g"))
    val inc = docs.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("_iid"), graft.catalyst.ShingleExprs.shingleHashes(
        graft.functions.TextFunctions.tokens(col("text")), 3).as("_s"))
      .select(col("_iid"), size(col("_s")).as("_na"), explode(col("_s")).as("_g"))
    val matches = inc.join(store, Seq("_g")) // stream-static: stateless
      .select("_iid", "_hid", "_na", "_nb")
    val outPath = java.nio.file.Files.createTempDirectory("graft-nd-partials")
    val ckptPath = java.nio.file.Files.createTempDirectory("graft-nd-ckpt")
    val outDir = outPath.toString
    val writeBatch: (DataFrame, Long) => Unit = (batch, batchId) =>
      batch.groupBy("_iid", "_hid", "_na", "_nb").agg(count(lit(1)).as("_inter"))
        .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    val q = matches.writeStream
      .foreachBatch(writeBatch)
      .option("checkpointLocation", ckptPath.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val hasBatches = {
      val ls = java.nio.file.Files.list(outPath)
      try ls.anyMatch(p => p.getFileName.toString.startsWith("batch="))
      finally ls.close()
    }
    val merged =
      if (!hasBatches)
        s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            matches.schema("_iid"), matches.schema("_hid"),
            matches.schema("_na"), matches.schema("_nb"),
            org.apache.spark.sql.types.StructField("_inter", LongType, nullable = false))))
      else graft.CacheScope.trackCheckpoint(
        s.read.parquet(outDir).drop("batch")
          .groupBy("_iid", "_hid", "_na", "_nb").agg(sum(col("_inter")).as("_inter"))
          .localCheckpoint())
    graft.catalog.GraftCatalog.deleteRecursively(outPath)
    graft.catalog.GraftCatalog.deleteRecursively(ckptPath)
    // the SAME Jaccard arithmetic as Dedup.incrementalNearDup: one double
    // division of exact integers, thresholded on the IEEE value
    merged
      .withColumn("jaccard", col("_inter").cast("double") /
        (col("_na") + col("_nb") - col("_inter")).cast("double"))
      .filter(col("jaccard") >= 0.4)
      .select(col("_iid").as("inc_id"), col("_hid").as("hist_id"), col("jaccard"))
  }

  // Streaming twin of q225 — the dedup-family convention (q106 → q107/
  // q224) applied to the exact-substring grain (r13 verdict item 6):
  // today's crawl increment (doc_id % 10 == 0) arrives as a document
  // STREAM; history exists ONLY as its gram-hash COUNT store (the q106
  // convention: text never rescanned). Store key width (ADVICE r14): the
  // batch arm's candidates-then-verify kills 64-bit collisions against
  // raw grams, but here the history TEXT is gone by contract, so a raw
  // verify against history is impossible — instead the store key is
  // 128-bit (two independent xxhash64 lanes, 16 bytes + count per
  // distinct gram). Residual false-coverage probability is the 128-bit
  // birthday bound: at the 100-TB design point (~10^14 distinct grams)
  // P[any collision] ~ (10^14)^2 / 2^129 ~ 1.5e-11 — vs ~certainty at
  // 64 bits (~10^28 / 2^65 >> 1), which is why 64 was inconsistent with
  // the family contract. A position in an increment doc is covered iff
  // its 40-gram occurs >= 2 times across history + the WHOLE increment —
  // q225's full-corpus semantics restricted to increment docs, so q225's
  // batch oracle applies with an output filter.
  //
  // Bounded by the q224 discipline — the streaming plan is STATELESS
  // end-to-end: per micro-batch the stride-1 gram explode collapses
  // map-side to (hash, n) partials and lands BOTH the partials and the
  // batch's (id, pos, hash) position rows in batch-keyed spill stores
  // (overwrite per batch id = exactly-once under retries); the repeat
  // test (history count + one keyed sum of increment partials >= 2), the
  // coverage semi-join and the island merge evaluate ONCE at drain.
  // Gram counts are additive over batches, so the merge is exact. No
  // state store at all; streaming memory is bounded by trigger sizing,
  // not corpus size. At 100 TB the spill store is object storage and the
  // drain is one keyed sum + semi-join — the batch op's own shape.
  /** q226's gram-hash wire shape `(_id, _p, _h1, _h2)` — the exact frame
    * the store build, the increment partials and the drain join all ride.
    * Exposed for [[graft.tools.ScaleProbe]]'s ×100 store-join rows (the
    * RankQueries.partDuelsForTiming convention) so the probe cannot
    * drift from the operator. */
  private[graft] def essGramHashes(df: DataFrame, minLen: Int): DataFrame = df
    .select(col("doc_id").as("_id"), col("text").as("_t"))
    .filter(length(col("_t")) >= minLen)
    // 128-bit composite store key: two 64-bit lanes over the same gram
    // bytes under DIFFERENT xxhash64 seeds ([[graft.catalyst
    // .GramHashes64]], r16) — a false coverage needs a simultaneous
    // collision in both (the docstring birthday bound). r15's salt idiom
    // `xxhash64(gram, salt)` did NOT deliver that: Spark folds the salt
    // AFTER the gram (`h2 = hashLong(salt, h1)`), making lane 2 a
    // deterministic function of lane 1 — an h1 collision always collided
    // h2, so the key was effectively 64-bit. Independent seeds restore
    // the 2^-129 bound the family contract argues from; the expression
    // also computes each document's grams in ONE O(L·minLen) pass
    // instead of the r15 sequence+substr O(L²) re-walk.
    .select(col("_id"),
      posexplode(arrays_zip(
        graft.catalyst.GramExprs.gramHashes64(col("_t"), minLen).as("h1"),
        graft.catalyst.GramExprs.gramHashes64(col("_t"), minLen,
          seed = 0x9E3779B97F4A7C15L).as("h2"))).as(Seq("_p0", "_hs")))
    .select(col("_id"), (col("_p0") + 1).as("_p"),
      col("_hs.h1").as("_h1"), col("_hs.h2").as("_h2"))

  def q226StreamExactSubstring(s0: SparkSession, d: String): DataFrame = {
    val minLen = 40
    val s = streamSession(s0)
    val schema = Tables.documents(s, d).schema
    val docs = s.readStream.schema(schema).parquet(asStreamDir(s"$d/documents.parquet"))
    def gramHashes(df: DataFrame): DataFrame = essGramHashes(df, minLen)
    val histStore = Tables.documents(s, d).filter(col("doc_id") % 10 =!= 0)
      .transform(gramHashes)
      .groupBy("_h1", "_h2").agg(count(lit(1)).as("_ch"))
    val incPos = docs.filter(col("doc_id") % 10 === 0).transform(gramHashes)
    val outPath = java.nio.file.Files.createTempDirectory("graft-ess-partials")
    val ckptPath = java.nio.file.Files.createTempDirectory("graft-ess-ckpt")
    val outDir = outPath.toString
    val writeBatch: (DataFrame, Long) => Unit = (batch, batchId) => {
      val b = batch.persist()
      try {
        b.groupBy("_h1", "_h2").agg(count(lit(1)).as("_n"))
          .write.mode("overwrite").parquet(s"$outDir/counts/batch=$batchId")
        b.write.mode("overwrite").parquet(s"$outDir/pos/batch=$batchId")
      } finally { b.unpersist(false); () }
    }
    val q = incPos.writeStream
      .foreachBatch(writeBatch)
      .option("checkpointLocation", ckptPath.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val posDir = java.nio.file.Paths.get(s"$outDir/pos")
    val hasBatches = java.nio.file.Files.isDirectory(posDir) && {
      val ls = java.nio.file.Files.list(posDir)
      try ls.anyMatch(p => p.getFileName.toString.startsWith("batch="))
      finally ls.close()
    }
    val spans =
      if (!hasBatches)
        s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc_id", LongType, nullable = true),
            org.apache.spark.sql.types.StructField("start_pos", LongType, nullable = true),
            org.apache.spark.sql.types.StructField("span_len", LongType, nullable = true))))
      else {
        val incTotals = s.read.parquet(s"$outDir/counts").drop("batch")
          .groupBy("_h1", "_h2").agg(sum(col("_n")).as("_ci"))
        val repeated = incTotals.join(histStore, Seq("_h1", "_h2"), "left")
          .filter(col("_ci") + coalesce(col("_ch"), lit(0L)) >= 2)
          .select("_h1", "_h2")
        val covered = s.read.parquet(s"$outDir/pos").drop("batch")
          .join(repeated, Seq("_h1", "_h2"), "left_semi")
        graft.CacheScope.trackCheckpoint(graft.operators.Dedup
          .coverageIslands(covered, minLen).localCheckpoint())
      }
    graft.catalog.GraftCatalog.deleteRecursively(outPath)
    graft.catalog.GraftCatalog.deleteRecursively(ckptPath)
    spans
  }

  // Streaming twin of q70: the deterministic weighted training mixture as
  // a continuous STATELESS projection + per-row generator over a document
  // stream (floor(w) copies + a salted-md5 fractional draw — no rand(),
  // no state), append mode; batch oracle VERBATIM. With q78 (redaction)
  // and q82 (decontamination) this completes browse/continuous parity
  // across the stateless, broadcast-join and stateful-agg curation
  // shapes.
  def q87StreamMixture(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0)
    val schema = Tables.documents(s, d).schema
    val docs = s.readStream.schema(schema).parquet(asStreamDir(s"$d/documents.parquet"))
    drain(graft.operators.Relational.weightedMixture(
        docs.select("doc_id", "lang"), "lang", "doc_id",
        Seq("en" -> 2.5, "de" -> 1.0, "fr" -> 0.25))
      .select("doc_id", "lang", "copy_idx"), "append")
  }

  // Streaming twin of q80/q84: the deterministic quota sample as a
  // CONTINUOUS stateful aggregation — the typed bounded top-k Aggregator
  // (`TopKPairsAgg`) keeps O(k) state per stratum in the state store, so the
  // "current sample per stratum" view of an unbounded stream never grows
  // with it (complete mode; the bounded gate stream drains to exactly
  // the batch sample — q80 oracle VERBATIM).
  def q89StreamQuotaSample(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0)
    val schema = Tables.documents(s, d).schema
    val docs = s.readStream.schema(schema).parquet(asStreamDir(s"$d/documents.parquet"))
    drain(graft.operators.Relational.quotaSampleByHash(
      docs.select("lang", "doc_id"), "lang", "doc_id", 20), "complete")
  }

  // Streaming twin of q06: hopping windows.
  def q38StreamHopping(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0)
    drain(
      StreamOps.hoppingAgg(eventsStream(s, d), "ts", "10 minutes", "5 minutes", "0 seconds",
        Seq(col("event_type")), Seq(count(lit(1)).as("n")))
        .select(TimeFunctions.canonical(col("w.start")).as("window_start"),
          col("event_type"), col("n")),
      "complete")
  }

  // Streaming twin of q07: session windows (gap-merged state) — the
  // hardest window type to keep incrementally; same oracle as batch.
  def q37StreamSession(s0: SparkSession, d: String): DataFrame = {
    val s = streamSession(s0)
    drain(
      StreamOps.sessionAgg(
        eventsStream(s, d).withColumn("ts", date_trunc("second", col("ts"))),
        "ts", "5 minutes", "0 seconds",
        Seq(col("user_id")),
        Seq(count(lit(1)).as("n"), sum(Portable.cents(col("value"))).as("value_cents")))
        .select(col("user_id"),
          TimeFunctions.canonical(col("w.start")).as("session_start"),
          TimeFunctions.canonical(col("w.end")).as("session_end"),
          col("n"), col("value_cents")),
      "complete")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q27_stream_tumbling" -> q27StreamTumbling,
    "q28_stream_enrich" -> q28StreamEnrich,
    "q29_stream_latest_by_key" -> q29StreamLatestByKey,
    "q39_stream_interval_join" -> q39StreamIntervalJoin,
    "q49_stream_dedup" -> q49StreamDedup,
    "q38_stream_hopping" -> q38StreamHopping,
    "q37_stream_session" -> q37StreamSession,
    "q78_stream_redact" -> q78StreamRedact,
    "q125_stream_sentence_split" -> q125StreamSentenceSplit,
    "q82_stream_decontaminate" -> q82StreamDecontaminate,
    "q107_stream_incremental_neardup" -> q107StreamIncrementalNearDup,
    "q224_stream_neardup_bounded" -> q224StreamNearDupBounded,
    "q226_stream_exact_substring" -> q226StreamExactSubstring,
    "q87_stream_mixture" -> q87StreamMixture,
    "q89_stream_quota_sample" -> q89StreamQuotaSample,
    "q98_stream_lm_score" -> q98StreamLmScore,
    "q115_stream_shard_manifest" -> q115StreamShardManifest,
    "q116_stream_nb_classify" -> q116StreamNbClassify,
    "q136_stream_fim" -> q136StreamFim,
    "q176_stream_gopher" -> q176StreamGopher,
    "q180_stream_preference_pairs" -> q180StreamPreferencePairs,
    "q186_stream_retention_f1" -> q186StreamRetentionF1,
    "q188_stream_bradley_terry" -> q188StreamBradleyTerry,
    "q222_stream_bt_bounded" -> q222StreamBtBounded,
    "q201_stream_chi_square" -> q201StreamChiSquare,
    "q206_stream_jsd_drift" -> q206StreamJsdDrift,
    "q214_stream_fairness" -> q214StreamFairness,
    "q215_stream_psi" -> q215StreamPsi,
    "q218_stream_cohen_kappa" -> q218StreamCohenKappa,
    "q219_stream_fleiss_kappa" -> q219StreamFleissKappa,
    "q141_stream_apply_changes" -> q141StreamApplyChanges,
    "q156_stream_expectations" -> q156StreamExpectations,
    "q157_stream_key_skew" -> q157StreamKeySkew,
    "q162_stream_concurrency" -> q162StreamConcurrency,
    "q165_stream_period_over_period" -> q165StreamPeriodOverPeriod,
    "q170_stream_association_rules" -> q170StreamAssociationRules)

  private val cents = (x: String) => s"CAST(round($x*100) AS BIGINT)"
  private val sumL = (x: String) => s"CAST(sum($x) AS BIGINT)"

  /** q186 oracle: the web shell + C4 CTE fragments (shared with q173 —
    * the cleaner cannot drift between gates), then the token-F1 scalar
    * replayed RELATIONALLY: unnest both token streams, clipped unigram
    * overlap per doc, exact integer floor division. An inner token join
    * equals the scalar's distinct-token min-sum (tokens absent from one
    * side contribute min(·,0) = 0). */
  private val q186OracleSql: String =
    s"""WITH aug AS (SELECT doc_id, ${WebQueries.webAugmentSql} AS text FROM documents),
        ${WebQueries.c4CtesSql("aug")},
        cl AS MATERIALIZED (
          SELECT k.doc_id,
            CASE WHEN k.doc_ok AND len(k.kept) >= 3
              THEN array_to_string(k.kept, chr(10)) ELSE '' END AS clean_text,
            CAST(len(k.lines) AS BIGINT) AS n_lines,
            CAST(len(k.kept) AS BIGINT) AS n_kept,
            CAST(k.doc_ok AND len(k.kept) >= 3 AS INT) AS doc_kept,
            a.text
          FROM k JOIN aug a ON a.doc_id = k.doc_id),
        tt AS MATERIALIZED (
          SELECT doc_id,
            string_split_regex(trim(clean_text), '\\s+') AS ta,
            string_split_regex(trim(text), '\\s+') AS tb
          FROM cl),
        ca AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c FROM (
            SELECT doc_id, unnest(ta) AS g FROM tt) GROUP BY doc_id, g),
        cb AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c FROM (
            SELECT doc_id, unnest(tb) AS g FROM tt) GROUP BY doc_id, g),
        m AS (SELECT ca.doc_id, CAST(sum(least(ca.c, cb.c)) AS BIGINT) AS m
          FROM ca JOIN cb ON ca.doc_id = cb.doc_id AND ca.g = cb.g
          GROUP BY 1),
        l AS (SELECT doc_id, CAST(len(ta) AS BIGINT) AS la,
            CAST(len(tb) AS BIGINT) AS lb FROM tt)
        SELECT cl.doc_id, cl.n_lines, cl.n_kept, cl.doc_kept,
          CASE WHEN l.la + l.lb > 0
            THEN (2000000 * coalesce(m.m, 0)) // (l.la + l.lb)
            ELSE 0 END AS retention_f1_micro
        FROM cl
        JOIN l ON l.doc_id = cl.doc_id
        LEFT JOIN m ON m.doc_id = cl.doc_id"""

  val oracles: Map[String, String] = Map(
    // the batch oracle verbatim: stream and browse must agree exactly
    "q78_stream_redact" -> TextQueries.oracles("q64_pii_redact"),
    "q136_stream_fim" -> TextQueries.oracles("q131_fim"),
    "q176_stream_gopher" -> WebQueries.oracles("q172_gopher_rules"),
    "q180_stream_preference_pairs" -> WebQueries.oracles("q178_preference_pairs"),
    "q186_stream_retention_f1" -> q186OracleSql,
    "q188_stream_bradley_terry" -> RankQueries.oracles("q184_bradley_terry"),
    "q222_stream_bt_bounded" -> RankQueries.oracles("q184_bradley_terry"),
    "q201_stream_chi_square" -> MetricsQueries.oracles("q200_chi_square"),
    "q206_stream_jsd_drift" -> MetricsQueries.oracles("q203_jsd_drift"),
    "q214_stream_fairness" -> MetricsQueries.oracles("q210_fairness_report"),
    "q215_stream_psi" -> MetricsQueries.oracles("q205_psi_drift"),
    "q218_stream_cohen_kappa" -> MetricsQueries.oracles("q195_cohen_kappa"),
    "q219_stream_fleiss_kappa" -> MetricsQueries.oracles("q217_fleiss_kappa"),
    "q141_stream_apply_changes" -> RelationalQueries.oracles("q140_apply_changes"),
    "q156_stream_expectations" -> RelationalQueries.q156OracleSql,
    "q157_stream_key_skew" -> RelationalQueries.oracles("q153_key_skew"),
    "q162_stream_concurrency" -> RelationalQueries.oracles("q161_concurrency"),
    "q165_stream_period_over_period" -> RelationalQueries.oracles("q163_period_over_period"),
    "q170_stream_association_rules" -> RelationalQueries.oracles("q167_association_rules"),
    "q125_stream_sentence_split" -> TextQueries.oracles("q122_sentence_split"),
    "q82_stream_decontaminate" -> DedupQueries.oracles("q69_decontaminate"),
    "q107_stream_incremental_neardup" -> DedupQueries.oracles("q106_incremental_neardup"),
    "q224_stream_neardup_bounded" -> DedupQueries.oracles("q106_incremental_neardup"),
    // q225's batch oracle with the output restricted to the increment
    // slice — repeat counts stay full-corpus (history + whole increment)
    "q226_stream_exact_substring" ->
      DedupQueries.exactSubstringOracleSql(" AND doc_id % 10 = 0"),
    "q98_stream_lm_score" -> TextQueries.oracles("q92_lm_score"),
    "q87_stream_mixture" -> TextQueries.oracles("q70_weighted_mixture"),
    "q89_stream_quota_sample" -> TextQueries.oracles("q80_quota_sample"),
    "q115_stream_shard_manifest" -> TextQueries.oracles("q110_shard_manifest"),
    "q116_stream_nb_classify" -> TextQueries.oracles("q113_nb_classify"),
    "q27_stream_tumbling" ->
      s"""SELECT strftime(time_bucket(INTERVAL 10 MINUTE, ts::TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS window_start,
          event_type, count(*) AS n, ${sumL(cents("value"))} AS value_cents
          FROM events GROUP BY 1, 2""",
    "q28_stream_enrich" ->
      s"""SELECT c_mktsegment, count(*) AS n, ${sumL(cents("value"))} AS value_cents
          FROM events LEFT JOIN customer ON user_id = c_custkey
          GROUP BY c_mktsegment""",
    "q29_stream_latest_by_key" ->
      s"""SELECT user_id, event_id, event_type,
          strftime(date_trunc('second', ts::TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ts_s,
          ${cents("value")} AS value_cents
          FROM events
          QUALIFY row_number() OVER (PARTITION BY user_id
            ORDER BY date_trunc('second', ts::TIMESTAMP) DESC, event_id DESC) = 1""",
    "q39_stream_interval_join" ->
      """SELECT a.event_type AS type_a, count(*) AS n_matches,
         count(DISTINCT a.event_id) AS n_events_matched,
         CAST(sum(b.event_id) AS BIGINT) AS sum_matched_ids
         FROM events a JOIN events b
           ON a.user_id = b.user_id AND a.event_id <> b.event_id
          AND b.ts::TIMESTAMP >= a.ts::TIMESTAMP - INTERVAL 10 MINUTE
          AND b.ts::TIMESTAMP <= a.ts::TIMESTAMP + INTERVAL 10 MINUTE
         GROUP BY a.event_type""",
    "q49_stream_dedup" ->
      s"""SELECT event_type, count(*) AS n, ${sumL(cents("value"))} AS value_cents
          FROM events GROUP BY event_type""",
    "q38_stream_hopping" ->
      """SELECT strftime(time_bucket(INTERVAL 5 MINUTE, ts::TIMESTAMP) - k * INTERVAL 5 MINUTE, '%Y-%m-%d %H:%M:%S') AS window_start,
         event_type, count(*) AS n
         FROM events CROSS JOIN (SELECT unnest([0,1]) AS k) offs
         GROUP BY 1, 2""",
    "q37_stream_session" ->
      s"""WITH e AS (
            SELECT user_id, date_trunc('second', ts::TIMESTAMP) AS t, value FROM events
          ), flagged AS (
            SELECT user_id, t, value,
              CASE WHEN lag(t) OVER w IS NULL
                     OR t > lag(t) OVER w + INTERVAL 5 MINUTE THEN 1 ELSE 0 END AS is_new
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)
          ), sess AS (
            SELECT user_id, t, value,
              sum(is_new) OVER (PARTITION BY user_id ORDER BY t
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
            FROM flagged
          )
          SELECT user_id,
            strftime(min(t), '%Y-%m-%d %H:%M:%S') AS session_start,
            strftime(max(t) + INTERVAL 5 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
            count(*) AS n, ${sumL(cents("value"))} AS value_cents
          FROM sess GROUP BY user_id, sid""")
}
