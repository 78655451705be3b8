package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpec {
  import spark.implicits._
  private implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def ts(s: String) = Timestamp.valueOf(s)

  test("tumblingAgg aggregates per 10-minute window with watermark (update mode)") {
    val in = MemoryStream[(Timestamp, String, Double)]
    val agg = StreamOps.tumblingAgg(
      in.toDF().toDF("ts", "k", "v"), "ts", "10 minutes", "5 minutes",
      Seq(col("k")), Seq(count(lit(1)).as("n"), sum(col("v")).as("s")))
      .select(col("w.start").cast("string").as("ws"), col("k"), col("n"), col("s"))
    val q = agg.writeStream.format("memory").queryName("tumbling").outputMode("update").start()
    try {
      in.addData(
        (ts("2024-01-01 00:01:00"), "a", 1.0),
        (ts("2024-01-01 00:04:00"), "a", 2.0),
        (ts("2024-01-01 00:11:00"), "b", 5.0))
      q.processAllAvailable()
      val rows = spark.table("tumbling")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(rows.contains(("2024-01-01 00:00:00", "a", 2L, 3.0)))
      assert(rows.contains(("2024-01-01 00:10:00", "b", 1L, 5.0)))
    } finally q.stop()
  }

  test("latestByKeyStream keeps the max-offset row per key across batches") {
    val in = MemoryStream[(String, Long, String)]
    val latest = StreamOps.latestByKeyStream(in.toDF().toDF("k", "off", "v"), "k", "off")
    val q = latest.writeStream.format("memory").queryName("latest").outputMode("update").start()
    try {
      in.addData(("k1", 1L, "old"), ("k2", 1L, "only"))
      q.processAllAvailable()
      in.addData(("k1", 3L, "new"), ("k1", 2L, "stale")) // out-of-order in one batch
      q.processAllAvailable()
      // update-mode memory sink appends each update; the LAST update per key
      // is the compacted view
      val byKey = spark.table("latest").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
        .groupBy(_._1).map { case (k, rows) => k -> rows.last }
      assert(byKey("k1") == ("k1", 3L, "new"))
      assert(byKey("k2") == ("k2", 1L, "only"))
    } finally q.stop()
  }

  test("RocksDB state store: stateful agg + checkpoint restart, same results as HDFS-backed") {
    // The production state backend at 100-TB streaming state (keys no
    // longer bounded by executor heap; the ~1.3 GB reference heap budget
    // in Engine's scaladoc makes heap-backed state a non-starter).
    // rocksdbjni ships in /opt/spark/jars, so this is a config away —
    // prove correctness AND restart-recovery under the provider.
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ckpt = Files.createTempDirectory("rocksdb-ck").toString
    val out = Files.createTempDirectory("rocksdb-out").toString
    try {
      val in = MemoryStream[(Timestamp, String, Double)]
      // append-mode parquet sink: emits each window ONCE when the
      // watermark finalizes it, and supports checkpoint recovery (the
      // memory sink does not)
      def start() = StreamOps.tumblingAgg(
          in.toDF().toDF("ts", "k", "v"), "ts", "10 minutes", "5 minutes",
          Seq(col("k")), Seq(count(lit(1)).as("n"), sum(col("v")).as("s")))
        .select(col("w.start").cast("string").as("ws"), col("k"), col("n"), col("s"))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      val q1 = start()
      try {
        in.addData((ts("2024-01-01 00:01:00"), "a", 1.0), (ts("2024-01-01 00:04:00"), "a", 2.0))
        q1.processAllAvailable()
      } finally q1.stop()
      // restart from the RocksDB-backed checkpoint: the open 00:00 window
      // must still hold both q1 rows, absorb one more, then finalize when
      // the watermark passes it
      val q2 = start()
      try {
        in.addData((ts("2024-01-01 00:07:00"), "a", 4.0))
        q2.processAllAvailable()
        in.addData((ts("2024-01-01 00:30:00"), "b", 9.0)) // advances watermark past 00:10
        q2.processAllAvailable()
        val rows = spark.read.parquet(out).collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
        assert(rows.contains(("2024-01-01 00:00:00", "a", 3L, 7.0)),
          s"RocksDB-backed state must survive restart, got ${rows.mkString(", ")}")
      } finally q2.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("enrich: stream-static broadcast join") {
    val dim = Seq((1L, "GOLD"), (2L, "SILVER")).toDF("id", "tier")
    val in = MemoryStream[(Long, Double)]
    val out = StreamOps.enrich(in.toDF().toDF("uid", "v"), dim, col("uid") === col("id"))
      .select("uid", "tier", "v")
    val q = out.writeStream.format("memory").queryName("enriched").outputMode("append").start()
    try {
      in.addData((1L, 10.0), (3L, 30.0))
      q.processAllAvailable()
      val rows = spark.table("enriched").collect()
        .map(r => (r.getLong(0), Option(r.getString(1)).getOrElse("-"), r.getDouble(2))).toSet
      assert(rows == Set((1L, "GOLD", 10.0), (3L, "-", 30.0)))
    } finally q.stop()
  }

  test("pipelines: named lifecycle (start/list/stop) with checkpoint resume over file source") {
    val inDir = Files.createTempDirectory("graft-in").toString
    val outDir = Files.createTempDirectory("graft-out").toString
    val ckRoot = Files.createTempDirectory("graft-ck").toString
    val pipes = new Pipelines(ckRoot)
    val monitor = new Monitor().attach(spark)
    try {
      Files.writeString(java.nio.file.Path.of(inDir, "f1.txt"), "a\nb\nc\n")
      def startPipe() = pipes.start("logs_to_parquet",
        spark.readStream.text(inDir),
        w => w.format("parquet").option("path", outDir).outputMode("append"))
      startPipe()
      pipes.awaitDrained("logs_to_parquet")
      val info1 = pipes.list.find(_.name == "logs_to_parquet").get
      assert(info1.isActive)
      pipes.stop("logs_to_parquet")
      assert(!pipes.list.find(_.name == "logs_to_parquet").get.isActive)

      // second file while stopped; restart resumes from checkpoint —
      // no reprocessing of f1
      Files.writeString(java.nio.file.Path.of(inDir, "f2.txt"), "d\ne\n")
      startPipe()
      pipes.awaitDrained("logs_to_parquet")
      pipes.stop("logs_to_parquet")
      val lines = spark.read.parquet(outDir).as[String].collect().sorted.toSeq
      assert(lines == Seq("a", "b", "c", "d", "e"))

      // monitor captured per-batch progress rows
      val m = monitor.metricsTable(spark)
      assert(m.count() >= 1)
      assert(m.columns.toSet.contains("numInputRows"))
    } finally {
      pipes.stopAll()
      monitor.detach(spark)
    }
  }

  test("pipelines: a graft-rate dedup processor stopped mid-stream and restarted under its name commits each key exactly once") {
    val root = Files.createTempDirectory("graft-restart")
    val sink = root.resolve("sink")
    val pipes = new Pipelines(root.resolve("ck").toString)
    val opts = RateDedupPipeline.options(advancePerBatchSeconds = 2)
    try {
      // stop() interrupts whichever batch is running, so each run may leave
      // an offset logged but not committed for the next run to replay
      val q1 = RateDedupPipeline.start(spark, pipes, "rate_dedup", sink, opts)
      try RateDedupPipeline.awaitBatches(q1, 3) finally pipes.stop("rate_dedup")
      val (committed1, _) = RateDedupPipeline.committedEnd(sink, pipes.checkpointDir("rate_dedup"))
      val q2 = RateDedupPipeline.start(spark, pipes, "rate_dedup", sink, opts)
      try RateDedupPipeline.awaitBatches(q2, 3) finally pipes.stop("rate_dedup")
      assert(q2.recentProgress.head.batchId > 0, "the restart must resume from the checkpoint")

      val (committed, seconds) = RateDedupPipeline.committedEnd(sink, pipes.checkpointDir("rate_dedup"))
      assert(committed > committed1)
      assert(committed == graft.sources.RateConf(opts).cumulative(seconds))
      val expectedKeys = (committed + 1) / 2
      val r = spark.read.parquet(sink.toString)
        .agg(count(lit(1)), countDistinct(col("k")), min(col("k")), max(col("k"))).head()
      assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
        (expectedKeys, expectedKeys, 0L, expectedKeys - 1))
    } finally pipes.stopAll()
  }

  test("dedupStream drops exact duplicates within the watermark") {
    val in = MemoryStream[(Timestamp, Long)]
    val out = StreamOps.dedupStream(in.toDF().toDF("ts", "id"), "ts", "10 minutes", Seq("id"))
    val q = out.writeStream.format("memory").queryName("dedup").outputMode("append").start()
    try {
      in.addData((ts("2024-01-01 00:00:00"), 1L), (ts("2024-01-01 00:00:00"), 1L),
        (ts("2024-01-01 00:01:00"), 2L))
      q.processAllAvailable()
      assert(spark.table("dedup").count() == 2)
    } finally q.stop()
  }

  test("complete-mode crash recovery: concurrency deltas resume from checkpoint under both state providers") {
    // The q162 shape end to end: interval file feed -> incrementally
    // merged per-timestamp delta aggregation (complete mode) -> the
    // shared distributed prefix sum. The query is STOPPED with data
    // still arriving, restarted from its checkpoint, and the drained
    // state must match the batch operator over the full feed verbatim —
    // under the default (HDFS-backed) provider AND RocksDB.
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val rocks = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    for ((provider, tag) <- Seq(None -> "hdfs", Some(rocks) -> "rocksdb")) {
      val prev = spark.conf.getOption(providerKey)
      provider.foreach(spark.conf.set(providerKey, _))
      try {
        val dir = Files.createTempDirectory(s"ccr-in-$tag").toString
        val ckpt = Files.createTempDirectory(s"ccr-ck-$tag").toString
        val name = s"ccr_$tag"
        val batch1 = Seq(
          (ts("2024-01-01 00:00:00"), ts("2024-01-01 02:00:00")),
          (ts("2024-01-01 01:00:00"), ts("2024-01-01 03:00:00"))).toDF("s", "e")
        val batch2 = Seq(
          // overlaps the pre-crash state AND nets against it at 03:00
          (ts("2024-01-01 01:30:00"), ts("2024-01-01 03:00:00")),
          (ts("2024-01-01 03:00:00"), ts("2024-01-01 04:00:00"))).toDF("s", "e")
        batch1.coalesce(1).write.mode("append").parquet(dir)
        def start() = {
          val iv = spark.readStream.schema(batch1.schema).parquet(dir)
          iv.select(col("s").as("_t"), lit(1L).as("_d"))
            .unionByName(iv.select(col("e").as("_t"), lit(-1L).as("_d")))
            .groupBy("_t").agg(sum(col("_d")).as("_d"))
            .writeStream.format("memory").queryName(name)
            .option("checkpointLocation", ckpt).outputMode("complete").start()
        }
        val q1 = start()
        try q1.processAllAvailable() finally q1.stop() // the "crash"
        batch2.coalesce(1).write.mode("append").parquet(dir) // arrives while down
        val q2 = start()
        val drained =
          try { q2.processAllAvailable(); spark.table(name).collect() }
          finally q2.stop()
        val got = graft.operators.Events.concurrencyFromDeltas(
            drained.map(r => (r.getTimestamp(0), r.getLong(1))).toSeq.toDF("_t", "_d"))
          .collect().map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
        graft.CacheScope.release()
        val want = graft.operators.Events.concurrencySweep(
            batch1.unionByName(batch2), "s", "e")
          .collect().map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
        graft.CacheScope.release()
        assert(got == want,
          s"[$tag] restarted state must equal the batch sweep: got $got want $want")
        assert(got("2024-01-01 03:00:00.0") == 1L,
          s"[$tag] the 03:00 instant nets pre-crash ends against post-crash starts")
      } finally {
        prev match {
          case Some(v) => spark.conf.set(providerKey, v)
          case None => spark.conf.unset(providerKey)
        }
      }
    }
  }

  test("complete-mode crash recovery: q188's pair-count drain resumes from checkpoint under both state providers") {
    // The round-9 monitor twins (q188/q201/q206/q214/q215) share ONE
    // drain shape: complete-mode COUNT state drained into the weighted
    // form of a batch operator. This proves the shape's recovery story on
    // its largest instance — Bradley-Terry pair counts: the query is
    // stopped mid-feed, more duels arrive while it is down, and after the
    // checkpoint restart the drained counts fed through the weighted BT
    // loop must equal the batch operator over the full exploded log —
    // under the default (HDFS-backed) provider AND RocksDB.
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val rocks = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    for ((provider, tag) <- Seq(None -> "hdfs", Some(rocks) -> "rocksdb")) {
      val prev = spark.conf.getOption(providerKey)
      provider.foreach(spark.conf.set(providerKey, _))
      try {
        val dir = Files.createTempDirectory(s"btr-in-$tag").toString
        val ckpt = Files.createTempDirectory(s"btr-ck-$tag").toString
        val name = s"btr_$tag"
        // pre-crash log: A(1) beats B(2) twice, B beats C(3) twice
        val batch1 = Seq((1L, 2L), (1L, 2L), (2L, 3L), (2L, 3L)).toDF("w", "l")
        // arrives while the query is down: A beats C, plus a REPEAT of an
        // existing pair — its count must merge into pre-crash state (2+1),
        // not reset or double
        val batch2 = Seq((1L, 3L), (1L, 2L)).toDF("w", "l")
        batch1.coalesce(1).write.mode("append").parquet(dir)
        def start() = {
          val duels = spark.readStream.schema(batch1.schema).parquet(dir)
          duels.groupBy("w", "l").agg(count(lit(1)).as("n"))
            .writeStream.format("memory").queryName(name)
            .option("checkpointLocation", ckpt).outputMode("complete").start()
        }
        val q1 = start()
        try q1.processAllAvailable() finally q1.stop() // the "crash"
        batch2.coalesce(1).write.mode("append").parquet(dir)
        val q2 = start()
        val drained =
          try { q2.processAllAvailable(); spark.table(name).as[(Long, Long, Long)].collect() }
          finally q2.stop()
        val counts = drained.map { case (w, l, n) => (w, l) -> n }.toMap
        assert(counts((1L, 2L)) == 3L,
          s"[$tag] the repeated pair must MERGE into pre-crash state (2+1)")
        assert(drained.map(_._3).sum == 6L, s"[$tag] six duels total")
        val got = graft.operators.Rank.bradleyTerry(
            drained.toSeq.toDF("w", "l", "n"), "w", "l", rounds = 4, weightCol = "n")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        graft.CacheScope.release()
        val want = graft.operators.Rank.bradleyTerry(
            batch1.unionByName(batch2), "w", "l", rounds = 4)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        graft.CacheScope.release()
        assert(got == want,
          s"[$tag] drained-state BT must equal batch BT over the full log: got $got want $want")
      } finally {
        prev match {
          case Some(v) => spark.conf.set(providerKey, v)
          case None => spark.conf.unset(providerKey)
        }
      }
    }
  }

  test("bounded-state BT drain (q222 shape): zero state stores, crash-safe batch-keyed partials, batch parity") {
    // The r11 verdict's q188 scale knob, spec-pinned: per-batch partial
    // pair counts written to a batch-keyed store inside foreachBatch —
    // (a) the streaming plan holds NO state store at all (the
    //     complete-mode O(pairs) heap state is gone by construction),
    // (b) a crash + restart re-emits only NEW batches, and an overwrite
    //     by batch id keeps a retried batch idempotent (exactly-once),
    // (c) the keyed merge of the partials + weighted BT equals the batch
    //     operator over the full exploded log.
    val dir = Files.createTempDirectory("btb-in").toString
    val ckpt = Files.createTempDirectory("btb-ck").toString
    val outDir = Files.createTempDirectory("btb-partials").toString
    val batch1 = Seq((1L, 2L), (1L, 2L), (2L, 3L), (2L, 3L)).toDF("w", "l")
    val batch2 = Seq((1L, 3L), (1L, 2L)).toDF("w", "l")
    batch1.coalesce(1).write.mode("append").parquet(dir)
    @volatile var lastProgressStateOps = -1
    def start() = {
      val duels = spark.readStream.schema(batch1.schema).parquet(dir)
      val writeBatch: (org.apache.spark.sql.DataFrame, Long) => Unit = (b, id) =>
        b.groupBy("w", "l").agg(count(lit(1)).as("n"))
          .write.mode("overwrite").parquet(s"$outDir/batch=$id")
      duels.writeStream.foreachBatch(writeBatch)
        .option("checkpointLocation", ckpt).start()
    }
    val q1 = start()
    try {
      q1.processAllAvailable()
      lastProgressStateOps = q1.lastProgress.stateOperators.length
    } finally q1.stop() // the "crash"
    assert(lastProgressStateOps == 0,
      "the bounded drain must run with ZERO stateful operators — that is the whole point")
    batch2.coalesce(1).write.mode("append").parquet(dir)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val merged = spark.read.parquet(outDir).drop("batch")
      .groupBy("w", "l").agg(sum(col("n")).as("n"))
    val counts = merged.as[(Long, Long, Long)].collect().map { case (w, l, n) => (w, l) -> n }.toMap
    assert(counts((1L, 2L)) == 3L, "partials from both lives must merge (2+1), not reset or double")
    assert(counts.values.sum == 6L, "six duels total")
    val got = graft.operators.Rank.bradleyTerry(merged, "w", "l", rounds = 4, weightCol = "n")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.CacheScope.release()
    val want = graft.operators.Rank.bradleyTerry(
        batch1.unionByName(batch2), "w", "l", rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.CacheScope.release()
    assert(got == want, s"merged-partials BT must equal batch BT: got $got want $want")
  }

  test("bounded-state near-dup drain (q224 shape): zero state stores, crash-safe batch-keyed partials, batch parity") {
    // The q222 discipline applied to the incremental near-dup monitor
    // (r12 verdict item 4): the stream-static shingle join is stateless,
    // each batch's (inc, hist, na, nb) partial intersection counts land
    // in a batch-keyed store, and ONE keyed sum at drain reproduces the
    // complete-mode operator exactly —
    // (a) the streaming plan holds NO state store (q107's O(pairs)
    //     complete-mode state is gone by construction),
    // (b) crash + restart re-emits only NEW batches; overwrite-by-batch-id
    //     keeps a retried batch idempotent,
    // (c) merged partials + the Jaccard threshold equal the batch
    //     operator over the full increment set.
    import graft.catalyst.ShingleExprs
    import graft.functions.TextFunctions
    val dir = Files.createTempDirectory("ndb-in").toString
    val ckpt = Files.createTempDirectory("ndb-ck").toString
    val outDir = Files.createTempDirectory("ndb-partials").toString
    // history: two docs; increments: one near-dup of h1 (per life), one noise
    val hist = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta"),
      (200L, "one two three four five six seven eight")).toDF("doc_id", "text")
    val store = hist.select(col("doc_id").as("_hid"),
        ShingleExprs.shingleHashes(TextFunctions.tokens(col("text")), 3).as("_sh"))
      .select(col("_hid"), size(col("_sh")).as("_nb"), explode(col("_sh")).as("_g"))
    val batch1 = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta NINE"),
      (11L, "unrelated words entirely about some other topic")).toDF("doc_id", "text")
    val batch2 = Seq(
      (20L, "one two three four five six seven NINE")).toDF("doc_id", "text")
    batch1.coalesce(1).write.mode("append").parquet(dir)
    @volatile var lastProgressStateOps = -1
    def start() = {
      val inc = spark.readStream.schema(batch1.schema).parquet(dir)
        .select(col("doc_id").as("_iid"),
          ShingleExprs.shingleHashes(TextFunctions.tokens(col("text")), 3).as("_s"))
        .select(col("_iid"), size(col("_s")).as("_na"), explode(col("_s")).as("_g"))
      val matches = inc.join(store, Seq("_g")).select("_iid", "_hid", "_na", "_nb")
      val writeBatch: (org.apache.spark.sql.DataFrame, Long) => Unit = (b, id) =>
        b.groupBy("_iid", "_hid", "_na", "_nb").agg(count(lit(1)).as("_inter"))
          .write.mode("overwrite").parquet(s"$outDir/batch=$id")
      matches.writeStream.foreachBatch(writeBatch)
        .option("checkpointLocation", ckpt).start()
    }
    val q1 = start()
    try {
      q1.processAllAvailable()
      lastProgressStateOps = q1.lastProgress.stateOperators.length
    } finally q1.stop() // the "crash"
    assert(lastProgressStateOps == 0,
      "the bounded drain must run with ZERO stateful operators — that is the whole point")
    batch2.coalesce(1).write.mode("append").parquet(dir)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(outDir).drop("batch")
      .groupBy("_iid", "_hid", "_na", "_nb").agg(sum(col("_inter")).as("_inter"))
      .withColumn("jaccard", col("_inter").cast("double") /
        (col("_na") + col("_nb") - col("_inter")).cast("double"))
      .filter(col("jaccard") >= 0.4)
      .select(col("_iid").as("inc_id"), col("_hid").as("hist_id"), col("jaccard"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = graft.operators.Dedup.incrementalNearDup(
        batch1.unionByName(batch2), "doc_id", "text",
        hist.select(col("doc_id"),
          ShingleExprs.shingleHashes(TextFunctions.tokens(col("text")), 3).as("shingles")),
        "doc_id", "shingles", n = 3, minJaccard = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    graft.CacheScope.release()
    assert(got.nonEmpty, "the near-dup increments must match their history docs")
    assert(got == want, s"merged-partials near-dup must equal the batch operator: got $got want $want")
  }

  test("bounded-state exact-substring drain (q226 shape): zero state stores, cross-batch repeats via summed partials, batch parity") {
    // The q224 discipline applied to the exact-substring grain (r13
    // verdict item 6): history exists only as its gram-hash COUNT store,
    // each micro-batch lands (hash, n) partials AND its (id, pos, hash)
    // position rows in batch-keyed stores, and the repeat test + island
    // merge run once at drain —
    // (a) the streaming plan holds NO state store,
    // (b) a gram repeated only ACROSS batches (once in batch 1, once in
    //     batch 2 — invisible to any single batch) is still covered,
    //     because counts are additive over the batch-keyed partials,
    // (c) crash + restart between batches re-emits only NEW batches,
    // (d) the drained spans equal Dedup.exactSubstringSpans over the
    //     full corpus, restricted to increment docs.
    val minLen = 40
    val common = "the quick brown fox jumps over lazy dog 0123" // 44 chars
    val chunk = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmn" // 40 chars
    val hist = Seq(
      (101L, "ten chars " + common + "&history tail here")).toDF("doc_id", "text")
    val batch1 = Seq(
      (10L, common + "!" + chunk), // common repeats vs history; chunk vs batch 2
      (30L, "this text shares no forty-char run with anything else in the corpus at all!!"))
      .toDF("doc_id", "text")
    val batch2 = Seq(
      (20L, "prefix 12 " + chunk + " and an ending")).toDF("doc_id", "text")
    def gramHashes(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id").as("_id"), col("text").as("_t"))
      .filter(length(col("_t")) >= minLen)
      .select(col("_id"),
        explode(sequence(lit(1), length(col("_t")) - (minLen - 1))).as("_p"),
        col("_t"))
      .select(col("_id"), col("_p"),
        xxhash64(col("_t").substr(col("_p"), lit(minLen))).as("_h"))
    val histStore = gramHashes(hist).groupBy("_h").agg(count(lit(1)).as("_ch"))
    val dir = Files.createTempDirectory("ess-in").toString
    val ckpt = Files.createTempDirectory("ess-ck").toString
    val outDir = Files.createTempDirectory("ess-partials").toString
    batch1.coalesce(1).write.mode("append").parquet(dir)
    @volatile var lastProgressStateOps = -1
    def start() = {
      val incPos = gramHashes(spark.readStream.schema(batch1.schema).parquet(dir))
      val writeBatch: (org.apache.spark.sql.DataFrame, Long) => Unit = (b, id) => {
        val bp = b.persist()
        try {
          bp.groupBy("_h").agg(count(lit(1)).as("_n"))
            .write.mode("overwrite").parquet(s"$outDir/counts/batch=$id")
          bp.write.mode("overwrite").parquet(s"$outDir/pos/batch=$id")
        } finally { bp.unpersist(false); () }
      }
      incPos.writeStream.foreachBatch(writeBatch)
        .option("checkpointLocation", ckpt).start()
    }
    val q1 = start()
    try {
      q1.processAllAvailable()
      lastProgressStateOps = q1.lastProgress.stateOperators.length
    } finally q1.stop() // the "crash"
    assert(lastProgressStateOps == 0,
      "the bounded drain must run with ZERO stateful operators — that is the whole point")
    batch2.coalesce(1).write.mode("append").parquet(dir)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val incTotals = spark.read.parquet(s"$outDir/counts").drop("batch")
      .groupBy("_h").agg(sum(col("_n")).as("_ci"))
    val repeated = incTotals.join(histStore, Seq("_h"), "left")
      .filter(col("_ci") + coalesce(col("_ch"), lit(0L)) >= 2)
      .select("_h")
    val covered = spark.read.parquet(s"$outDir/pos").drop("batch")
      .join(repeated, Seq("_h"), "left_semi")
    val got = graft.operators.Dedup.coverageIslands(covered, minLen)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = graft.operators.Dedup.exactSubstringSpans(
        hist.unionByName(batch1).unionByName(batch2), "doc_id", "text", minLen)
      .filter(col("doc_id") % 10 === 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    graft.CacheScope.release()
    // hand-computed pin: doc 10's common island (windows 1..5 repeat vs
    // history), doc 10's chunk window (repeats vs BATCH 2 only — the
    // cross-batch property), doc 20's chunk window; doc 30 clean
    assert(got == Set((10L, 1L, 44L), (10L, 46L, 40L), (20L, 11L, 40L)),
      s"hand-computed spans: got $got")
    assert(got == want, s"drained spans must equal the batch operator: got $got want $want")
  }

  test("complete-mode crash recovery: q219's (item, category) cell drain resumes from checkpoint under both state providers") {
    // q219's drained state is the one remaining shape with no
    // kill-and-resume proof (r10 verdict #5): the monitor twins' other
    // states are label-grain, this one is ITEM-grain (the annotation-job
    // monitor). Ratings stop mid-job, more arrive while the query is
    // down, and the checkpoint-restarted drain fed through
    // fleissKappaFromCounts must equal batch fleissKappa over the full
    // exploded log. The data completes every item to the SAME rater
    // count (3) only across BOTH batches — so a reset or double-count
    // of pre-crash cells trips the operator's unequal-panel raise_error
    // or a kappa mismatch, never a silent pass.
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val rocks = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    for ((provider, tag) <- Seq(None -> "hdfs", Some(rocks) -> "rocksdb")) {
      val prev = spark.conf.getOption(providerKey)
      provider.foreach(spark.conf.set(providerKey, _))
      try {
        val dir = Files.createTempDirectory(s"flk-in-$tag").toString
        val ckpt = Files.createTempDirectory(s"flk-ck-$tag").toString
        val name = s"flk_$tag"
        // pre-crash ratings (item, category); item 3 is already complete
        val batch1 = Seq(
          (1L, "a"), (1L, "a"),
          (2L, "a"), (2L, "b"),
          (3L, "b"), (3L, "b"), (3L, "b"),
          (4L, "a")).toDF("item", "cat")
        // arrives while the query is down; (1, "a") must MERGE into the
        // pre-crash cell (2+1), and every item reaches exactly 3 ratings
        val batch2 = Seq(
          (1L, "a"),
          (2L, "b"),
          (4L, "b"), (4L, "b")).toDF("item", "cat")
        batch1.coalesce(1).write.mode("append").parquet(dir)
        def start() = {
          val ratings = spark.readStream.schema(batch1.schema).parquet(dir)
          ratings.groupBy("item", "cat").agg(count(lit(1)).as("n"))
            .writeStream.format("memory").queryName(name)
            .option("checkpointLocation", ckpt).outputMode("complete").start()
        }
        val q1 = start()
        try q1.processAllAvailable() finally q1.stop() // the "crash"
        batch2.coalesce(1).write.mode("append").parquet(dir)
        val q2 = start()
        val drained =
          try { q2.processAllAvailable(); spark.table(name).as[(Long, String, Long)].collect() }
          finally q2.stop()
        val cells = drained.map { case (i, c, n) => (i, c) -> n }.toMap
        assert(cells((1L, "a")) == 3L,
          s"[$tag] the repeated cell must MERGE into pre-crash state (2+1)")
        assert(drained.map(_._3).sum == 12L, s"[$tag] twelve ratings total")
        val got = graft.operators.Metrics.fleissKappaFromCounts(
            drained.toSeq.toDF("item", "cat", "n"), "item", "cat", "n")
          .collect().head
        graft.CacheScope.release()
        val want = graft.operators.Metrics.fleissKappa(
            batch1.unionByName(batch2), "item", "cat")
          .collect().head
        graft.CacheScope.release()
        assert(got == want,
          s"[$tag] drained-cell kappa must equal batch kappa over the full log: got $got want $want")
        assert(got.getLong(1) == 3L, s"[$tag] recovered panel is 3 raters per item")
      } finally {
        prev match {
          case Some(v) => spark.conf.set(providerKey, v)
          case None => spark.conf.unset(providerKey)
        }
      }
    }
  }
}
