package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class RelationalSpec extends SparkSpec {
  import spark.implicits._

  test("hashSplit: deterministic, exhaustive, invariant to partitioning and extra rows") {
    val docs = (1 to 500).map(i => (i.toLong, s"document number $i payload")).toDF("id", "text")
    val cuts = Seq("train" -> 80, "valid" -> 90, "test" -> 100)
    def splits(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
      Relational.hashSplit(df, "text", cuts).select("id", "split")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val s1 = splits(docs)
    assert(s1.size == 500 && s1.values.toSet.subsetOf(Set("train", "valid", "test")))
    // roughly proportional (md5 is uniform; 500 rows -> loose bounds)
    val frac = s1.values.count(_ == "train") / 500.0
    assert(frac > 0.7 && frac < 0.9, s"train fraction $frac far from 0.8")
    // SAME assignment after repartitioning and after adding unrelated rows
    assert(splits(docs.repartition(7)) == s1)
    val more = docs.unionByName(Seq((9999L, "an entirely new document")).toDF("id", "text"))
    assert(splits(more).view.filterKeys(_ != 9999L).toMap == s1,
      "adding rows must never flip an existing row's split")
    intercept[IllegalArgumentException] {
      Relational.hashSplit(docs, "text", Seq("a" -> 50, "b" -> 99))
    }
  }

  test("weightedMixture: copy counts are floor/ceil of the weight, stable, strata exact") {
    val docs = (1 to 600).map(i =>
      (i.toLong, if (i % 3 == 0) "a" else if (i % 3 == 1) "b" else "c", s"payload $i"))
      .toDF("id", "stratum", "text")
    val weights = Seq("a" -> 2.0, "b" -> 0.5) // c absent -> dropped
    def mix(df: org.apache.spark.sql.DataFrame): Map[(Long, Int), String] =
      Relational.weightedMixture(df, "stratum", "id", weights)
        .select("id", "copy_idx", "stratum")
        .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getString(2)).toMap
    val m1 = mix(docs)
    val byId = m1.keys.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // integer weight 2.0 -> EXACTLY two copies (0, 1) for every 'a' row
    val aIds = (1 to 600).filter(_ % 3 == 0).map(_.toLong).toSet
    assert(aIds.forall(id => byId.get(id).contains(Set(0, 1))),
      "weight 2.0 must emit exactly copies {0,1}")
    // fractional weight 0.5 -> 0 or 1 copies; empirical rate near 0.5
    val bIds = (1 to 600).filter(_ % 3 == 1).map(_.toLong).toSet
    assert(bIds.forall(id => byId.get(id).forall(_ == Set(0))))
    val bRate = bIds.count(byId.contains) / bIds.size.toDouble
    assert(bRate > 0.4 && bRate < 0.6, s"b-stratum keep rate $bRate far from 0.5")
    // absent stratum dropped entirely
    assert(m1.values.toSet == Set("a", "b"))
    // deterministic under repartitioning and data growth
    assert(mix(docs.repartition(7)) == m1)
    val more = docs.unionByName(Seq((9999L, "a", "new")).toDF("id", "stratum", "text"))
    assert(mix(more).view.filterKeys(_._1 != 9999L).toMap == m1,
      "adding rows must never change an existing row's copy count")
    // no shuffle: pure projection + generator
    val plan = Relational.weightedMixture(docs, "stratum", "id", weights)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"mixture must not shuffle:\n$plan")
  }

  test("quantizeInt8: reconstruction error bounded by scale/2, codes pinned by checksum") {
    val emb = graft.Tables.embeddings(spark, sf)
    val q = Embeddings.quantizeInt8(emb, "vec_id", "embedding").collect()
    assert(q.length == emb.count())
    q.foreach { r =>
      val (dims, scale, err) = (r.getInt(1), r.getDouble(2), r.getDouble(4))
      assert(dims == 64)
      assert(scale > 0, "test embeddings have nonzero vectors")
      assert(err <= scale / 2 + 1e-12,
        s"rounding guarantees |x - code*scale| <= scale/2, got $err vs scale $scale")
    }
    // q_sum range sanity: |code| <= 127 each
    q.foreach { r =>
      assert(math.abs(r.getLong(3)) <= 127L * r.getInt(1))
    }
  }

  test("latestByKey keeps exactly the max-ordered row per key") {
    val df = Seq(
      ("k1", 1L, "old"), ("k1", 3L, "new"), ("k1", 2L, "mid"),
      ("k2", 7L, "only")).toDF("k", "off", "v")
    val out = Relational.latestByKey(df, Seq("k"), Seq(col("off")))
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(out.toSeq == Seq(("k1", 3L, "new"), ("k2", 7L, "only")))
  }

  test("keepFirstBy keeps the min-ordered row per dup group") {
    val df = Seq((10L, "same"), (3L, "same"), (5L, "other")).toDF("id", "text")
    val out = Relational.keepFirstBy(df, Seq("text"), Seq(col("id")))
      .select("id").as[Long].collect().sorted
    assert(out.toSeq == Seq(3L, 5L))
    // hashWideKeys is a pure performance knob: both branches return the
    // SAME column order (positional consumers must not see the flag)
    val plain = Relational.keepFirstBy(df, Seq("text"), Seq(col("id")))
    val hashed = Relational.keepFirstBy(df, Seq("text"), Seq(col("id")), hashWideKeys = true)
    assert(plain.columns.toSeq == df.columns.toSeq)
    assert(hashed.columns.toSeq == df.columns.toSeq)
  }

  test("topKPerGroup returns k rows per group in strict order") {
    val df = (1 to 20).map(i => (i % 2, i)).toDF("g", "x")
    val out = Relational.topKPerGroup(df, Seq(col("g")), Seq(col("x").desc), 3)
      .orderBy("g", "x").as[(Int, Int)].collect()
    assert(out.toSeq == Seq((0, 16), (0, 18), (0, 20), (1, 15), (1, 17), (1, 19)))
  }

  test("saltedEquiJoin returns exactly the plain-join result under skew") {
    val left = (1 to 5000).map(i => (if (i % 100 == 0) i.toLong else 7L, i))
      .toDF("k", "payload") // ~4950 rows share key 7 — one hot key
    val right = Seq((7L, "hot"), (100L, "cold"), (999L, "unmatched")).toDF("rk", "v")
    val plain = left.join(right, col("k") === col("rk")).count()
    val salted = Relational.saltedEquiJoin(left, right, "k", "rk", saltBuckets = 8)
    assert(salted.count() == plain)
    // the hot key's rows really are spread over multiple salt buckets
    val buckets = left
      .withColumn("_salt", pmod(xxhash64(struct(col("k"), col("payload"))), lit(8)))
      .filter(col("k") === 7L).select("_salt").distinct().count()
    assert(buckets > 1)
    // outer-on-the-replicated-side would emit each unmatched replica —
    // the API refuses rather than silently duplicating right rows
    intercept[IllegalArgumentException](
      Relational.saltedEquiJoin(left, right, "k", "rk", 8, joinType = "full"))
  }

  test("intervalJoin: bucketized join == naive post-filter join, boundaries inclusive") {
    val ev = graft.queries.RelationalQueries.events(spark, sf)
    val a = ev.select(col("user_id"), col("event_id").as("id_a"), col("ts").as("ts_a"))
    val b = ev.select(col("user_id").as("uid_b"), col("event_id").as("id_b"), col("ts").as("ts_b"))
    val cond = col("user_id") === col("uid_b") && col("id_a") =!= col("id_b")
    val naive = a.join(b, cond &&
        col("ts_b") >= col("ts_a") - expr("INTERVAL 10 MINUTES") &&
        col("ts_b") <= col("ts_a") + expr("INTERVAL 10 MINUTES"))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val bucketed = Relational.intervalJoin(a, "ts_a", b, "ts_b", cond, "10 minutes")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(bucketed == naive, s"symmetric diff: ${(bucketed diff naive) ++ (naive diff bucketed)}")
    // exact-boundary pairs (delta == maxDelay) must be kept once, not dropped or doubled
    val l = Seq((1L, 10L, "2020-01-01 10:00:00")).toDF("k", "ida", "tsa")
      .withColumn("tsa", to_timestamp(col("tsa")))
    val r = Seq((1L, 20L, "2020-01-01 10:10:00"), (1L, 21L, "2020-01-01 10:10:01"))
      .toDF("k2", "idb", "tsb").withColumn("tsb", to_timestamp(col("tsb")))
    val edge = Relational.intervalJoin(l, "tsa", r, "tsb", col("k") === col("k2"), "10 minutes")
      .select("idb").as[Long].collect().toSeq
    assert(edge == Seq(20L))
  }

  test("intervalJoin: randomized bucket-edge stress == naive join (seeded trials)") {
    // timestamps deliberately pile onto bucket boundaries: multiples of the
    // 1-minute bucket ± {0, ±1µs, 1s-1µs, bucket-1µs} — the cases where an
    // off-by-one in the ±1-bucket expansion or an exclusive bound would show
    val rnd = new scala.util.Random(7)
    val bucketUs = 60000000L
    for (_ <- 1 to 3) {
      val rows = (1 to 300).map { i =>
        val base = rnd.nextInt(20).toLong * bucketUs
        val jitter = Seq(0L, 1L, -1L, 999999L, bucketUs - 1)(rnd.nextInt(5))
        (rnd.nextInt(5).toLong, i.toLong, math.max(0L, base + jitter))
      }
      val df = rows.toDF("k", "id", "us").withColumn("ts", timestamp_micros(col("us")))
      val a = df.select(col("k"), col("id").as("id_a"), col("ts").as("ts_a"))
      val b = df.select(col("k").as("k2"), col("id").as("id_b"), col("ts").as("ts_b"))
      val cond = col("k") === col("k2") && col("id_a") =!= col("id_b")
      val naive = a.join(b, cond &&
          col("ts_b") >= col("ts_a") - expr("INTERVAL 1 MINUTE") &&
          col("ts_b") <= col("ts_a") + expr("INTERVAL 1 MINUTE"))
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val bucketed = Relational.intervalJoin(a, "ts_a", b, "ts_b", cond, "1 minute")
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(bucketed == naive,
        s"diff: ${(bucketed diff naive) ++ (naive diff bucketed)}")
    }
  }

  test("asofJoinBackward matches latest right at-or-before left time, per key") {
    val left = Seq(
      (1L, "2020-01-01 10:00:00", "e1"),
      (1L, "2020-01-01 12:00:00", "e2"),
      (2L, "2020-01-01 09:00:00", "e3")) // before any right row for key 2
      .toDF("k", "t", "ev")
      .withColumn("t", to_timestamp(col("t")))
    val right = Seq(
      (1L, "2020-01-01 09:30:00", 100),
      (1L, "2020-01-01 11:00:00", 200),
      (1L, "2020-01-01 12:00:00", 300), // equal ts: inclusive match
      (2L, "2020-01-01 23:00:00", 900))
      .toDF("k", "t", "val")
      .withColumn("t", to_timestamp(col("t")))
    val out = Relational.asofJoinBackward(left, right, "k", "k", "t", "t")
      .select(col("ev"), col("_asof.val").as("val"))
      .orderBy("ev")
      .collect().map(r => (r.getString(0), if (r.isNullAt(1)) -1 else r.getInt(1)))
    assert(out.toSeq == Seq(("e1", 100), ("e2", 300), ("e3", -1)))
    // tolerance (merge_asof semantics): a best match OLDER than
    // left.time − tolerance nulls out; a match exactly AT the bound
    // stays (inclusive)
    def withTol(tol: String) =
      Relational.asofJoinBackward(left, right, "k", "k", "t", "t",
          tolerance = Some(tol))
        .select(col("ev"), col("_asof.val").as("val"))
        .orderBy("ev")
        .collect().map(r => (r.getString(0), if (r.isNullAt(1)) -1 else r.getInt(1)))
    // e1's match is 30 min old, e2's is exact: 30-min bound keeps both
    assert(withTol("30 minutes").toSeq == Seq(("e1", 100), ("e2", 300), ("e3", -1)),
      "a match exactly at the tolerance bound is inclusive")
    assert(withTol("29 minutes").toSeq == Seq(("e1", -1), ("e2", 300), ("e3", -1)),
      "a match older than the bound must null out")
  }

  test("asofJoinForward matches earliest right at-or-after left time, tiebreak earliest") {
    val left = Seq(
      (1L, "2020-01-01 10:00:00", "e1"),
      (1L, "2020-01-01 11:00:00", "e2"), // equal-ts right row must match
      (2L, "2020-01-01 23:30:00", "e3")) // after any right row for key 2
      .toDF("k", "t", "ev")
      .withColumn("t", to_timestamp(col("t")))
    val right = Seq(
      (1L, "2020-01-01 09:30:00", 100), // in the past: never matches forward
      (1L, "2020-01-01 11:00:00", 200),
      (1L, "2020-01-01 11:00:00", 150), // tie: smaller tiebreak wins
      (2L, "2020-01-01 23:00:00", 900))
      .toDF("k", "t", "val")
      .withColumn("t", to_timestamp(col("t")))
    val out = Relational.asofJoinForward(left, right, "k", "k", "t", "t",
        rightTiebreak = Some("val"))
      .select(col("ev"), col("_asof.val").as("val"))
      .orderBy("ev")
      .collect().map(r => (r.getString(0), if (r.isNullAt(1)) -1 else r.getInt(1)))
    assert(out.toSeq == Seq(("e1", 150), ("e2", 150), ("e3", -1)))
    // horizon (the forward mirror of the backward tolerance): e1's
    // earliest match is 60 min ahead — kept at exactly 60, nulled at 59
    def withHorizon(h: String) =
      Relational.asofJoinForward(left, right, "k", "k", "t", "t",
          rightTiebreak = Some("val"), horizon = Some(h))
        .select(col("ev"), col("_asof.val").as("val"))
        .orderBy("ev")
        .collect().map(r => (r.getString(0), if (r.isNullAt(1)) -1 else r.getInt(1)))
    assert(withHorizon("60 minutes").toSeq == Seq(("e1", 150), ("e2", 150), ("e3", -1)),
      "a match exactly at the horizon bound is inclusive")
    assert(withHorizon("59 minutes").toSeq == Seq(("e1", -1), ("e2", 150), ("e3", -1)),
      "a match past the horizon must null out")
    // a NULL left time matches NOTHING (right.time >= NULL is never true
    // in the SQL semantics the oracle computes)
    val nullLeft = Seq((1L, null.asInstanceOf[String], "eN")).toDF("k", "t", "ev")
      .withColumn("t", to_timestamp(col("t")))
    val n = Relational.asofJoinForward(nullLeft, right, "k", "k", "t", "t")
      .select(col("_asof")).head()
    assert(n.isNullAt(0), "NULL left time must not match the earliest right row")
  }

  test("asofJoinBackward keeps native key types — string keys stay per-key") {
    // the round-2 cast("long") nulled string keys into ONE window
    // partition: every left row got the globally-latest right row
    val left = Seq(("A-1", "2020-01-01 10:00:00", "e1"),
      ("B-2", "2020-01-01 10:00:00", "e2")).toDF("k", "t", "ev")
      .withColumn("t", to_timestamp(col("t")))
    val right = Seq(("A-1", "2020-01-01 09:00:00", 1),
      ("B-2", "2020-01-01 09:30:00", 2)).toDF("k", "t", "val")
      .withColumn("t", to_timestamp(col("t")))
    val out = Relational.asofJoinBackward(left, right, "k", "k", "t", "t")
      .select(col("ev"), col("_asof.val").as("v")).orderBy("ev")
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(out == Seq(("e1", 1), ("e2", 2)))
  }

  test("fuzzyJoin: blocked edit-distance pairs, length bound never drops a true match") {
    import spark.implicits._
    val clean = Seq((1L, "b1", "alpha"), (2L, "b1", "gamma"), (3L, "b2", "alpha"))
      .toDF("id", "blk", "name")
    val dirty = Seq((10L, "b1", "alpho"),   // 1 edit from alpha (same block)
                    (20L, "b1", "gamma"),   // exact
                    (30L, "b2", "alxha"),   // 1 edit from alpha (other block)
                    (40L, "b1", "alphaxx")) // 2 inserts: length bound prunes it
      .toDF("d_id", "d_blk", "d_name")
    val got = Relational.fuzzyJoin(clean, dirty, Seq("blk" -> "d_blk"),
        "name", "d_name", maxDist = 1)
      .select("id", "d_id", "edit_dist")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // cross-block "alpha"~"alxha" must NOT match despite distance 1
    assert(got == Set((1L, 10L, 1), (2L, 20L, 0), (3L, 30L, 1)))
    val err = intercept[IllegalArgumentException] {
      Relational.fuzzyJoin(clean, dirty, Seq.empty, "name", "d_name", 1)
    }
    assert(err.getMessage.contains("all-pairs cartesian"))
  }

  test("quotaSampleByHash == window top-k on skewed strata; short strata kept whole") {
    import graft.functions.Portable
    // one hot stratum (10k rows), one normal (50), one shorter than k (3)
    val skewed = spark.range(10000).select(lit("hot").as("stratum"), col("id"))
      .unionByName(spark.range(20000, 20050).select(lit("mid").as("stratum"), col("id")))
      .unionByName(spark.range(30000, 30003).select(lit("tiny").as("stratum"), col("id")))
    val k = 20
    val windowPath = Relational.topKPerGroup(skewed, Seq(col("stratum")),
        Seq(Portable.md5Long60(col("id").cast("string")).asc, col("id").asc), k)
      .select("stratum", "id")
    val aggPath = Relational.quotaSampleByHash(skewed, "stratum", "id", k)
    val w = windowPath.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val a = aggPath.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(a == w, "bounded-agg path must select the identical sample")
    assert(a.count(_._1 == "hot") == k && a.count(_._1 == "mid") == k &&
      a.count(_._1 == "tiny") == 3)
    // schema parity: same names and types (nullability differs benignly —
    // the agg path's id rides an exploded struct field, marked nullable)
    assert(aggPath.schema.map(f => (f.name, f.dataType)) ==
      windowPath.schema.map(f => (f.name, f.dataType)))
  }

  test("distributedPrefixSum: knownRows fast path equals the two-phase path, ties included") {
    import org.apache.spark.sql.functions.col
    // r15 dispatch pin: while ModelSized.fits the prefix sum runs as
    // one single-task global window; both paths must agree row-for-row —
    // INCLUDING tie groups (both use the default RANGE frame, so every
    // member of a tie block carries the block-inclusive sum).
    val rows = Seq((1L, 10L, 3L), (2L, 10L, 4L), (3L, 5L, 1L),
      (4L, 20L, 2L), (5L, 10L, 5L), (6L, 5L, 7L)).toDF("_k", "_v", "_c")
    def run(known: Long) = Relational.distributedPrefixSum(
        rows, Seq(col("_v"), col("_k")), "_c", knownRows = known)
      .collect().map(r => (r.getLong(0), r.getLong(3))).sorted.toSeq
    val fast = run(known = 6L)      // model-sized → single window
    graft.CacheScope.release()
    val dist = run(known = -1L)     // default → two-phase machinery
    graft.CacheScope.release()
    assert(fast == dist, s"paths diverged: $fast vs $dist")
    // and a RANGE-frame tie check on the value alone (a genuinely tied
    // order): every member of the 10-tie block carries the same
    // inclusive sum in both paths
    def runTies(known: Long) = Relational.distributedPrefixSum(
        rows, Seq(col("_v")), "_c", knownRows = known)
      .collect().map(r => (r.getLong(0), r.getLong(3))).sorted.toSeq
    val fastT = runTies(6L); graft.CacheScope.release()
    val distT = runTies(-1L); graft.CacheScope.release()
    assert(fastT == distT, s"tie handling diverged: $fastT vs $distT")
  }

  test("tokenBudgetSample: hash-order prefix per stratum, crossing row kept, unbudgeted dropped") {
    import org.apache.spark.sql.functions.col
    // a: 10 rows × 10 tokens, budget 35 → cum_before 0/10/20/30 keep = 4 rows
    // b: budget far above total → whole stratum; c: no budget → dropped
    val rows = (1L to 10L).map(i => ("a", i, 10L)) ++
      (11L to 15L).map(i => ("b", i, 7L)) ++ (16L to 18L).map(i => ("c", i, 5L))
    val df = rows.toDF("stratum", "id", "n")
    val out = Relational.tokenBudgetSample(df, "stratum", "id", "n",
        Seq("a" -> 35L, "b" -> 1000L))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byStratum = out.groupBy(_._1)
    assert(!byStratum.contains("c"), "unbudgeted stratum must be dropped")
    assert(byStratum("b").length == 5, "budget above total keeps the whole stratum")
    val a = byStratum("a")
    assert(a.length == 4 && a.map(_._3).sum == 40L,
      s"crossing row included: 4 rows, 40 >= 35 tokens; got $a")
    assert(a.forall(_._4 < 35L), "keep rule is cum_before < budget")
    // kept ids form the PREFIX of the stratum under the md5 total order
    val hashOrder = df.filter(col("stratum") === "a")
      .select(col("id"),
        graft.functions.Portable.md5Long60(col("id").cast("string")).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy { case (id, h) => (h, id) }.map(_._1)
    assert(a.map(_._2).toSet == hashOrder.take(4).toSet,
      "kept rows must be the hash-order prefix")
    // deterministic across runs
    val again = Relational.tokenBudgetSample(df, "stratum", "id", "n",
        Seq("a" -> 35L, "b" -> 1000L))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.sortBy(x => (x._1, x._2)).toSeq == again.sortBy(x => (x._1, x._2)).toSeq)
  }

  test("stratifiedSplit: exact largest-remainder counts, exhaustive, deterministic") {
    val splits = Seq(("train", 900000L), ("val", 50000L), ("test", 50000L))
    // strata sized to exercise every apportionment branch: 1000 divides
    // evenly (900/50/50); 7 forces the remainder rule (floors 6/0/0,
    // shortfall 1 → largest remainder 350000 ties val/test, split order
    // gives it to val); 1 puts its only row in train (remainder .9)
    val df = ((1 to 1000).map(i => ("big", i.toLong)) ++
        (1 to 7).map(i => ("small", 2000L + i)) ++
        Seq(("one", 3000L)))
      .toDF("stratum", "id")
    val out = Relational.stratifiedSplit(df, "stratum", "id", splits)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(out.length == 1008, "every row labeled exactly once")
    def n(s: String, sp: String) = out.count(x => x._1 == s && x._3 == sp)
    assert(n("big", "train") == 900 && n("big", "val") == 50 && n("big", "test") == 50)
    assert(n("small", "train") == 6 && n("small", "val") == 1 && n("small", "test") == 0,
      "shortfall goes to the largest remainder, split order breaking the tie")
    assert(n("one", "train") == 1 && n("one", "val") == 0 && n("one", "test") == 0)
    // deterministic and partitioning-invariant
    val again = Relational.stratifiedSplit(df.repartition(13), "stratum", "id", splits)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(out.sortBy(x => (x._1, x._2)).toSeq == again.sortBy(x => (x._1, x._2)).toSeq)
    // the assignment follows the md5 rank order: the first-ranked 900
    // of 'big' are train, next 50 val, last 50 test
    val rank = df.filter(col("stratum") === "big")
      .select(col("id"), graft.functions.Portable.md5Long60(
        concat(col("id").cast("string"), lit("#split"))).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy { case (id, h) => (h, id) }.map(_._1)
    val byId = out.filter(_._1 == "big").map(x => x._2 -> x._3).toMap
    assert(rank.take(900).forall(byId(_) == "train") &&
      rank.slice(900, 950).forall(byId(_) == "val") &&
      rank.drop(950).forall(byId(_) == "test"))
    intercept[IllegalArgumentException] {
      Relational.stratifiedSplit(df, "stratum", "id", Seq(("train", 999999L)))
    }
  }

  test("shardAssign: content-addressed — stable under repartition and added rows, exhaustive") {
    val docs = (1 to 400).map(i => (i.toLong, s"payload $i", i * 7L))
      .toDF("id", "text", "bytes")
    def assign(df: org.apache.spark.sql.DataFrame): Map[Long, Int] =
      Relational.shardAssign(df, "id", 8).select("id", "shard_id")
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val a1 = assign(docs)
    assert(a1.size == 400 && a1.values.forall(s => s >= 0 && s < 8))
    // uniform-ish: no shard empty, no shard hoarding (md5 over 400 keys)
    val byShard = a1.values.groupBy(identity).view.mapValues(_.size)
    assert(byShard.size == 8 && byShard.values.forall(n => n > 20 && n < 80))
    assert(assign(docs.repartition(11)) == a1, "shard id must be a pure key function")
    val more = docs.unionByName(Seq((9999L, "new", 1L)).toDF("id", "text", "bytes"))
    assert(assign(more).view.filterKeys(_ != 9999L).toMap == a1,
      "adding rows must never move an existing row's shard")
    intercept[IllegalArgumentException] { Relational.shardAssign(docs, "id", 0) }
  }

  test("shardManifest totals reconcile; content_sum flags a substituted key") {
    val docs = (1 to 400).map(i => (i.toLong, s"payload $i", i * 7L))
      .toDF("id", "text", "bytes")
    val m = Relational.shardManifest(docs, "id", "bytes", 8)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toList
    assert(m.map(_._2).sum == 400L, "shard row counts must sum to the input")
    assert(m.map(_._3).sum == (1 to 400).map(_ * 7L).sum, "byte totals must reconcile")
    // substitute one key for another that lands in the same shard: row
    // count and byte total can collide, the content sum must not
    val assigns = Relational.shardAssign(docs, "id", 8).select("id", "shard_id")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val (victim, imposter) = {
      val shard0 = assigns.collect { case (id, 0) => id }.toSeq.sorted
      (shard0.head, shard0.last)
    }
    val swapped = docs.withColumn("id",
      when(col("id") === victim, lit(imposter)).otherwise(col("id")))
    val m2 = Relational.shardManifest(swapped, "id", "bytes", 8)
      .collect().map(r => (r.getInt(0), r.getLong(3))).toMap
    val m1 = m.map(r => (r._1, r._4)).toMap
    assert(m1(0) != m2(0), "content sum must detect a same-shard key substitution")
  }

  test("shardExport: manifest computed from the written files equals the input manifest") {
    val docs = (1 to 300).map(i => (i.toLong, s"payload $i", i * 3L))
      .toDF("id", "text", "bytes")
    val dir = java.nio.file.Files.createTempDirectory("graft-shard-export").toString
    try {
      def rows(df: org.apache.spark.sql.DataFrame): Set[(Int, Long, Long, Long, Long, Long)] =
        df.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toSet
      val fromFiles = rows(Relational.shardExport(docs, "id", "bytes", 4, dir)
        .select("shard_id", "n_rows", "total_bytes", "content_sum", "min_key", "max_key"))
      val fromInput = rows(Relational.shardManifest(docs, "id", "bytes", 4)
        .select("shard_id", "n_rows", "total_bytes", "content_sum", "min_key", "max_key"))
      assert(fromFiles == fromInput,
        "what landed on disk must certify identical to what was submitted")
      // the export is hive-partitioned: one directory per shard
      val shardDirs = new java.io.File(dir).listFiles.filter(_.getName.startsWith("shard_id="))
      assert(shardDirs.length == 4, s"expected 4 shard directories, got ${shardDirs.length}")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("epochShuffle: dense addresses, per-epoch re-shard, growth-stable relative order") {
    import spark.implicits._
    val df = (1L to 200L).toDF("doc_id")
    val out = Relational.epochShuffle(df, "doc_id", epochs = 2, nShards = 4)
      .select("epoch", "shard_id", "pos", "doc_id")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(out.length == 400)
    // each epoch addresses the whole corpus exactly once
    for (e <- 0 to 1)
      assert(out.filter(_._1 == e).map(_._4).sorted.toSeq == (1L to 200L))
    // pos is dense and 0-based within every (epoch, shard)
    for (((_, _), g) <- out.groupBy(t => (t._1, t._2)))
      assert(g.map(_._3).sorted.toSeq == (0L until g.length))
    // re-sharding per epoch is the point: the two epochs must not agree
    val sh0 = out.filter(_._1 == 0).map(t => t._4 -> t._2).toMap
    val sh1 = out.filter(_._1 == 1).map(t => t._4 -> t._2).toMap
    assert((1L to 200L).exists(k => sh0(k) != sh1(k)))
    // determinism contract under corpus growth: on the 100-row prefix
    // corpus, shard ids are identical and surviving rows keep their
    // relative order within every epoch-shard (pos shifts, order doesn't)
    val small = Relational.epochShuffle((1L to 100L).toDF("doc_id"), "doc_id", 2, 4)
      .select("epoch", "shard_id", "pos", "doc_id")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val bigOrder = out.filter(_._4 <= 100L).groupBy(t => (t._1, t._2))
      .map { case (k, g) => k -> g.sortBy(_._3).map(_._4).toSeq }
    val smallOrder = small.groupBy(t => (t._1, t._2))
      .map { case (k, g) => k -> g.sortBy(_._3).map(_._4).toSeq }
    assert(bigOrder == smallOrder)
  }

  test("rebalancedMixture: output token shares land on targets; off-target strata dropped") {
    // three strata with very different masses: a=10x200, b=40x50, c=50x100
    val rows = (1 to 100).map { i =>
      val (st, tk) = if (i <= 10) ("a", 200) else if (i <= 50) ("b", 50) else ("c", 100)
      (i.toLong, st, tk)
    }
    val df = rows.toDF("id", "stratum", "n_tok")
    val out = Relational.rebalancedMixture(df, "stratum", "id", "n_tok",
      Seq("a" -> 0.5, "b" -> 0.5))
    val toks = out.groupBy("stratum").agg(sum(col("n_tok")).as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!toks.contains("c"), "stratum without a target share must be dropped")
    // kept total = 2000 + 2000 = 4000; each target share 0.5 -> expect ~2000
    // tokens per stratum post-rebalance (fractional draw: loose +-25%)
    for (s <- Seq("a", "b"))
      assert(toks(s) > 1500 && toks(s) < 2500, s"stratum $s mass ${toks(s)} far from 2000")
    // determinism + copy structure: every kept id has copies 0..k-1 densely
    val copies = out.select("id", "copy_idx").collect()
      .map(r => (r.getLong(0), r.getInt(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).sorted.toSeq).toMap
    copies.values.foreach(cs => assert(cs == (0 until cs.length)))
    val again = Relational.rebalancedMixture(df.repartition(7), "stratum", "id", "n_tok",
      Seq("a" -> 0.5, "b" -> 0.5)).select("id", "copy_idx").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(again == out.select("id", "copy_idx").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet)
  }

  test("snapshotDiff: classifies added/removed/changed; identical snapshots diff empty") {
    val old = Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30)).toDF("id", "s", "v")
    val neu = Seq((2L, "b", 20), (3L, "c", 99), (4L, "d", 40)).toDF("id", "s", "v")
    val d = Relational.snapshotDiff(old, neu, Seq("id"), Seq("s", "v"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d == Map(1L -> "removed", 3L -> "changed", 4L -> "added"),
      s"got $d — unchanged key 2 must be dropped")
    assert(Relational.snapshotDiff(old, old, Seq("id"), Seq("s", "v")).count() == 0)
    // null payloads fingerprint deterministically (no null-propagated md5)
    val withNull = Seq((1L, null.asInstanceOf[String], 1)).toDF("id", "s", "v")
    val changedNull = Seq((1L, "x", 1)).toDF("id", "s", "v")
    assert(Relational.snapshotDiff(withNull, withNull, Seq("id"), Seq("s", "v")).count() == 0)
    assert(Relational.snapshotDiff(withNull, changedNull, Seq("id"), Seq("s", "v"))
      .head().getString(1) == "changed")
  }

  test("applyChanges: latest-wins merge — upsert/delete/insert/resurrect, untouched pass-through") {
    val snap = Seq((1L, "one"), (2L, "two"), (3L, "three"), (4L, "four"))
      .toDF("id", "v")
    val changes = Seq(
      (2L, "two'", "upsert", 1L),   // update
      (3L, "x", "delete", 1L),      // delete
      (5L, "five", "upsert", 1L),   // insert of a new key
      (4L, "y", "delete", 1L),      // deleted ...
      (4L, "four'", "upsert", 2L),  // ... then resurrected by a later seq
      (2L, "stale", "upsert", 0L)   // earlier seq must lose to seq 1
    ).toDF("id", "v", "op", "seq")
    val out = Relational.applyChanges(snap, changes, Seq("id"), "op", "seq")
    assert(out.columns.toSeq == Seq("id", "v"), "output must be snapshot-shaped")
    val m = out.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m == Map(1L -> "one", 2L -> "two'", 4L -> "four'", 5L -> "five"), s"got $m")
    // a later delete wins over an earlier upsert
    val delLater = Seq((1L, "z", "upsert", 1L), (1L, "z", "delete", 2L))
      .toDF("id", "v", "op", "seq")
    assert(Relational.applyChanges(snap, delLater, Seq("id"), "op", "seq")
      .count() == 3)
    // non-'delete' op strings all upsert (the Debezium c/r/u convention)
    val cOp = Seq((6L, "six", "c", 1L)).toDF("id", "v", "op", "seq")
    assert(Relational.applyChanges(snap, cOp, Seq("id"), "op", "seq").count() == 5)
    // missing payload/op columns fail loudly
    intercept[IllegalArgumentException] {
      Relational.applyChanges(snap, changes.drop("op"), Seq("id"), "op", "seq")
    }
    // applying the NET changelog again is a no-op (idempotent read-side view)
    val net = Relational.latestByKey(changes, Seq("id"), Seq(col("seq")))
    val once = Relational.applyChanges(snap, changes, Seq("id"), "op", "seq")
    val twice = Relational.applyChanges(once, net, Seq("id"), "op", "seq")
    assert(twice.except(once).count() == 0 && once.except(twice).count() == 0)
  }

  test("scd2: version intervals chain, deletes close but emit nothing, resurrect re-opens") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val changes = Seq(
      (1L, "v1", "upsert", 1L, t("2024-01-01 00:00:00")),
      (1L, "v2", "upsert", 2L, t("2024-01-02 00:00:00")),
      (1L, "x", "delete", 3L, t("2024-01-03 00:00:00")),
      (1L, "v3", "upsert", 4L, t("2024-01-04 00:00:00")),
      (2L, "y", "delete", 1L, t("2024-01-01 00:00:00")) // delete-only key: no rows
    ).toDF("id", "v", "op", "seq", "ts")
    val out = Relational.scd2(changes, Seq("id"), "op", "seq", "ts")
    assert(out.columns.toSeq == Seq("id", "v", "ts", "valid_from", "valid_to", "is_current"))
    val rows = out.collect().map(r =>
      r.getString(1) -> ((r.getTimestamp(3), Option(r.getTimestamp(4)), r.getInt(5)))).toMap
    assert(rows.keySet == Set("v1", "v2", "v3"))
    assert(rows("v1") == ((t("2024-01-01 00:00:00"), Some(t("2024-01-02 00:00:00")), 0)))
    assert(rows("v2") == ((t("2024-01-02 00:00:00"), Some(t("2024-01-03 00:00:00")), 0)),
      "the delete must CLOSE v2's interval")
    assert(rows("v3") == ((t("2024-01-04 00:00:00"), None, 1)),
      "the post-delete upsert re-opens an open current version")
  }

  test("rangeJoin: half-open bounds, overlap multi-match, bucket width never changes results") {
    val vals = Seq((10L, 0.0), (11L, 10.0), (12L, 25.0)).toDF("vid", "v")
    val bands = Seq(("A", 0L, 10L), ("B", 5L, 30L), ("C", 25L, 26L))
      .toDF("band", "lo", "hi")
    def run(w: Long) = Relational.rangeJoin(vals, "v", bands, "lo", "hi", w)
      .select("vid", "band").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val expect = Set((10L, "A"), (11L, "B"), (12L, "B"), (12L, "C"))
    assert(run(7L) == expect, s"got ${run(7L)}")
    // lo inclusive (0->A), hi exclusive (10 not in [0,10)), 25 in [25,26)
    for (w <- Seq(1L, 100L)) assert(run(w) == expect, s"width $w changed results")
    intercept[IllegalArgumentException] {
      Relational.rangeJoin(vals, "v", bands, "lo", "hi", 0L)
    }
  }

  test("keySkewProfile: hot ranks by count then key; digit-count histogram reconciles") {
    val rows = Seq.fill(100)(("a", 1)) ++ Seq.fill(10)(("b", 1)) ++ Seq(("c", 1))
    val df = rows.toDF("k", "v")
    val out = Relational.keySkewProfile(df, Seq("k"), topK = 2).collect()
    val hot = out.filter(_.getString(0) == "hot")
      .map(r => r.getInt(1) -> ((r.getString(2), r.getLong(4)))).toMap
    assert(hot == Map(1 -> (("a", 100L)), 2 -> (("b", 10L))), s"got $hot")
    val hist = out.filter(_.getString(0) == "hist")
      .map(r => r.getInt(1) -> ((r.getLong(3), r.getLong(4)))).toMap
    // digits: 100 -> 3, 10 -> 2, 1 -> 1; one key per bucket here
    assert(hist == Map(3 -> ((1L, 100L)), 2 -> ((1L, 10L)), 1 -> ((1L, 1L))), s"got $hist")
    // totals reconcile with the input
    assert(hist.values.map(_._2).sum == rows.size)
    graft.CacheScope.release()
  }

  test("expectationReport: counts, null-predicate = violation, uniqueness row, name clash") {
    val df = Seq((1L, "a", 10), (2L, null.asInstanceOf[String], -5), (2L, "c", 3))
      .toDF("id", "s", "v")
    val out = Relational.expectationReport(df, Seq(
        "s_nonnull" -> col("s").isNotNull,
        "v_positive" -> (col("v") > 0),
        // s > "" is NULL for the null row -> must count as a violation
        "s_nonempty" -> (col("s") > "")),
      uniqueKeys = Seq("id"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getInt(3)))).toMap
    assert(out("s_nonnull") == ((1L, 3L, 0)))
    assert(out("v_positive") == ((1L, 3L, 0)))
    assert(out("s_nonempty") == ((1L, 3L, 0)), "NULL predicate must count as violation")
    assert(out("unique(id)") == ((1L, 3L, 0)), "one duplicated key = one violation row")
    // all-green frame passes everywhere
    val clean = Relational.expectationReport(
      Seq((1L, "x")).toDF("id", "s"), Seq("ok" -> col("s").isNotNull), Seq("id"))
    assert(clean.collect().forall(_.getInt(3) == 1))
    intercept[IllegalArgumentException] {
      Relational.expectationReport(df, Seq("a" -> lit(true), "a" -> lit(false)))
    }
  }

  test("paretoClasses: descending cumulative classes, first key always A, partition-invariant") {
    // totals: a=500, b=300, c=150, d=50 (grand 1000)
    // cumBefore: a=0(A), b=500(A: 50%<70), c=800(B: 80%<90), d=950(C)
    val rows = Seq((10L, 500L), (11L, 300L), (12L, 150L), (13L, 50L))
    def run(df: org.apache.spark.sql.DataFrame) = {
      val r = Relational.paretoClasses(df, "k", "v",
          Seq("A" -> 70, "B" -> 90, "C" -> 100))
        .collect().map(x => x.getLong(0) -> ((x.getLong(2), x.getString(3)))).toMap
      graft.CacheScope.release(); r
    }
    val out = run(rows.toDF("k", "v"))
    assert(out == Map(10L -> ((0L, "A")), 11L -> ((500L, "A")),
      12L -> ((800L, "B")), 13L -> ((950L, "C"))), s"got $out")
    assert(run(rows.toDF("k", "v").repartition(5)) == out)
    // a single dominant key is still class A (cumBefore 0 < any cut)
    val dom = run(Seq((1L, 990L), (2L, 10L)).toDF("k", "v"))
    assert(dom(1L)._2 == "A" && dom(2L)._2 == "C")
  }

  test("paretoClasses: cross-multiplication rides decimal(38,0) — i64-wrapping totals classify right") {
    // totals 3e18/2.5e18/2e18 (grand 7.5e18): cum_before × 100 reaches
    // 5.5e20, far past i64 — a wrapped compare would misclassify
    val rows = Seq((1L, 3000000000000000000L), (2L, 2500000000000000000L),
      (3L, 2000000000000000000L))
    val out = Relational.paretoClasses(rows.toDF("k", "v"), "k", "v",
        Seq("A" -> 70, "B" -> 90, "C" -> 100))
      .collect().map(x => x.getLong(0) -> x.getString(3)).toMap
    graft.CacheScope.release()
    // cuts: 70% of grand = 5.25e18; cum_before 0 / 3e18 / 5.5e18
    assert(out == Map(1L -> "A", 2L -> "A", 3L -> "B"), s"got $out")
  }

  test("rangeJoin: exact integer buckets at 2^60 magnitude (no double round-trip)") {
    val base = 1152921504606846976L // 2^60: doubles here step by 256
    val vals = (0L to 5L).map(i => (i, base + i)).toDF("vid", "v")
    val bands = Seq(("X", base + 1L, base + 4L)).toDF("band", "lo", "hi")
    val out = Relational.rangeJoin(vals, "v", bands, "lo", "hi", 3L)
      .select("vid").collect().map(_.getLong(0)).toSet
    assert(out == Set(1L, 2L, 3L), s"half-open [lo, hi) at 2^60: got $out")
  }

  test("rangeJoin: bucket ids stay exact past 2^53 quotients (decimal floor division)") {
    // quotient ≈ 3.07e18 / 3 ≈ 1.02e18 >> 2^53: a double true-division of
    // the exactly-divisible numerator rounds the QUOTIENT itself, so this
    // magnitude exercises the decimal(38,0) division path end to end
    val base = Long.MaxValue - 1024L
    val vals = (0L to 5L).map(i => (i, base + i)).toDF("vid", "v")
    val bands = Seq(("X", base + 1L, base + 4L)).toDF("band", "lo", "hi")
    val out = Relational.rangeJoin(vals, "v", bands, "lo", "hi", 3L)
      .select("vid").collect().map(_.getLong(0)).toSet
    assert(out == Set(1L, 2L, 3L), s"half-open [lo, hi) near i64 max: got $out")
  }

  test("applyChanges/scd2: NULL op upserts (Debezium convention), never a silent delete") {
    val snap = Seq((1L, "old1"), (2L, "old2")).toDF("id", "text")
    val changes = Seq(
      (1L, "new1", None: Option[String], 1L), // NULL op: carries state -> upsert
      (2L, "gone", Some("delete"), 1L)
    ).toDF("id", "text", "op", "seq")
    val out = Relational.applyChanges(snap, changes, Seq("id"), "op", "seq")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "new1"), s"NULL op must upsert, delete must delete: got $out")
    val hist = Relational.scd2(changes, Seq("id"), "op", "seq", "seq")
      .collect().map(_.getLong(0)).toSet
    assert(hist == Set(1L), "scd2 must keep the NULL-op version and drop the delete")
  }

  test("kAnonymize: every published group >= k, leftover recounting, suppression") {
    // 12×(A,1) pass level 0; 3×(A,2)+2×(A,3) only reach k=5 once the last
    // column is masked; 4×(B,*) spread over distinct values must climb to
    // the segment level; 2×(C,9) can never reach 5 even fully masked
    // together with B? (B:4 + C:2 = 6 at level 2 -> both publish masked)
    val rows =
      Seq.fill(12)(("A", 1)) ++ Seq.fill(3)(("A", 2)) ++ Seq.fill(2)(("A", 3)) ++
        Seq((("B"), 4), ("B", 5), ("B", 6), ("B", 7)) ++ Seq.fill(2)(("C", 9))
    val df = rows.toDF("seg", "sub")
    val out = Relational.kAnonymize(df, Seq("seg", "sub"), k = 5)
    val got = out.collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    // invariant: every published (masked) combination has >= k members
    got.groupBy(t => (t._1, t._2)).foreach { case (g, rs) =>
      assert(rs.length >= 5, s"published group $g has ${rs.length} < k rows") }
    assert(got.count(t => t == (("A", "1", 0))) == 12, "full-detail group keeps level 0")
    assert(got.count(t => t == (("A", "*", 1))) == 5, "A leftovers publish at level 1")
    // B(4) and C(2) only pass once seg is masked too: 6 rows at level 2
    assert(got.count(t => t == (("*", "*", 2))) == 6)
    assert(out.count() == rows.size, "nothing suppressed here: all reach k somewhere")
    // impossible k suppresses everything
    assert(Relational.kAnonymize(df, Seq("seg", "sub"), k = 100).count() == 0)
    graft.CacheScope.release()
  }

  test("fimTransform: prefix++middle++suffix reassembles text; short docs pass through") {
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
    val out = Relational.fimTransform(docs, "doc_id", "text", minChars = 64)
    assert(out.filter(concat(col("prefix"), col("middle"), col("suffix")) =!= col("text"))
      .count() == 0, "PSM reassembly must equal the original text for every doc")
    val short = out.filter(col("fim_applied") === 0)
    assert(short.filter(col("middle") =!= "" || col("fim_text") =!= col("text")).count() == 0)
    assert(out.filter(col("fim_applied") === 1)
      .filter(!col("fim_text").startsWith("<|fim_pre|>")).count() == 0)
    // content-addressed: identical under repartition
    val a = out.select("doc_id", "fim_text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = Relational.fimTransform(docs.repartition(13), "doc_id", "text", minChars = 64)
      .select("doc_id", "fim_text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a == b)
  }
}
