package graft.catalyst

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Extension-loaded session: custom expressions as plain SQL functions +
  * the unit_vec idempotence rule. Extensions bind at session BUILD time,
  * and `getOrCreate` reuses any default session — so the default is
  * cleared first (a new session is built over the shared SparkContext)
  * and restored after; the context itself is never stopped. */
class GraftExtensionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var prevDefault: Option[SparkSession] = None

  private lazy val spark: SparkSession = {
    prevDefault = SparkSession.getDefaultSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config(graft.Engine.LocalFsConf)
      .withExtensions(new GraftExtensions)
      .getOrCreate()
  }

  override def afterAll(): Unit = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    prevDefault.foreach(SparkSession.setDefaultSession)
  }

  test("custom expressions are callable from plain SQL") {
    val row = spark.sql(
      """SELECT
         simhash64(split('the quick brown fox', ' ')) AS sh,
         round(dot_d(unit_vec(array(3.0D, 4.0D)), unit_vec(array(3.0D, 4.0D))), 9) AS self_cos,
         size(shingle_hashes(split('a b c d', ' '), 2)) AS n_shingles,
         size(minhash_sig(shingle_hashes(split('a b c d', ' '), 2), 8)) AS sig_len,
         intersect_count_sorted(array(1L, 5L, 9L), array(5L, 9L, 12L)) AS shared,
         hyperplane_sketch(array(1.0D, -2.0D, 0.5D), 16) AS sketch
       """).collect()(0)
    assert(row.getDouble(1) == 1.0)     // unit vector dotted with itself
    assert(row.getInt(2) == 3)          // 'a b','b c','c d'
    assert(row.getInt(3) == 8)
    assert(row.getInt(4) == 2)          // {5,9}
    // sketch and simhash: deterministic 64-bit values, just type checks
    assert(row.schema("sh").dataType.typeName == "long")
    assert(row.schema("sketch").dataType.typeName == "long")
  }

  test("SQL results match the Column-API expressions") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq("alpha beta gamma delta epsilon").toDF("text")
    val viaSql = df.createOrReplaceTempView("t")
    val sqlHash = spark.sql("SELECT simhash64(split(text, ' ')) FROM t").collect()(0).getLong(0)
    val apiHash = df.select(SimHash64(split(col("text"), " "))).collect()(0).getLong(0)
    assert(sqlHash == apiHash)
  }

  test("text-analysis macros are callable from plain SQL with column-API semantics") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions
    val df = Seq("The quick brown fox jumps over the lazy dog today").toDF("text")
    df.createOrReplaceTempView("tt")
    val viaSql = spark.sql(
      """SELECT token_count(text) AS tc, subword_count(text) AS sw,
         round(quality_score(text), 6) AS q, lang_id(text) AS lang,
         doc_fingerprint(text) AS fp FROM tt""").collect()(0)
    val viaApi = df.select(
      TextFunctions.tokenCount(col("text")).as("tc"),
      TextFunctions.subwordCount(col("text")).as("sw"),
      round(TextFunctions.qualityScore(col("text")), 6).as("q"),
      TextFunctions.langId(col("text")).as("lang"),
      TextFunctions.fingerprint(col("text")).as("fp")).collect()(0)
    assert(viaSql == viaApi)
    assert(viaSql.getAs[String]("lang") == "en")
    // geo macros: London -> Paris great-circle ≈ 343.5 km
    val d = spark.sql(
      "SELECT haversine_m(51.5074D, -0.1278D, 48.8566D, 2.3522D) AS m").collect()(0).getDouble(0)
    assert(math.abs(d - 343500) < 1500, s"got $d")
    val ll = spark.sql("SELECT parse_lat_lon('48.85,2.35') AS p").collect()(0)
      .getStruct(0)
    assert(ll.getDouble(0) == 48.85 && ll.getDouble(1) == 2.35)
  }

  test("table-valued functions expose the workhorse operators to plain SQL") {
    import spark.implicits._
    Seq((1L, "a", 1), (1L, "b", 3), (1L, "c", 2), (2L, "x", 5))
      .toDF("k", "v", "ts").createOrReplaceTempView("updates_t")

    val latest = spark.sql("SELECT k, v FROM latest_by_key('updates_t', 'k', 'ts')")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(latest == Set((1L, "b"), (2L, "x")))

    val top2 = spark.sql("SELECT k, v FROM top_k_per_group('updates_t', 'k', 'ts DESC', 2)")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(top2 == Set((1L, "b"), (1L, "c"), (2L, "x")))

    spark.sql("""CREATE OR REPLACE TEMPORARY VIEW lt AS SELECT * FROM VALUES
      ('k1', timestamp'2024-01-01 00:00:00'),
      ('k2', timestamp'2024-01-01 01:00:00') AS t(lk, lts)""")
    spark.sql("""CREATE OR REPLACE TEMPORARY VIEW rt AS SELECT * FROM VALUES
      ('k1', timestamp'2024-01-01 00:04:00', 'hit'),
      ('k1', timestamp'2024-01-01 00:20:00', 'far'),
      ('k2', timestamp'2024-01-01 00:57:00', 'back') AS t(rk, rts, tag)""")
    val ij = spark.sql(
      "SELECT lk, tag FROM interval_join('lt', 'lts', 'rt', 'rts', 'lk', 'rk', '5 minutes')")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(ij == Set(("k1", "hit"), ("k2", "back")), s"got $ij")

    spark.sql("""CREATE OR REPLACE TEMPORARY VIEW trades_t AS SELECT * FROM VALUES
      ('A', timestamp'2024-01-01 10:00:30', 101.0) AS t(sym, tts, px)""")
    spark.sql("""CREATE OR REPLACE TEMPORARY VIEW quotes_t AS SELECT * FROM VALUES
      ('A', timestamp'2024-01-01 10:00:00', 100.5),
      ('A', timestamp'2024-01-01 10:00:29', 100.7),
      ('A', timestamp'2024-01-01 10:00:31', 100.9) AS t(qsym, qts, bid)""")
    val asof = spark.sql(
      "SELECT _asof.bid FROM asof_join('trades_t', 'quotes_t', 'sym', 'qsym', 'tts', 'qts')")
      .collect().map(_.getDecimal(0).doubleValue).toSeq
    assert(asof == Seq(100.7), s"latest quote at-or-before the trade, got $asof")

    Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma epsilon"), (3L, "unrelated text entirely here"))
      .toDF("doc_id", "text").createOrReplaceTempView("docs_t")
    val nd = spark.sql("SELECT id_a, id_b FROM neardup_pairs('docs_t', 'doc_id', 'text', 2, 0.3)")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(nd == Set((1L, 2L)), s"got $nd")
    val mh = spark.sql("SELECT id_a, id_b FROM minhash_pairs('docs_t', 'doc_id', 'text', 2, 0.3)")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh == Set((1L, 2L)), s"got $mh")
  }

  test("curation TVFs: chunk_tokens, redact_pii, hash_split, quantize_int8 from plain SQL") {
    import spark.implicits._
    Seq((7L, (1 to 50).map(i => s"w$i").mkString(" ") + " mail me x@y.zz"))
      .toDF("doc_id", "text").createOrReplaceTempView("cur_docs_t")
    val chunks = spark.sql("SELECT * FROM chunk_tokens('cur_docs_t', 'doc_id', 'text', 40, 10)")
      .collect()
    // 53 tokens: chunk 0 = 1-40, chunk 1 = 31-53 (23 tokens)
    assert(chunks.length == 2 && chunks.map(_.getInt(2)).sorted.toSeq == Seq(23, 40))
    val red = spark.sql("SELECT * FROM redact_pii('cur_docs_t', 'doc_id', 'text')").collect()(0)
    assert(red.getInt(1) == 1 && red.getString(3).endsWith("mail me [EMAIL]"))
    Seq((1L, "a"), (2L, "b")).toDF("doc_id", "stratum").createOrReplaceTempView("mix_tvf_t")
    val mixed = spark.sql(
      "SELECT doc_id, copy_idx FROM weighted_mixture('mix_tvf_t', 'stratum', 'doc_id', 'a:3')")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(mixed == Set((1L, 0), (1L, 1), (1L, 2)), s"got $mixed")
    val splits = spark.sql(
      "SELECT DISTINCT split FROM hash_split('cur_docs_t', 'text', 'train:80,valid:90,test:100')")
      .collect().map(_.getString(0)).toSet
    assert(splits.subsetOf(Set("train", "valid", "test")) && splits.size == 1)
    Seq((100L, "the quick brown fox jumps over the lazy dog")).toDF("eval_id", "text")
      .createOrReplaceTempView("decon_eval_t")
    Seq((1L, "prefix the quick brown fox jumps over the lazy dog suffix"),
        (2L, "nothing shared at all here"))
      .toDF("doc_id", "text").createOrReplaceTempView("decon_corpus_t")
    val dec = spark.sql("SELECT * FROM decontaminate(" +
      "'decon_corpus_t', 'doc_id', 'text', 'decon_eval_t', 'eval_id', 'text', 3, 3)")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(dec == Set((1L, 100L, 7L)), s"got $dec")

    Seq((1L, 700L), (2L, 700L), (3L, 700L)).toDF("doc_id", "w")
      .createOrReplaceTempView("pack_tvf_t")
    val packs = spark.sql("SELECT * FROM seq_pack('pack_tvf_t', 'doc_id', 'w', 1024)")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(packs == Map(1L -> 0L, 2L -> 0L, 3L -> 1L)) // cum_before 0, 700, 1400
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .createOrReplaceTempView("emb_tvf_t")
    val q = spark.sql("SELECT * FROM quantize_int8('emb_tvf_t', 'vec_id', 'embedding')")
    assert(q.count() == 500 && q.columns.toSeq ==
      Seq("vec_id", "n_dims", "scale", "q_sum", "max_err"))
  }

  test("text-curation TVFs: rep_stats, bm25_search, repeated_spans, boilerplate_coverage") {
    import spark.implicits._
    Seq(
      (1L, "spam spam spam spam click here to win"),
      (2L, "an ordinary sentence with click here to win appended"),
      (3L, "fully unrelated text body nothing shared"))
      .toDF("doc_id", "text").createOrReplaceTempView("rep_docs_t")
    val rep = spark.sql("SELECT * FROM rep_stats('rep_docs_t', 'doc_id', 'text', 2)")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(rep(1L) == 3L, "top bigram of doc 1 is 'spam spam' x3") // 7 bigrams, top 3
    val hits = spark.sql(
      "SELECT * FROM bm25_search('rep_docs_t', 'doc_id', 'text', 'spam,win', 2)")
      .collect().map(_.getLong(0))
    assert(hits.head == 1L, "the spam-heavy doc must rank first")
    assert(hits.toSeq == spark.sql("SELECT * FROM bm25_search('rep_docs_t', 'doc_id', 'text', 'spam,win', 2)")
      .collect().map(_.getLong(0)).toSeq, "deterministic rerun")
    val spans = spark.sql(
      "SELECT * FROM repeated_spans('rep_docs_t', 'doc_id', 'text', 4, 2)")
      .collect().map(_.getString(0)).toSet
    assert(spans == Set("click here to win"))
    val cov = spark.sql(
      "SELECT * FROM boilerplate_coverage('rep_docs_t', 'doc_id', 'text', 4, 2)")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(cov == Map(1L -> 1L, 2L -> 1L, 3L -> 0L))
    val idx = spark.sql(
      "SELECT * FROM inverted_index('rep_docs_t', 'doc_id', 'text', 2, 100)")
      .collect().map(r => r.getString(0) -> r.getString(3)).toMap
    assert(idx("click") == "1:1,2:1" && !idx.contains("unrelated"))
    val prof = spark.sql(
      "SELECT * FROM corpus_profile('rep_docs_t', 'doc_id', 'text')")
      .collect()
    assert(prof.length == 3 && prof.map(_.getLong(1)).sum == 3L) // one doc per stratum
    Seq((1L, "b", "alpha"), (2L, "b", "gamma")).toDF("id", "blk", "nm")
      .createOrReplaceTempView("fz_l_t")
    Seq((9L, "b", "alpho")).toDF("d_id", "d_blk", "d_nm")
      .createOrReplaceTempView("fz_r_t")
    val fz = spark.sql(
      "SELECT id, d_id, edit_dist FROM fuzzy_join('fz_l_t', 'fz_r_t', 'blk', 'd_blk', 'nm', 'd_nm', 1)")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(fz == Set((1L, 9L, 1)))
  }

  test("apply_changes TVF: CDC merge from plain SQL equals the operator") {
    import spark.implicits._
    Seq((1L, "one"), (2L, "two")).toDF("id", "v")
      .createOrReplaceTempView("ac_snap_t")
    Seq((2L, "two'", "upsert", 1L), (1L, "x", "delete", 1L), (3L, "three", "upsert", 1L))
      .toDF("id", "v", "op", "seq").createOrReplaceTempView("ac_chg_t")
    val viaSql = spark.sql(
      "SELECT * FROM apply_changes('ac_snap_t', 'ac_chg_t', 'id', 'op', 'seq')")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(viaSql == Map(2L -> "two'", 3L -> "three"))
  }

  test("triangle_stats TVF: clique triangle from plain SQL") {
    import spark.implicits._
    Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("s", "d")
      .createOrReplaceTempView("tri_tvf_t")
    val out = spark.sql(
      "SELECT node_id, triangles, cc_micro FROM triangle_stats('tri_tvf_t', 's', 'd')")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((1L, 1L, 1000000L), (2L, 1L, 1000000L), (3L, 1L, 1000000L)))
    graft.CacheScope.release()
  }

  test("token_f1_micro scalar + bradley_terry TVFs from plain SQL") {
    import spark.implicits._
    val f1 = spark.sql("SELECT token_f1_micro('the cat sat', 'the cat') AS f")
      .head().getLong(0)
    assert(f1 == 800000L)
    Seq((1L, 2L), (1L, 2L), (1L, 2L), (2L, 1L)).toDF("w", "l")
      .createOrReplaceTempView("bt_tvf_t")
    val bt = spark.sql(
      "SELECT item_id, rating_micro FROM bradley_terry('bt_tvf_t', 'w', 'l', 2)")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bt == Map(1L -> 1500000L, 2L -> 500000L), bt)
    graft.CacheScope.release()
    Seq((1L, 2L, 3L), (2L, 1L, 1L)).toDF("w", "l", "n")
      .createOrReplaceTempView("btw_tvf_t")
    val btw = spark.sql("SELECT item_id, rating_micro FROM " +
      "bradley_terry_weighted('btw_tvf_t', 'w', 'l', 'n', 2)")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(btw == bt, "weighted TVF must equal the exploded log")
    graft.CacheScope.release()
  }

  test("expectations TVF: rules parsed from SQL expressions") {
    import spark.implicits._
    Seq((1L, 5), (2L, -1)).toDF("id", "v").createOrReplaceTempView("exp_tvf_t")
    val out = spark.sql("SELECT rule, n_violations, pass FROM expectations(" +
      "'exp_tvf_t', 'v_pos:v > 0;id_set:id IN (1,2)', 'id')")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    assert(out == Map("v_pos" -> ((1L, 0)), "id_set" -> ((0L, 1)),
      "unique(id)" -> ((0L, 1))))
  }

  test("calibration_curve and key_skew TVFs from plain SQL") {
    import spark.implicits._
    Seq((1L, "a", 5L), (2L, "a", 5L)).toDF("id", "pred", "s")
      .createOrReplaceTempView("cal_s_t")
    Seq((1L, "a"), (2L, "b")).toDF("id", "t").createOrReplaceTempView("cal_t_t")
    val cal = spark.sql("SELECT bin, acc_micro FROM calibration_curve(" +
      "'cal_s_t', 'id', 'pred', 's', 'cal_t_t', 'id', 't', 4)").head()
    assert(cal.getInt(0) == 0 && cal.getLong(1) == 500000L)
    (Seq.fill(10)("a") ++ Seq("b")).map(Tuple1(_)).toDF("k")
      .createOrReplaceTempView("skew_tvf_t")
    val hot = spark.sql(
      "SELECT key, n_rows FROM key_skew('skew_tvf_t', 'k', 1) WHERE kind = 'hot'")
      .head()
    assert(hot.getString(0) == "a" && hot.getLong(1) == 10L)
    graft.CacheScope.release()
  }

  test("scd2 and range_join TVFs from plain SQL") {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    Seq((1L, "v1", "upsert", 1L, t("2024-01-01 00:00:00")),
        (1L, "v2", "upsert", 2L, t("2024-01-02 00:00:00")))
      .toDF("id", "v", "op", "seq", "ts").createOrReplaceTempView("scd_tvf_t")
    val scd = spark.sql(
      "SELECT v, is_current FROM scd2('scd_tvf_t', 'id', 'op', 'seq', 'ts')")
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(scd == Map("v1" -> 0, "v2" -> 1))
    Seq((1L, 7.0)).toDF("vid", "v").createOrReplaceTempView("rj_l_t")
    Seq(("A", 0L, 10L), ("B", 8L, 20L)).toDF("band", "lo", "hi")
      .createOrReplaceTempView("rj_r_t")
    val rj = spark.sql(
      "SELECT band FROM range_join('rj_l_t', 'v', 'rj_r_t', 'lo', 'hi', 5)")
      .collect().map(_.getString(0)).toSet
    assert(rj == Set("A"))
  }

  test("rolling_agg and length_batches TVFs from plain SQL") {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    Seq((1L, t("2024-01-01 00:00:00"), 5L), (1L, t("2024-01-01 00:30:00"), 7L))
      .toDF("user", "ts", "v").createOrReplaceTempView("ra_tvf_t")
    val ra = spark.sql(
      "SELECT roll_sum, roll_cnt FROM rolling_agg('ra_tvf_t', 'user', 'ts', 'v', '1 hour') ORDER BY ts")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(ra == Seq((5L, 1L), (12L, 2L)))
    (1L to 5L).map(i => (i, 100L * i)).toDF("id", "n_tok")
      .createOrReplaceTempView("lb_tvf_t")
    val lb = spark.sql(
      "SELECT id, bucket FROM length_batches('lb_tvf_t', 'id', 'n_tok', '250,450', 2)")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(lb == Map(1L -> 0, 2L -> 0, 3L -> 1, 4L -> 1, 5L -> 2))
  }

  test("event TVFs: sessionize, funnel, retention_cohorts, gap_fill from plain SQL") {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    Seq((1L, 10L, t("2024-01-01 00:00:00"), "a", 4L),
        (1L, 11L, t("2024-01-01 02:00:00"), "b", 8L))
      .toDF("user", "eid", "ts", "ty", "v").createOrReplaceTempView("ev_tvf_t")
    val sess = spark.sql(
      "SELECT eid, session_seq FROM sessionize('ev_tvf_t', 'user', 'ts', '30 minutes', 'eid')")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(sess == Map(10L -> 1, 11L -> 2))
    val fun = spark.sql(
      "SELECT user, furthest_step FROM funnel('ev_tvf_t', 'user', 'ts', 'ty', 'a,b', '')")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(fun == Map(1L -> 2))
    val ret = spark.sql(
      "SELECT period_offset, n_active FROM retention_cohorts('ev_tvf_t', 'user', 'ts', 7)")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ret == Map(0L -> 1L))
    val gf = spark.sql(
      "SELECT observed, interp_micro FROM gap_fill('ev_tvf_t', 'user', 'ts', 'v', '1 hour') ORDER BY slot_ts")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(gf == Seq((1, 4000000L), (0, 6000000L), (1, 8000000L)))
  }

  test("r7 TVFs: normalize_unicode, quota_sample, bm25_batch from plain SQL") {
    import spark.implicits._
    // decomposed e + COMBINING ACUTE must compose, lower, survive the strip
    Seq((1L, "Café X!")).toDF("doc_id", "text")
      .createOrReplaceTempView("uni_tvf_t")
    val norm = spark.sql(
      "SELECT norm_text FROM normalize_unicode('uni_tvf_t', 'text')")
      .as[String].head()
    assert(norm == "café x")
    // quota_sample: 2 per stratum, equal to the Column-API agg path
    val rows = (1L to 50L).map(i => (if (i % 2 == 0) "a" else "b", i))
    rows.toDF("stratum", "id").createOrReplaceTempView("qs_tvf_t")
    val viaSql = spark.sql("SELECT * FROM quota_sample('qs_tvf_t', 'stratum', 'id', 2)")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val viaApi = graft.operators.Relational.quotaSampleByHash(
        rows.toDF("stratum", "id"), "stratum", "id", 2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(viaSql == viaApi && viaSql.size == 4)
    // bm25_batch: terms as a TABLE; identical result to the isin-arm TVF
    Seq(Tuple1("spam"), Tuple1("win")).toDF("term")
      .createOrReplaceTempView("bm_terms_t")
    Seq((1L, "spam spam win"), (2L, "nothing shared"))
      .toDF("doc_id", "text").createOrReplaceTempView("bm_docs_t")
    val batch = spark.sql(
      "SELECT * FROM bm25_batch('bm_docs_t', 'doc_id', 'text', 'bm_terms_t', 'term', 2)")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val isin = spark.sql(
      "SELECT * FROM bm25_search('bm_docs_t', 'doc_id', 'text', 'spam,win', 2)")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(batch == isin && batch.map(_._1) == Seq(1L))
    // dedup_paragraphs: the later copy of a shared paragraph drops
    Seq((1L, "unique a. shared p"), (2L, "shared p. unique b"))
      .toDF("doc_id", "text").createOrReplaceTempView("pd_tvf_t")
    val pd = spark.sql(
      "SELECT * FROM dedup_paragraphs('pd_tvf_t', 'doc_id', 'text')")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(pd == Map(1L -> "unique a. shared p", 2L -> "unique b"))
    // url_blocklist TVF: subdomain caught, lookalike kept
    Seq((1L, "x https://a.bad.com/z"), (2L, "y https://notbad.com/z"))
      .toDF("doc_id", "text").createOrReplaceTempView("ub_tvf_t")
    val ub = spark.sql(
      "SELECT * FROM url_blocklist('ub_tvf_t', 'doc_id', 'text', 'bad.com')")
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(ub == Map(1L -> false, 2L -> true))
    // strip_spans: the shared tail drops, unique bodies survive
    Seq((1L, "u1 a b c d e"), (2L, "u2 a b c d e"), (3L, "u3 only unique here"))
      .toDF("doc_id", "text").createOrReplaceTempView("ss_tvf_t")
    val ss = spark.sql(
      "SELECT * FROM strip_spans('ss_tvf_t', 'doc_id', 'text', 5, 2)")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    graft.CacheScope.release()
    assert(ss == Map(1L -> "u1", 2L -> "u2", 3L -> "u3 only unique here"))
    // lm_score: SQL TVF equals the Column API (α rides as millionths)
    Seq((1L, "a b a b"), (2L, "a b"), (3L, "c"))
      .toDF("doc_id", "text").createOrReplaceTempView("lm_tvf_t")
    val lmSql = spark.sql(
      "SELECT * FROM lm_score('lm_tvf_t', 'doc_id', 'text', 500000, 2000000)")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    val lmApi = graft.operators.TextOps.ngramLmScore(
        Seq((1L, "a b a b"), (2L, "a b"), (3L, "c")).toDF("doc_id", "text"),
        "doc_id", "text", alpha = 0.5, keepMaxMicroPerToken = 2000000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    graft.CacheScope.release()
    assert(lmSql == lmApi && lmSql.size == 3)
  }

  test("token_budget TVF equals the Column API draw; bad entry is a named error") {
    import spark.implicits._
    (1L to 10L).map(i => ("a", i, 10L)).toDF("stratum", "id", "n")
      .createOrReplaceTempView("tb_tvf_t")
    val viaSql = spark.sql(
      "SELECT * FROM token_budget('tb_tvf_t', 'stratum', 'id', 'n', 'a:35')")
      .collect().map(r => (r.getLong(1), r.getLong(3))).toSet
    val viaApi = graft.operators.Relational.tokenBudgetSample(
        spark.table("tb_tvf_t"), "stratum", "id", "n", Seq("a" -> 35L))
      .collect().map(r => (r.getLong(1), r.getLong(3))).toSet
    assert(viaSql == viaApi && viaSql.size == 4)
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM token_budget('tb_tvf_t','stratum','id','n','a:x')").collect()
    }
    assert(e.getMessage.contains("token_budget entry"))
  }

  test("hybrid_search TVF equals the Column API fusion") {
    import spark.implicits._
    Seq((1L, "alpha beta alpha"), (2L, "alpha only here"), (3L, "unrelated text"))
      .toDF("doc_id", "text").createOrReplaceTempView("hy_docs_t")
    Seq((0L, Array(1.0, 0.0)), (1L, Array(0.9, 0.1)),
        (2L, Array(0.0, 1.0)), (3L, Array(0.8, 0.2)))
      .toDF("vec_id", "embedding").createOrReplaceTempView("hy_emb_t")
    val viaSql = spark.sql(
      "SELECT * FROM hybrid_search('hy_docs_t', 'doc_id', 'text', 'alpha,beta', " +
        "'hy_emb_t', 'vec_id', 'embedding', 0, 3, 2)")
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSeq
    val viaApi = graft.operators.Hybrid.hybridSearch(
        spark.table("hy_docs_t"), "doc_id", "text", Seq("alpha", "beta"),
        spark.table("hy_emb_t"), "vec_id", "embedding", 0L, k = 3, kEach = 2)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSeq
    graft.CacheScope.release()
    assert(viaSql == viaApi && viaSql.nonEmpty)
  }

  test("diversity_sample TVF equals the Column API draw") {
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .createOrReplaceTempView("ds_tvf_t")
    val viaSql = spark.sql(
      "SELECT * FROM diversity_sample('ds_tvf_t', 'vec_id', 'embedding', 4, 3)")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    val viaApi = graft.operators.Embeddings.diversitySample(
        spark.table("ds_tvf_t"), "vec_id", "embedding", 4, 3)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(viaSql == viaApi && viaSql.size == 12)
  }

  test("BPE TVFs: bpe_train + bpe_encode compose in plain SQL") {
    import spark.implicits._
    Seq((1L, "low low lower"), (2L, "lowest low"))
      .toDF("doc_id", "text").createOrReplaceTempView("bpe_tvf_t")
    spark.sql("SELECT * FROM bpe_train('bpe_tvf_t', 'text', 5)")
      .createOrReplaceTempView("bpe_merges_t")
    assert(spark.table("bpe_merges_t").columns.toSeq ==
      Seq("rank", "left", "right", "pair_count"))
    val enc = spark.sql(
      "SELECT * FROM bpe_encode('bpe_tvf_t', 'doc_id', 'text', 'bpe_merges_t')")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(enc(1L)._1 == 3L && enc(2L)._1 == 2L)
    assert(enc.values.forall { case (nw, ns) => ns >= nw })
  }

  test("governance TVFs: source_overlap exact + estimate from plain SQL") {
    import spark.implicits._
    Seq(("A", (1 to 61).map(i => s"t$i").mkString(" ")),
        ("B", (31 to 91).map(i => s"t$i").mkString(" ")))
      .toDF("src", "text").createOrReplaceTempView("so_tvf_t")
    val ex = spark.sql("SELECT * FROM source_overlap('so_tvf_t', 'src', 'text', 2)")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(4))).toSeq
    graft.CacheScope.release()
    assert(ex == Seq(("A", "B", 30L)))
    val est = spark.sql(
      "SELECT * FROM source_overlap_est('so_tvf_t', 'src', 'text', 2, 512)")
      .collect().map(_.getDouble(2))
    assert(est.length == 1 && math.abs(est.head - 1.0 / 3) < 0.085)
  }

  test("ANN family TVFs: similarity search from plain SQL, identical to the Column API") {
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .createOrReplaceTempView("ann_corpus_t")
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW ann_queries_t AS " +
      "SELECT * FROM ann_corpus_t WHERE vec_id % 100 = 0")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet

    val bruteSql = spark.sql(
      "SELECT * FROM ann_brute('ann_corpus_t', 'ann_queries_t', 'vec_id', 'embedding', 5)")
    assert(bruteSql.columns.toSeq == Seq("query_id", "neighbor_id", "sim", "rank"))
    val viaApi = graft.operators.Similarity.bruteForceTopK(
      spark.table("ann_corpus_t"), spark.table("ann_queries_t"), "vec_id", "embedding", 5)
    assert(pairs(bruteSql) == pairs(viaApi),
      "SQL surface must produce the Column API's exact neighbor set")
    // plan identity, not just result identity: the partial top-k pushdown
    // survives the TVF expansion
    assert(bruteSql.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      .contains("WindowGroupLimit"),
      "ann_brute via SQL must keep the rank-pushdown plan shape")
    val brute = pairs(bruteSql)

    def recallOf(sql: String): Double =
      (pairs(spark.sql(sql)) & brute).size.toDouble / brute.size
    val lsh = recallOf(
      "SELECT * FROM ann_lsh('ann_corpus_t', 'ann_queries_t', 'vec_id', 'embedding', 5, 16, 16)")
    val ivf = recallOf(
      "SELECT * FROM ann_ivf('ann_corpus_t', 'ann_queries_t', 'vec_id', 'embedding', 5, 16, 16)")
    val pq = recallOf(
      "SELECT * FROM ann_pq('ann_corpus_t', 'ann_queries_t', 'vec_id', 'embedding', 5, 8, 32, 100)")
    val ivfpq = recallOf("SELECT * FROM ann_ivfpq('ann_corpus_t', 'ann_queries_t', " +
      "'vec_id', 'embedding', 5, 16, 8, 32, 16, 100)")
    info(f"SQL ANN recall@5 vs brute: lsh $lsh%.2f, ivf $ivf%.2f, pq $pq%.2f, ivfpq $ivfpq%.2f")
    // 1-bit bands / nprobe=nlist are exhaustive by construction; the PQ
    // pair sit at their spec-measured floors
    assert(lsh == 1.0 && ivf == 1.0, s"exhaustive knobs must reach recall 1.0: lsh=$lsh ivf=$ivf")
    assert(pq >= 0.9 && ivfpq >= 0.9, s"two-stage PQ floors (spec: 0.96): pq=$pq ivfpq=$ivfpq")

    // the near-dup side of the embedding surface: the auto dispatcher
    // from SQL equals the exact operator's pair set
    val ndSql = spark.sql(
      "SELECT * FROM embed_neardup('ann_corpus_t', 'vec_id', 'embedding', 0.45)")
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ndApi = graft.operators.Similarity.cosineNearDupPairs(
      spark.table("ann_corpus_t"), "vec_id", "embedding", 0.45)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ndSql == ndApi && ndSql.nonEmpty, s"embed_neardup via SQL: $ndSql vs $ndApi")
  }

  test("latest_by_key rejects a DESC ordering entry with a pointer to top_k_per_group") {
    import spark.implicits._
    Seq((1L, "a", 1)).toDF("k", "v", "ts").createOrReplaceTempView("updates_desc_t")
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM latest_by_key('updates_desc_t', 'k', 'ts DESC')").collect()
    }
    assert(e.getMessage.contains("top_k_per_group"),
      s"expected a guided rejection, got: ${e.getMessage}")
  }

  test("TVF output plan is the operator's plan: latest_by_key stays a max_by agg, no window") {
    import spark.implicits._
    Seq((1L, "a", 1)).toDF("k", "v", "ts").createOrReplaceTempView("updates_plan_t")
    val p = spark.sql("SELECT * FROM latest_by_key('updates_plan_t', 'k', 'ts')")
      .queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("max_by"), "SQL surface must reuse the operator's map-side-combinable agg")
    assert(!p.contains("Window"), "latest-by-key must not degrade to a window sort via SQL")
  }

  test("optimizer collapses unit_vec(unit_vec(x)) on non-foldable columns") {
    // literal inputs constant-fold regardless of the rule; a parquet-backed
    // column is the case only UnitVecIdempotence can simplify
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .createOrReplaceTempView("emb_ext")
    val df = spark.sql(
      """SELECT round(dot_d(unit_vec(unit_vec(embedding)), unit_vec(embedding)), 6) AS c
         FROM emb_ext LIMIT 3""")
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("unit_vec(unit_vec"),
      s"idempotence rule did not fire:\n$optimized")
    assert(optimized.contains("unit_vec("), "single normalization must remain")
    assert(df.collect().forall(_.getDouble(0) == 1.0)) // self-cosine of a unit vector
  }

  test("AvroProjectionPruning narrows the reader schema to accessed fields") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.formats.{AvroDecodeWire, AvroFunctions}
    import graft.registry.SchemaRegistry
    val reg = new SchemaRegistry
    val v = reg.register("wide-value",
      """{"type":"record","name":"wide","fields":[
        |{"name":"a","type":"long"},{"name":"b","type":"string"},{"name":"c","type":"double"}]}"""
        .stripMargin)
    val encoded = Seq((1L, "x", 0.5), (2L, "y", 1.5)).toDF("a", "b", "c")
      .select(AvroFunctions.toAvroWire(struct(col("a"), col("b"), col("c")), v).as("payload"))
    encoded.write.mode("overwrite").parquet("/tmp/graft-ext-prune")
    val src = spark.read.parquet("/tmp/graft-ext-prune")

    def decodeWires(df: org.apache.spark.sql.DataFrame): Seq[AvroDecodeWire] =
      df.queryExecution.optimizedPlan.expressions
        .flatMap(_.collect { case d: AvroDecodeWire => d })

    // one-field access → reader pruned to 1 field, value unchanged
    val one = src.select(
      AvroFunctions.fromAvroWire(col("payload"), reg.schemasById,
        reg.latest("wide-value").get.schemaJson).getField("c").as("c"))
    assert(decodeWires(one).exists(_.dataType.asInstanceOf[org.apache.spark.sql.types.StructType].length == 1),
      one.queryExecution.optimizedPlan.toString)
    assert(one.orderBy("c").as[Double].collect().toSeq == Seq(0.5, 1.5))

    // bare struct reference → pruning must NOT fire
    val whole = src.select(
      AvroFunctions.fromAvroWire(col("payload"), reg.schemasById,
        reg.latest("wide-value").get.schemaJson).as("rec"))
    assert(decodeWires(whole).forall(_.dataType.asInstanceOf[org.apache.spark.sql.types.StructType].length == 3))
    assert(whole.select("rec.b").as[String].collect().sorted.toSeq == Seq("x", "y"))
  }

  test("selection TVFs: stratified_split, tfidf_keywords, dsir_select from plain SQL") {
    import spark.implicits._
    // stratified_split: exact 6/1/0 on a 7-row stratum (largest remainder)
    (1 to 7).map(i => ("s", i.toLong)).toDF("stratum", "id")
      .createOrReplaceTempView("sp_tvf_t")
    val sp = spark.sql("SELECT * FROM stratified_split('sp_tvf_t', 'stratum', 'id', " +
        "'train:900000,val:50000,test:50000')")
      .collect().map(r => r.getString(2))
    assert(sp.count(_ == "train") == 6 && sp.count(_ == "val") == 1 &&
      sp.count(_ == "test") == 0)
    // tfidf_keywords: SQL TVF equals the Column API
    val kwDocs = Seq((1L, "apple banana apple"), (2L, "banana cherry"))
    kwDocs.toDF("doc_id", "text").createOrReplaceTempView("kw_tvf_t")
    val kwSql = spark.sql(
      "SELECT * FROM tfidf_keywords('kw_tvf_t', 'doc_id', 'text', 2)")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(4))).toSet
    val kwApi = graft.operators.TextOps.tfidfKeywords(
        kwDocs.toDF("doc_id", "text"), "doc_id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(4))).toSet
    graft.CacheScope.release()
    assert(kwSql == kwApi && kwSql.nonEmpty)
    // dsir_select: the target-affine doc wins from plain SQL too
    Seq((1L, "zebra quagga zebra"), (2L, "apple banana cherry"))
      .toDF("doc_id", "text").createOrReplaceTempView("dsir_raw_t")
    Seq((9L, "zebra quagga stripes")).toDF("doc_id", "text")
      .createOrReplaceTempView("dsir_tgt_t")
    val ds = spark.sql("SELECT * FROM dsir_select('dsir_raw_t', 'dsir_tgt_t', " +
        "'doc_id', 'text', 64, 1)")
      .collect().map(_.getLong(0))
    graft.CacheScope.release()
    assert(ds.toSeq == Seq(1L))
  }

  test("audit/export TVFs: knn_graph, source_drift, nb_classify, shard_manifest from plain SQL") {
    import spark.implicits._
    // knn_graph: SQL TVF equals the Column API on a tiny table
    val emb = (0 until 12).map(i =>
      (i.toLong, Array.tabulate(8)(j => math.sin(i * 3 + j).toFloat)))
      .toDF("vec_id", "embedding")
    emb.createOrReplaceTempView("knn_tvf_t")
    val gSql = spark.sql("SELECT * FROM knn_graph('knn_tvf_t', 'vec_id', 'embedding', 2)")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val gApi = graft.operators.Similarity.knnGraph(emb, "vec_id", "embedding", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(gSql == gApi && gSql.nonEmpty)
    // source_drift: single group -> exactly zero drift
    Seq(("only", "a b c"), ("only", "a b")).toDF("source", "text")
      .createOrReplaceTempView("drift_tvf_t")
    val dr = spark.sql("SELECT * FROM source_drift('drift_tvf_t', 'source', 'text', 64)")
      .collect().map(r => (r.getLong(2), r.getLong(3)))
    graft.CacheScope.release()
    assert(dr.toSeq == Seq((0L, 0L)))
    // nb_classify: disjoint vocab recovered from SQL
    Seq((1L, "apple fruit", "food"), (2L, "piston torque", "cars"))
      .toDF("id", "text", "label").createOrReplaceTempView("nb_train_t")
    Seq((9L, "apple apple")).toDF("id", "text").createOrReplaceTempView("nb_score_t")
    val nb = spark.sql(
      "SELECT * FROM nb_classify('nb_train_t', 'nb_score_t', 'id', 'text', 'label')")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(nb.toSeq == Seq((9L, "food")))
    // shard_manifest: totals reconcile from SQL
    (1 to 40).map(i => (i.toLong, i * 2L)).toDF("id", "bytes")
      .createOrReplaceTempView("shard_tvf_t")
    val sm = spark.sql("SELECT * FROM shard_manifest('shard_tvf_t', 'id', 'bytes', 4)")
      .collect()
    assert(sm.map(_.getLong(1)).sum == 40L && sm.map(_.getLong(2)).sum == (1 to 40).map(_ * 2L).sum)
    // winnow_pairs: the planted lifted passage surfaces from SQL
    Seq((1L, "alpha beta gamma the quick brown fox jumps high delta epsilon zeta"),
        (2L, "one two three the quick brown fox jumps high four five six seven"))
      .toDF("doc_id", "text").createOrReplaceTempView("winnow_tvf_t")
    val wp = spark.sql(
      "SELECT * FROM winnow_pairs('winnow_tvf_t', 'doc_id', 'text', 3, 4, 1)")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    graft.CacheScope.release()
    assert(wp.toSeq == Seq((1L, 2L)))
  }

  test("graph/privacy/FIM TVFs: pagerank, label_prop, snapshot_diff, k_anonymize, fim from plain SQL") {
    import spark.implicits._
    Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L)).toDF("s", "d")
      .createOrReplaceTempView("pr_tvf_t")
    val pr = spark.sql("SELECT * FROM pagerank('pr_tvf_t', 's', 'd', 1)")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.CacheScope.release()
    assert(pr == Map(1L -> 1000000L, 2L -> 575000L, 3L -> 1425000L))
    Seq((10L, 11L), (10L, 12L)).toDF("s", "d").createOrReplaceTempView("lp_e_t")
    Seq((11L, 2), (12L, 1)).toDF("id", "lbl").createOrReplaceTempView("lp_s_t")
    val lp = spark.sql(
      "SELECT * FROM label_prop('lp_e_t', 's', 'd', 'lp_s_t', 'id', 'lbl', 1)")
      .filter($"node_id" === 10L).head()
    graft.CacheScope.release()
    assert(lp.getInt(1) == 1, "tie breaks to the smallest label via SQL too")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").createOrReplaceTempView("sd_old_t")
    Seq((2L, "c"), (3L, "d")).toDF("id", "v").createOrReplaceTempView("sd_new_t")
    val sd = spark.sql("SELECT * FROM snapshot_diff('sd_old_t', 'sd_new_t', 'id', 'v')")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sd == Map(1L -> "removed", 2L -> "changed", 3L -> "added"))
    (1 to 6).map(i => ("A", 1)).toDF("seg", "sub").createOrReplaceTempView("ka_tvf_t")
    val ka = spark.sql("SELECT * FROM k_anonymize('ka_tvf_t', 'seg, sub', 5)").collect()
    graft.CacheScope.release()
    assert(ka.length == 6 && ka.forall(_.getInt(2) == 0))
    Seq((1L, "x" * 100)).toDF("doc_id", "text").createOrReplaceTempView("fim_tvf_t")
    val fim = spark.sql("SELECT * FROM fim('fim_tvf_t', 'doc_id', 'text', 16)").head()
    assert(fim.getAs[String]("prefix") + fim.getAs[String]("middle") +
      fim.getAs[String]("suffix") == "x" * 100)
    Seq((1L, "a b a"), (2L, "a b")).toDF("doc_id", "text")
      .createOrReplaceTempView("rg_docs_t")
    Seq((1L, 2L)).toDF("id_a", "id_b").createOrReplaceTempView("rg_pairs_t")
    val rg = spark.sql(
      "SELECT * FROM rouge('rg_docs_t', 'doc_id', 'text', 'rg_pairs_t', 'id_a', 'id_b')")
      .head()
    graft.CacheScope.release()
    // clipped unigrams: a:1+? cand {a:2,b:1} ref {a:1,b:1} -> m=2; p=2/3, r=2/2
    assert(rg.getAs[Long]("rouge1_p_micro") == 666666L &&
      rg.getAs[Long]("rouge1_r_micro") == 1000000L)
    // span_corrupt + rebalance_mixture from plain SQL equal the Column API
    graft.Tables.documents(spark, "/root/testdata/sf0.001").select("doc_id", "text").limit(50)
      .createOrReplaceTempView("sc_tvf_t")
    val scSql = spark.sql("SELECT * FROM span_corrupt('sc_tvf_t', 'doc_id', 'text', 15, 3)")
      .collect().map(r => r.getLong(0) -> r.getAs[String]("corrupted")).toMap
    val scApi = graft.operators.TextOps.spanCorrupt(
        spark.table("sc_tvf_t"), "doc_id", "text", 15, 3)
      .collect().map(r => r.getLong(0) -> r.getAs[String]("corrupted")).toMap
    assert(scSql == scApi && scSql.nonEmpty)
    Seq((1L, "a", 100), (2L, "b", 300)).toDF("id", "st", "tk")
      .createOrReplaceTempView("rb_tvf_t")
    val rb = spark.sql(
      "SELECT * FROM rebalance_mixture('rb_tvf_t', 'st', 'id', 'tk', 'a:500000,b:500000')")
      .groupBy("st").agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.col("tk")).as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // a gets weight 0.5*400/100=2.0 -> 2 copies x100 = 200; b 0.5*400/300=0.67
    assert(rb("a") == 200L && rb.getOrElse("b", 0L) <= 300L)
  }

  test("graft_functions() lists the whole TVF surface, including itself") {
    val fns = spark.sql("SELECT function FROM graft_functions()")
      .collect().map(_.getString(0)).toSet
    assert(fns.contains("graft_functions") && fns.contains("latest_by_key") &&
      fns.contains("knn_graph") && fns.contains("winnow_pairs"))
    assert(fns.size >= 30, s"expected the full TVF surface, got ${fns.size}")
    // every row carries a usage string that names its own function
    val rows = spark.sql("SELECT function, usage FROM graft_functions()").collect()
    assert(rows.forall(r => r.getString(1).startsWith(r.getString(0) + "(")))
  }

  test("web-curation + chat TVFs equal their Column APIs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat here fine.\n- bullet\nwait now..."),
      (2L, "enable javascript now.\nlorem ipsum text"),
      (3L, "a good prose line stays right here.\nanother fine line is kept too.\nthird keeper line sits here fine."))
      .toDF("doc_id", "text")
    docs.createOrReplaceTempView("wc_tvf_t")
    val gSql = spark.sql("SELECT * FROM gopher_rules('wc_tvf_t', 'doc_id', 'text')")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(r.length - 1))).toSet
    val gApi = graft.operators.WebCuration.gopherRules(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(r.length - 1))).toSet
    assert(gSql == gApi && gSql.size == 3)
    val cSql = spark.sql("SELECT * FROM c4_clean('wc_tvf_t', 'doc_id', 'text', 5, 3)")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(4))).toSet
    val cApi = graft.operators.WebCuration.c4Clean(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(4))).toSet
    assert(cSql == cApi && cSql.map(_._1).size == 3)
    docs.withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .createOrReplaceTempView("pb_tvf_t")
    val pSql = spark.sql(
      "SELECT * FROM perplexity_buckets('pb_tvf_t', 'doc_id', 'text', 'lang')")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("bucket"))).toSet
    val pApi = graft.operators.WebCuration.perplexityBuckets(
        spark.table("pb_tvf_t"), "doc_id", "text", "lang")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("bucket"))).toSet
    graft.CacheScope.release()
    assert(pSql == pApi && pSql.size == 3)
    Seq((1L, 1L, "user", "hi"), (1L, 2L, "assistant", "yo"))
      .toDF("conv", "ord", "role", "content").createOrReplaceTempView("cr_tvf_t")
    val crSql = spark.sql(
      "SELECT * FROM chat_render('cr_tvf_t', 'conv', 'ord', 'role', 'content')")
      .collect().map(r => (r.getAs[Long]("conv"), r.getAs[String]("rendered"),
        r.getAs[Int]("valid"))).toSet
    assert(crSql == Set((1L, "<|user|>hi<|end|><|assistant|>yo<|end|>", 1)))
    val lmSpans = spark.sql(
      "SELECT * FROM loss_mask_spans('cr_tvf_t', 'conv', 'ord', 'role', 'content')")
      .collect().map(r => (r.getAs[Long]("span_start"), r.getAs[Long]("span_end"))).toSet
    // rendered = <|user|>hi<|end|><|assistant|>yo<|end|> ; 'yo' at [30, 32)
    assert(lmSpans == Set((30L, 32L)), lmSpans)
    Seq((1L, 1L, 5L), (1L, 2L, 9L), (2L, 3L, 4L), (2L, 4L, 4L))
      .toDF("prompt", "cand", "score").createOrReplaceTempView("pp_tvf_t")
    val pp = spark.sql(
      "SELECT * FROM preference_pairs('pp_tvf_t', 'prompt', 'cand', 'score', 1)")
      .collect().map(r => (r.getAs[Long]("prompt"), r.getAs[Long]("chosen_id"),
        r.getAs[Long]("rejected_id"))).toSet
    assert(pp == Set((1L, 2L, 1L)), pp)
  }

  test("bad literal args to SQL builders produce named errors") {
    val e = intercept[Exception] {
      spark.sql("SELECT shingle_hashes(split('a b',' '), 1 + 2) AS x").collect()
    }
    // constant-folded 1+2 IS a literal by analysis time — that succeeds; a
    // truly non-literal arg must fail with the builder's message
    val e2 = intercept[Exception] {
      spark.sql("SELECT shingle_hashes(split(text,' '), length(text)) FROM VALUES ('ab') AS t(text)").collect()
    }
    assert(e2.getMessage.contains("integer literal") || e2.getMessage.contains("n must be"))
    val _ = e
  }

  test("metrics TVFs (roc_auc, ks, cohen_kappa, retrieval_metrics) from plain SQL") {
    import spark.implicits._
    Seq((1, false), (2, false), (3, true), (4, true)).toDF("s", "y")
      .createOrReplaceTempView("auc_tvf_t")
    val auc = spark.sql(
      "SELECT auc_micro FROM roc_auc('auc_tvf_t', 's', 'y')").head().getLong(0)
    assert(auc == 1000000L)
    Seq((1, true), (2, true), (10, false), (11, false)).toDF("v", "a")
      .createOrReplaceTempView("ks_tvf_t")
    val ks = spark.sql(
      "SELECT d_micro FROM ks_two_sample('ks_tvf_t', 'v', 'a')").head().getLong(0)
    assert(ks == 1000000L)
    graft.CacheScope.release()
    Seq((1, 2L, 0L), (2, 0L, 2L)).toDF("v", "ca", "cb")
      .createOrReplaceTempView("ksc_tvf_t")
    val ksc = spark.sql(
      "SELECT d_micro FROM ks_from_counts('ksc_tvf_t', 'v', 'ca', 'cb')")
      .head().getLong(0)
    assert(ksc == 1000000L)
    graft.CacheScope.release()
    Seq(("y", "y"), ("y", "n"), ("n", "y"), ("n", "n")).toDF("a", "b")
      .createOrReplaceTempView("kap_tvf_t")
    val kap = spark.sql(
      "SELECT kappa_micro FROM cohen_kappa('kap_tvf_t', 'a', 'b')").head().getLong(0)
    assert(kap == 0L, "independent balanced raters are exactly chance")
    graft.CacheScope.release()
    Seq(("q", "d1", 2, 1L), ("q", "d2", 1, 0L)).toDF("q", "d", "score", "r")
      .createOrReplaceTempView("rm_tvf_t")
    val rm = spark.sql("SELECT mrr_micro, ndcg_micro FROM retrieval_metrics(" +
      "'rm_tvf_t', 'q', 'r', 'score', 'd', 2)").head()
    assert(rm.getLong(0) == 1000000L && rm.getLong(1) == 1000000L)
  }

  test("chi_square and privacy TVFs from plain SQL") {
    import spark.implicits._
    (Seq.fill(5)(("x", "p")) ++ Seq.fill(5)(("y", "q"))).toDF("a", "b")
      .createOrReplaceTempView("chi_tvf_t")
    val chi = spark.sql(
      "SELECT chi2_micro, cramers_v2_micro FROM chi_square('chi_tvf_t', 'a', 'b')")
      .head()
    assert(chi.getLong(0) == 10000000L && chi.getLong(1) == 1000000L)
    graft.CacheScope.release()
    Seq(("x", "p", 5L), ("y", "q", 5L)).toDF("a", "b", "n")
      .createOrReplaceTempView("chic_tvf_t")
    val chic = spark.sql("SELECT chi2_micro FROM chi_square_from_counts(" +
      "'chic_tvf_t', 'a', 'b', 'n')").head().getLong(0)
    assert(chic == 10000000L, "weighted form agrees with exploded rows")
    graft.CacheScope.release()
    Seq(("A", "x"), ("A", "y"), ("B", "w"), ("B", "w")).toDF("q", "v")
      .createOrReplaceTempView("ldiv_tvf_t")
    val ld = spark.sql("SELECT q, distinct_l_ok FROM l_diversity(" +
      "'ldiv_tvf_t', 'q', 'v', 2, 1)").collect()
      .map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(ld == Map("A" -> true, "B" -> false))
    Seq(("A", 1L), ("A", 2L), ("B", 1L), ("B", 2L)).toDF("q", "v")
      .createOrReplaceTempView("tc_tvf_t")
    val tcr = spark.sql("SELECT t_micro FROM t_closeness('tc_tvf_t', 'q', 'v')")
      .collect().map(_.getLong(0))
    assert(tcr.forall(_ == 0L), "population-mirroring classes score 0")
    graft.CacheScope.release()
  }

  test("concentration_profile and js_divergence TVFs from plain SQL") {
    import spark.implicits._
    (Seq(("hog", 1000L)) ++ (1 to 9).map(i => (s"z$i", 0L))).toDF("k", "w")
      .createOrReplaceTempView("conc_tvf_t")
    val cp = spark.sql("SELECT gini_micro, hhi_micro FROM " +
      "concentration_profile('conc_tvf_t', 'k', 'w')").head()
    assert(cp.getLong(0) == 900000L && cp.getLong(1) == 1000000L)
    graft.CacheScope.release()
    Seq(("x", true), ("y", true), ("x", false), ("y", false)).toDF("v", "a")
      .createOrReplaceTempView("jsd_tvf_t")
    assert(spark.sql("SELECT jsd_micro FROM js_divergence('jsd_tvf_t', 'v', 'a')")
      .head().getLong(0) == 0L)
    graft.CacheScope.release()
    Seq(("x", 2L, 2L), ("y", 1L, 1L)).toDF("v", "ca", "cb")
      .createOrReplaceTempView("jsdc_tvf_t")
    assert(spark.sql("SELECT jsd_micro FROM jsd_from_counts(" +
      "'jsdc_tvf_t', 'v', 'ca', 'cb')").head().getLong(0) == 0L)
    graft.CacheScope.release()
    Seq(("a", "a"), ("b", "a")).toDF("y", "p")
      .createOrReplaceTempView("cr_tvf_t")
    val cr = spark.sql("SELECT class, f1_micro FROM classification_report(" +
      "'cr_tvf_t', 'y', 'p')").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(cr == Map("a" -> 666666L, "b" -> 0L))
    graft.CacheScope.release()
    Seq(("A", true, true), ("A", false, false), ("B", true, false), ("B", false, true))
      .toDF("g", "y", "p").createOrReplaceTempView("fair_tvf_t")
    val fr = spark.sql("SELECT g, tpr_micro FROM fairness_report(" +
      "'fair_tvf_t', 'g', 'y', 'p')").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fr == Map("A" -> 1000000L, "B" -> 0L))
    graft.CacheScope.release()
    Seq((true, false), (true, false), (false, true), (true, true)).toDF("a", "b")
      .createOrReplaceTempView("mcn_tvf_t")
    assert(spark.sql("SELECT chi2_micro FROM mcnemar('mcn_tvf_t', 'a', 'b')")
      .head().getLong(0) == 333333L) // (2-1)^2/3
    Seq((4, true), (3, true), (2, false), (1, false)).toDF("s", "y")
      .createOrReplaceTempView("ap_tvf_t")
    assert(spark.sql("SELECT ap_micro FROM average_precision('ap_tvf_t', 's', 'y')")
      .head().getLong(0) == 1000000L)
    graft.CacheScope.release()
    Seq((1000000L, true), (0L, false)).toDF("p", "y")
      .createOrReplaceTempView("brier_tvf_t")
    val sc = spark.sql("SELECT brier_micro, ece_micro FROM prob_scorecard(" +
      "'brier_tvf_t', 'p', 'y', 10)").head()
    assert(sc.getLong(0) == 0L && sc.getLong(1) == 0L)
    Seq(("x", true), ("y", true), ("x", false), ("y", false)).toDF("v", "a")
      .createOrReplaceTempView("psi_tvf_t")
    assert(spark.sql("SELECT psi_micro FROM psi('psi_tvf_t', 'v', 'a')")
      .head().getLong(0) == 0L)
    graft.CacheScope.release()
    Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("w", "l")
      .createOrReplaceTempView("cyc_tvf_t")
    val cyc = spark.sql(
      "SELECT item_a, item_b, item_c FROM preference_cycles('cyc_tvf_t', 'w', 'l')")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(cyc.toSeq == Seq((1L, 2L, 3L)))
    graft.CacheScope.release()
  }
}
