package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class SqlProcessorsSpec extends SparkSpec {
  import spark.implicits._
  private implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  test("browse: bounded SQL over registered static views") {
    val pipes = new Pipelines(Files.createTempDirectory("sqlp-ck").toString)
    val procs = new SqlProcessors(spark, pipes)
    procs.registerSource("customers_v",
      Seq((1L, "GOLD"), (2L, "SILVER"), (3L, "GOLD")).toDF("id", "tier"))
    val out = procs.browse(
      "SELECT tier, count(*) AS n FROM customers_v GROUP BY tier ORDER BY tier")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out == Seq(("GOLD", 2L), ("SILVER", 1L)))
  }

  test("submit: INSERT INTO … SELECT over a stream view runs continuously") {
    val pipes = new Pipelines(Files.createTempDirectory("sqlp-ck2").toString)
    val procs = new SqlProcessors(spark, pipes)
    val in = MemoryStream[(Timestamp, String, Double)]
    procs.registerSource("clicks_stream", in.toDF().toDF("ts", "page", "v"))
    procs.registerSource("pages_dim", Seq(("home", "H"), ("cart", "C")).toDF("page", "code"))

    procs.submit("clicks_enriched",
      """INSERT INTO clicks_out
         SELECT c.page, d.code, c.v FROM clicks_stream c
         LEFT JOIN pages_dim d ON c.page = d.page""")
    try {
      in.addData(
        (Timestamp.valueOf("2024-01-01 00:00:00"), "home", 1.0),
        (Timestamp.valueOf("2024-01-01 00:00:01"), "search", 2.0))
      pipes.awaitDrained("clicks_enriched")
      val rows = spark.table("clicks_out").collect()
        .map(r => (r.getString(0), Option(r.getString(1)).getOrElse("-"), r.getDouble(2))).toSet
      assert(rows == Set(("home", "H", 1.0), ("search", "-", 2.0)))
      assert(pipes.list.exists(p => p.name == "clicks_enriched" && p.isActive))
    } finally pipes.stopAll()
  }

  test("pure-SQL continuous pipeline through the operator TVFs: interval_join -> latest_by_key") {
    // A plain-SQL user's pipeline: enrich a stream against a static
    // calibration table with the interval-join OPERATOR, compact to the
    // latest row per key with the latest-by-key OPERATOR — both reached
    // only through SQL table functions (GraftExtensions), no Column API.
    import org.apache.spark.sql.SparkSession
    val prevDefault = SparkSession.getDefaultSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val ext = SparkSession.builder()
      .master("local[2]")
      .appName("graft-sql-tvf-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config(graft.Engine.LocalFsConf)
      .withExtensions(new graft.catalyst.GraftExtensions)
      .getOrCreate()
    val pipes = new Pipelines(Files.createTempDirectory("sqlp-tvf").toString)
    try {
      import ext.implicits._
      val in = MemoryStream[(Timestamp, String, Double)](
        implicitly[org.apache.spark.sql.Encoder[(Timestamp, String, Double)]], ext.sqlContext)
      val procs = new SqlProcessors(ext, pipes)
      procs.registerSource("meters_stream", in.toDF().toDF("ts", "k", "v"))
      procs.registerSource("calib_static", Seq(
        ("m1", Timestamp.valueOf("2024-01-01 00:02:00"), 2.0),
        ("m2", Timestamp.valueOf("2024-01-01 00:03:00"), 10.0))
        .toDF("ck", "cts", "factor"))
      ext.sql("""CREATE OR REPLACE TEMPORARY VIEW meters_enriched AS
        SELECT k, ts, v * factor AS v_cal
        FROM interval_join('meters_stream', 'ts', 'calib_static', 'cts', 'k', 'ck', '10 minutes')""")
      procs.submit("latest_meters",
        "INSERT INTO meters_latest SELECT * FROM latest_by_key('meters_enriched', 'k', 'ts')",
        outputMode = "complete")
      in.addData(
        (Timestamp.valueOf("2024-01-01 00:00:00"), "m1", 1.0),
        (Timestamp.valueOf("2024-01-01 00:05:00"), "m1", 3.0),
        (Timestamp.valueOf("2024-01-01 00:04:00"), "m2", 5.0),
        (Timestamp.valueOf("2024-01-01 09:00:00"), "m2", 7.0)) // outside the calib interval
      pipes.awaitDrained("latest_meters")
      val rows = ext.table("meters_latest").collect()
        .map(r => (r.getString(0), r.getDouble(2))).toSet
      assert(rows == Set(("m1", 6.0), ("m2", 50.0)), s"got ${rows.mkString(", ")}")
    } finally {
      pipes.stopAll()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
    }
  }

  test("pure-SQL similarity search: ann TVF composed with relational SQL, no Column API") {
    // The reference's audience works in plain SQL (README.md:41-43): a
    // similarity search there is an ann_* table function composed with
    // ordinary joins/filters. Top neighbor per query vector, enriched
    // against a metadata view, browse()-served — Column API untouched.
    import org.apache.spark.sql.SparkSession
    val prevDefault = SparkSession.getDefaultSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val ext = SparkSession.builder()
      .master("local[2]")
      .appName("graft-sql-ann-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config(graft.Engine.LocalFsConf)
      .withExtensions(new graft.catalyst.GraftExtensions)
      .getOrCreate()
    val pipes = new Pipelines(Files.createTempDirectory("sqlp-ann").toString)
    try {
      val procs = new SqlProcessors(ext, pipes)
      procs.registerSource("ann_sql_corpus",
        ext.read.parquet("/root/testdata/sf0.001/embeddings.parquet"))
      ext.sql("CREATE OR REPLACE TEMPORARY VIEW ann_sql_queries AS " +
        "SELECT * FROM ann_sql_corpus WHERE vec_id % 100 = 0")
      val out = procs.browse(
        """SELECT a.query_id, a.neighbor_id, a.sim, c.vec_id IS NOT NULL AS resolved
           FROM ann_brute('ann_sql_corpus', 'ann_sql_queries', 'vec_id', 'embedding', 5) a
           JOIN ann_sql_corpus c ON c.vec_id = a.neighbor_id
           WHERE a.rank = 1
           ORDER BY a.query_id""").collect()
      assert(out.length == 5, s"one top neighbor per query, got ${out.length}")
      assert(out.forall(_.getBoolean(3)), "every neighbor must resolve against the corpus view")
      assert(out.forall(r => r.getLong(0) != r.getLong(1)), "self-matches are excluded")
    } finally {
      pipes.stopAll()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
    }
  }

  test("curation TVFs compose with streams: redact_pii runs continuously over a doc stream") {
    import org.apache.spark.sql.SparkSession
    val prevDefault = SparkSession.getDefaultSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val ext = SparkSession.builder()
      .master("local[2]")
      .appName("graft-sql-curation-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config(graft.Engine.LocalFsConf)
      .withExtensions(new graft.catalyst.GraftExtensions)
      .getOrCreate()
    val pipes = new Pipelines(Files.createTempDirectory("sqlp-cur").toString)
    try {
      import ext.implicits._
      val in = MemoryStream[(Long, String)](
        implicitly[org.apache.spark.sql.Encoder[(Long, String)]], ext.sqlContext)
      val procs = new SqlProcessors(ext, pipes)
      procs.registerSource("docs_stream", in.toDF().toDF("doc_id", "text"))
      procs.submit("scrubbed",
        "INSERT INTO docs_clean SELECT * FROM redact_pii('docs_stream', 'doc_id', 'text')")
      in.addData((1L, "ping alice@example.org today"), (2L, "nothing here"))
      pipes.awaitDrained("scrubbed")
      val rows = ext.table("docs_clean").collect()
        .map(r => r.getLong(0) -> (r.getInt(1), r.getString(3))).toMap
      assert(rows(1L) == ((1, "ping [EMAIL] today")))
      assert(rows(2L) == ((0, "nothing here")))
    } finally {
      pipes.stopAll()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
    }
  }

  test("decontaminate composes with streams: arriving docs swept against a static eval set") {
    // The production shape: the eval posting is a static broadcast side,
    // the corpus arrives continuously — contamination flags stream out
    // as docs land, no batch re-sweep.
    import org.apache.spark.sql.SparkSession
    val prevDefault = SparkSession.getDefaultSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val ext = SparkSession.builder()
      .master("local[2]")
      .appName("graft-sql-decon-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config(graft.Engine.LocalFsConf)
      .withExtensions(new graft.catalyst.GraftExtensions)
      .getOrCreate()
    val pipes = new Pipelines(Files.createTempDirectory("sqlp-dec").toString)
    try {
      import ext.implicits._
      val in = MemoryStream[(Long, String)](
        implicitly[org.apache.spark.sql.Encoder[(Long, String)]], ext.sqlContext)
      val procs = new SqlProcessors(ext, pipes)
      procs.registerSource("arriving_docs", in.toDF().toDF("doc_id", "text"))
      procs.registerSource("eval_set",
        Seq((100L, "the quick brown fox jumps over the lazy dog")).toDF("eval_id", "text"))
      procs.submit("contamination",
        """INSERT INTO contaminated SELECT * FROM decontaminate(
           'arriving_docs', 'doc_id', 'text', 'eval_set', 'eval_id', 'text', 3, 3)""",
        outputMode = "complete")
      in.addData(
        (1L, "prefix the quick brown fox jumps over the lazy dog suffix"),
        (2L, "totally clean document"))
      pipes.awaitDrained("contamination")
      val rows = ext.table("contaminated").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(rows == Set((1L, 100L, 7L)), s"got $rows")
    } finally {
      pipes.stopAll()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
    }
  }

  test("submit rejects bounded SELECTs and non-INSERT statements") {
    val pipes = new Pipelines(Files.createTempDirectory("sqlp-ck3").toString)
    val procs = new SqlProcessors(spark, pipes)
    procs.registerSource("static_v", Seq(1, 2).toDF("x"))
    intercept[IllegalArgumentException] {
      procs.submit("p1", "INSERT INTO t SELECT x FROM static_v")
    }
    intercept[IllegalArgumentException] {
      procs.submit("p2", "SELECT 1")
    }
  }
}
