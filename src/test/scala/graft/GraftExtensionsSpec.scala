package graft

import graft.expressions.ExactQuantiles
import graft.functions.TextAnalysis
import org.apache.spark.sql.functions._

/** Every native expression must resolve as a SQL function through
  * GraftExtensions and agree with its Column API twin. */
class GraftExtensionsSpec extends SparkSpec {

  private def docs = Tables.documents(spark, "/root/testdata/sf0.001")

  test("graft_cosine resolves in SQL") {
    import spark.implicits._
    val got = Seq((Seq(1.0, 2.0), Seq(2.0, 4.0))).toDF("a", "b")
      .selectExpr("graft_cosine(a, b) AS c").collect()(0).getDouble(0)
    assert(math.abs(got - 1.0) < 1e-12)
  }

  test("graft_shingle_hashes / graft_minhash_sig / graft_simhash / graft_winnow in SQL") {
    docs.select(TextAnalysis.tokens(col("text")).as("toks"))
      .createOrReplaceTempView("toks_v")
    val row = spark.sql("""SELECT
        graft_shingle_hashes(toks, 3) AS sh,
        graft_minhash_sig(graft_shingle_hashes(toks, 3), 8) AS sig,
        graft_simhash(toks) AS sk,
        graft_winnow(toks, 3, 4) AS fp
      FROM toks_v""").collect()
    assert(row.nonEmpty)
    row.foreach { r =>
      assert(r.getSeq[Long](0).nonEmpty)
      assert(r.getSeq[Long](1).length === 8)
      assert(r.getSeq[Long](2).length === 4)
      assert(r.getSeq[Long](3).nonEmpty)
    }
  }

  test("graft_exact_quantiles and graft_kmv_distinct aggregate in SQL") {
    Tables.lineitem(spark, "/root/testdata/sf0.001")
      .createOrReplaceTempView("li_v")
    val r = spark.sql("""SELECT
        graft_exact_quantiles(l_extendedprice, 0.25, 0.75) AS qs,
        graft_kmv_distinct(l_orderkey) AS kmv
      FROM li_v""").collect()(0)
    val ref = Tables.lineitem(spark, "/root/testdata/sf0.001")
      .agg(ExactQuantiles.quantiles(col("l_extendedprice"), Seq(0.25, 0.75)))
      .collect()(0).getSeq[Double](0)
    assert(r.getSeq[Double](0) === ref)
    assert(r.getLong(1) > 0)
  }

  test("graft_quantize_stats resolves in SQL and reports quantization error") {
    val r = spark.sql("""SELECT graft_quantize_stats(CAST(ARRAY(0.0, 1.0, 0.5) AS ARRAY<DOUBLE>)) AS q""")
      .selectExpr("q.v_min", "q.v_max", "q.mse").collect()(0)
    assert(r.getDouble(0) === 0.0 && r.getDouble(1) === 1.0)
    assert(r.getDouble(2) >= 0.0 && r.getDouble(2) < 1e-5) // 8-bit error is tiny
  }

  test("graft_gram_matrix aggregates in SQL and inlines the covariance report") {
    val rows = spark.sql("""SELECT inline(g) FROM (
        SELECT graft_gram_matrix(CAST(v AS ARRAY<DOUBLE>)) AS g FROM (
          SELECT ARRAY(1.0, 2.0) AS v UNION ALL SELECT ARRAY(3.0, 4.0)))""")
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(4)).toMap
    assert(rows.size === 3)
    // var of {1,3} = E[x²]−E[x]² = 5−4 = 1; cov({1,3},{2,4}) = 1
    assert(rows((1, 1)) === 1.0 && rows((1, 2)) === 1.0 && rows((2, 2)) === 1.0)
  }

  test("graft_mg_candidates aggregates in SQL and keeps the dominant value") {
    val r = spark.sql("""SELECT graft_mg_candidates(v, 4) AS c FROM (
        SELECT CASE WHEN id % 2 = 0 THEN 'dominant' ELSE CONCAT('t', id) END AS v
        FROM RANGE(1000))""").collect()(0).getSeq[String](0)
    assert(r.length <= 4)
    assert(r.contains("dominant"))
  }

  test("registerAll + extensions = full SQL surface over the star schema") {
    Tables.registerAll(spark, "/root/testdata/sf0.001")
    val r = spark.sql("""
      SELECT n_name, COUNT(*) AS n
      FROM orders JOIN customer ON o_custkey = c_custkey
                  JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name ORDER BY n DESC LIMIT 3""").collect()
    assert(r.length === 3)
    // events view must carry the corrected timestamp type
    val t = spark.sql("SELECT MIN(ts) FROM events").schema.head.dataType
    assert(t === org.apache.spark.sql.types.TimestampType)
    // kernel functions compose with the views
    val fp = spark.sql("""SELECT doc_id,
        SIZE(graft_winnow(filter(split(lower(text), '[^a-z0-9]+'), x -> x <> ''), 3, 4)) AS n
      FROM documents ORDER BY doc_id LIMIT 5""").collect()
    assert(fp.forall(_.getInt(1) > 0))
  }

  test("non-literal static args are rejected with a clear error") {
    docs.select(TextAnalysis.tokens(col("text")).as("toks"),
      col("doc_id")).createOrReplaceTempView("toks_v2")
    val e = intercept[Exception] {
      spark.sql("SELECT graft_shingle_hashes(toks, CAST(doc_id AS INT)) FROM toks_v2")
        .collect()
    }
    assert(e.getMessage.contains("integer literal"))
  }

  test("Sessions is the one session builder, and its sessions carry the extensions") {
    import scala.jdk.CollectionConverters._
    // a hand-rolled builder lets an entry point run a different engine
    // (no GraftExtensions, other confs) from the one the specs exercise
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"${root.toAbsolutePath} not found")
    val walk = java.nio.file.Files.walk(root)
    val files = try walk.iterator.asScala.toList finally walk.close()
    val builders = files
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Sessions.scala")
      .filter(p => java.nio.file.Files.readString(p).contains("SparkSession.builder"))
    assert(builders.isEmpty, s"SparkSession.builder outside Sessions.scala: ${builders.mkString(", ")}")
    // this spec's session is Sessions-built (SparkSpec)
    val cpus = "local\\[(\\d+)\\]".r.findFirstMatchIn(spark.sparkContext.master)
      .map(_.group(1)).getOrElse(fail(s"master ${spark.sparkContext.master}"))
    assert(spark.sparkContext.getConf.get("spark.sql.shuffle.partitions") === cpus)
    val cos = spark.sql("SELECT graft_cosine(array(1D, 2D), array(2D, 4D))").head().getDouble(0)
    assert(math.abs(cos - 1.0) < 1e-12)
  }
}
