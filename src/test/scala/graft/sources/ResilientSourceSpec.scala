package graft.sources

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** A local filesystem under a scheme NO default Hadoop conf knows:
  * resolvable only when the session's `spark.hadoop.fs.graftprobe.impl`
  * overlay reaches the code doing the resolve — the probe for the
  * object-storage-conf contract of [[ResilientScan]]. */
class GraftProbeFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "graftprobe"
  override def getUri: java.net.URI = java.net.URI.create("graftprobe:///")
}

/** S7 resilient-ingest contract: exactly-once completeness through a
  * deterministic failure schedule, per-page retry accounting, backoff
  * and rate-limit behavior, and loud failure on truly-broken pages. */
class ResilientSourceSpec extends SparkSpec {

  private val Dir = "/root/testdata/sf0.001"
  private lazy val tmp = tempDir("graft_resilient").toString

  private def readPages(dir: String, opts: Map[String, String] = Map.empty) = {
    val base = spark.read.format("graft.sources.ResilientSourceProvider")
      .option("maxAttempts", 5).option("maxInjectedFailures", 3)
      .option("backoffBaseMs", 1)
    opts.foldLeft(base) { case (r, (k, v)) => r.option(k, v) }.load(dir)
  }

  test("exactly-once completeness: ingest equals the source table despite injected failures") {
    val pages = s"$tmp/pages_complete"
    ResilientSource.stagePages(Tables.events(spark, Dir), pages, nPages = 8)
    val truth = Tables.events(spark, Dir)
      .agg(count(lit(1)), sum(col("event_id"))).head()
    val got = readPages(pages).agg(count(lit(1)), sum(col("event_id"))).head()
    assert(got.getLong(0) === truth.getLong(0), "row count (omission/duplication)")
    assert(got.getLong(1) === truth.getLong(1), "event_id checksum")
  }

  test("per-page retry accounting matches the deterministic injection schedule") {
    val pages = s"$tmp/pages_attempts"
    ResilientSource.stagePages(Tables.events(spark, Dir), pages, nPages = 4)
    ResilientSource.resetTelemetry()
    readPages(pages).count()
    (0 until 4).foreach { i =>
      val name = f"page_$i%02d.tsv"
      val expected = ResilientSource.injectedFailures(name, 3) + 1
      assert(ResilientSource.attempts.get(name) === expected,
        s"$name: expected $expected attempts")
    }
    // the schedule must actually exercise retries somewhere
    val total = (0 until 4).map(i =>
      ResilientSource.attempts.get(f"page_$i%02d.tsv").intValue()).sum
    assert(total > 4, "injection schedule produced no retries at all")
  }

  test("rate limiter spaces page-open grants by at least the configured interval") {
    val pages = s"$tmp/pages_rate"
    ResilientSource.stagePages(Tables.events(spark, Dir), pages, nPages = 4)
    ResilientSource.resetTelemetry()
    readPages(pages, Map("minIntervalMs" -> "25")).count()
    val grants = {
      val it = ResilientSource.grants.iterator()
      val b = scala.collection.mutable.ArrayBuffer.empty[Long]
      while (it.hasNext) b += it.next().longValue()
      b.sorted
    }
    assert(grants.size >= 4, s"expected >=4 grants, got ${grants.size}")
    grants.sliding(2).foreach {
      case scala.collection.mutable.ArrayBuffer(a, b) =>
        // 15 ms floor vs the 25 ms interval: recorded times carry
        // per-thread scheduling jitter on top of the exact CAS schedule
        assert(b - a >= 15L * 1000000L,
          s"grants ${(b - a) / 1e6} ms apart — rate limit not enforced")
      case _ => ()
    }
  }

  test("a page that cannot survive the attempt budget is a LOUD failure, not a short count") {
    val pages = s"$tmp/pages_broken"
    ResilientSource.stagePages(Tables.events(spark, Dir), pages, nPages = 2)
    val ex = intercept[Exception] {
      // maxInjectedFailures >= maxAttempts is rejected outright: the
      // injected schedule could exceed the budget, making the ingest
      // contract vacuous
      readPages(pages, Map("maxAttempts" -> "2")).count()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(m => m.contains("maxInjectedFailures") ||
      m.contains("maxAttempts")), s"unexpected failure: $ex")
  }

  test("a malformed page line fails the field-count check loudly") {
    val pages = s"$tmp/pages_malformed"
    new java.io.File(pages).mkdirs()
    val w = new java.io.PrintWriter(s"$pages/page_00.tsv", "UTF-8")
    w.println("1\t2024-01-01 00:00:00\t7\tview\t1.5\tok")
    w.println("2\tonly\tfour\tfields")
    w.close()
    val ex = intercept[Exception] { readPages(pages).count() }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("malformed page line")),
      s"unexpected failure: $ex")
  }

  test("session Hadoop conf reaches the planner listing AND the executor page open") {
    val pages = s"$tmp/pages_conf"
    ResilientSource.stagePages(Tables.events(spark, Dir), pages, nPages = 2)
    val key = "spark.hadoop.fs.graftprobe.impl"
    // negative first (before the FileSystem cache can be primed): with no
    // session mapping for the scheme, planning must fail to resolve it —
    // proving the conf below is load-bearing, not decorative
    val ex = intercept[Exception] { readPages(s"graftprobe://$pages").count() }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.toLowerCase.contains("graftprobe")),
      s"unexpected failure: $ex")
    // now map the scheme ONLY via the session conf (spark.hadoop.* overlay,
    // the same channel s3a/gs credentials ride) and the same read succeeds
    spark.conf.set(key, classOf[GraftProbeFileSystem].getName)
    try {
      val truth = Tables.events(spark, Dir)
        .agg(count(lit(1)), sum(col("event_id"))).head()
      val got = readPages(s"graftprobe://$pages")
        .agg(count(lit(1)), sum(col("event_id"))).head()
      assert(got.getLong(0) === truth.getLong(0), "row count via graftprobe://")
      assert(got.getLong(1) === truth.getLong(1), "event_id checksum via graftprobe://")
    } finally spark.conf.unset(key)
  }

  test("value and event_id round-trip the TSV wire format exactly") {
    import spark.implicits._
    val pages = s"$tmp/pages_roundtrip"
    ResilientSource.stagePages(Tables.events(spark, Dir), pages, nPages = 2)
    val src = Tables.events(spark, Dir)
      .select($"event_id", $"value").orderBy($"event_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val got = readPages(pages)
      .select($"event_id", $"value").orderBy($"event_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got === src, "Double.toString/parseDouble must round-trip bit-exactly")
  }
}
