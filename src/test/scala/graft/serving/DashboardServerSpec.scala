package graft.serving

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.{ListingFixture, SparkSpec}
import graft.analytics.ListingQueries
import graft.analytics.ListingQueries.Filters
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** EP3 serving layer: the eight /api/… endpoints over the fixture's clean
  * listings — JSON values must equal the direct DataFrame computations,
  * filters must apply case-insensitively, and the writer must escape
  * correctly. */
class DashboardServerSpec extends SparkSpec {

  private val mapper = new ObjectMapper()

  private lazy val clean: DataFrame = ListingFixture.clean(spark)

  private lazy val started = DashboardServer.start(clean)

  override def afterAll(): Unit = {
    try started.stop() finally super.afterAll()
  }

  private def get(path: String): JsonNode = {
    val url = java.net.URI.create(
      s"http://127.0.0.1:${started.port}$path").toURL
    val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
    try {
      assert(conn.getResponseCode === 200, s"$path -> ${conn.getResponseCode}")
      mapper.readTree(conn.getInputStream)
    } finally conn.disconnect()
  }

  test("/api/summary/ equals the direct KPI computation") {
    val j = get("/api/summary/")
    val r = ListingQueries.summaryKpis(clean).collect()(0)
    assert(j.get("total_rows").asLong === r.getLong(0))
    assert(j.get("unique_suppliers").asLong === r.getLong(1))
    assert(j.get("unique_cities").asLong === r.getLong(2))
    assert(j.get("unique_states").asLong === r.getLong(3))
    assert(j.get("median_price").asDouble === r.getDouble(4))
    assert(j.get("avg_price").asDouble === r.getDouble(5))
  }

  test("filters apply case-insensitively, end to end") {
    val state = clean.filter(col("state").isNotNull)
      .groupBy(col("state")).count().orderBy(col("count").desc)
      .head().getString(0)
    val enc = java.net.URLEncoder.encode(state.toUpperCase,
      java.nio.charset.StandardCharsets.UTF_8)
    val j = get(s"/api/summary/?state=$enc")
    val r = ListingQueries.summaryKpis(
      ListingQueries.applyFilters(clean, Filters(Some(state.toLowerCase), None)))
      .collect()(0)
    assert(j.get("total_rows").asLong === r.getLong(0))
    assert(j.get("total_rows").asLong < clean.count())
  }

  test("/api/top-cities/ and /api/top-states/ match valueCountsTopN") {
    Seq(("city", "/api/top-cities/"), ("state", "/api/top-states/")).foreach {
      case (c, path) =>
        val j = get(path)
        val rows = ListingQueries.valueCountsTopN(clean, c, 12).collect()
        val labels = (0 until j.get("labels").size).map(j.get("labels").get(_).asText)
        val values = (0 until j.get("values").size).map(j.get("values").get(_).asLong)
        assert(labels === rows.map(_.getString(0)).toSeq, s"$path labels")
        assert(values === rows.map(_.getLong(1)).toSeq, s"$path values")
    }
  }

  test("/api/price-buckets/ keeps the preferred-first order") {
    val j = get("/api/price-buckets/")
    val rows = ListingQueries.priceBuckets(clean).collect()
    val labels = (0 until j.get("labels").size).map(j.get("labels").get(_).asText)
    assert(labels === rows.map(_.getString(0)).toSeq)
  }

  test("/api/price-hist/ bins and counts align and cover the clipped rows") {
    val j = get("/api/price-hist/")
    val rows = ListingQueries.priceHist(clean).collect()
    assert(j.get("bins").size === rows.length)
    val counts = (0 until j.get("counts").size).map(j.get("counts").get(_).asLong)
    assert(counts === rows.map(_.getAs[Long]("count")).toSeq)
  }

  test("/api/scatter-rating-price/ returns the deterministic bounded sample") {
    val j = get("/api/scatter-rating-price/")
    val n = ListingQueries.scatterRatingPrice(clean).count()
    assert(j.get("points").size.toLong === n)
    val p0 = j.get("points").get(0)
    assert(p0.has("x") && p0.has("y"))
  }

  test("/api/filters/ excludes junk values") {
    val j = get("/api/filters/")
    val states = (0 until j.get("states").size).map(j.get("states").get(_).asText)
    assert(states.nonEmpty)
    val junk = Set("", "nan", "none", "null", "unknown", "na", "n/a", "-")
    assert(!states.exists(s => junk.contains(s.trim.toLowerCase)))
  }

  test("/api/mini-rows/ honors n and the null-vs-empty contract") {
    val j = get("/api/mini-rows/?n=5")
    assert(j.get("rows").size === 5)
    val r0 = j.get("rows").get(0)
    Seq("product_name", "supplier_name", "city", "price_numeric")
      .foreach(f => assert(r0.has(f), s"missing field $f"))
    // string fields are never null on the wire (safe_text contract)
    assert(!r0.get("product_name").isNull)
  }

  test("concurrent requests return the serial answers (4-thread hammer)") {
    // The scaladoc claims handlers run safely on the server's executor
    // threads; pin it: 8 client threads hammer two endpoints (one
    // unfiltered, one filtered — distinct plans racing on the shared
    // cached table) and every response must byte-equal the serial one.
    val paths = Seq("/api/summary/", "/api/top-cities/?keyword=")
    val expected = paths.map(p => p -> get(p).toString).toMap
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val tasks = (0 until 32).map { i =>
        val p = paths(i % paths.length)
        pool.submit(new java.util.concurrent.Callable[(String, String)] {
          override def call(): (String, String) = (p, get(p).toString)
        })
      }
      tasks.foreach { t =>
        val (p, body) = t.get(60, java.util.concurrent.TimeUnit.SECONDS)
        assert(body === expected(p), s"concurrent $p diverged from serial")
      }
    } finally pool.shutdownNow()
  }

  test("stop() tears down the handler pool and the cache (no leak across cycles)") {
    val s = DashboardServer.start(clean.limit(50))
    assert(s.cached.storageLevel.useMemory, "start() must cache the table")
    assert(!s.pool.isShutdown)
    s.stop()
    assert(s.pool.isShutdown, "stop() must shut the executor down")
    assert(s.pool.awaitTermination(30, java.util.concurrent.TimeUnit.SECONDS),
      "handler threads must terminate")
    assert(!s.cached.storageLevel.useMemory, "stop() must unpersist the cache")
  }

  test("edaSummary: per-column missing counts, (missing_pct desc, column) order, empty input is 0.0") {
    val rows = ListingQueries.edaSummary(clean).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getDouble(3))).toSeq
    assert(rows.map(_._1).sorted === clean.columns.toSeq.sorted)
    rows.foreach { case (c, missing, _) =>
      assert(missing === clean.filter(col(c).isNull).count(), c)
    }
    assert(rows.exists(_._2 > 0L), "the fixture carries missing values")
    assert(rows === rows.sortBy { case (c, _, pct) => (-pct, c) })
    val empty = ListingQueries.edaSummary(clean.filter(lit(false))).collect()
    assert(empty.length === clean.columns.length)
    empty.foreach { r =>
      assert(r.getLong(2) === 0L)
      assert(r.getDouble(3) === 0.0, r.getString(0))
    }
  }

  test("JSON writer escapes per RFC 8259") {
    assert(DashboardServer.jsonStr("a\"b\\c\nd") === "\"a\\\"b\\\\c\\nd\"")
    assert(DashboardServer.jsonStr("\u0001") === "\"\\u0001\"")
    val parsed = mapper.readTree(
      DashboardServer.jsonObj(Seq("k\"ey" -> DashboardServer.jsonStr("v\tv"))))
    assert(parsed.get("k\"ey").asText === "v\tv")
  }
}
