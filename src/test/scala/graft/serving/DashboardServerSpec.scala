package graft.serving

import java.util.Locale

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.{ListingFixture, SparkSpec}
import graft.analytics.ListingQueries
import graft.analytics.ListingQueries.Filters
import org.apache.spark.sql.{DataFrame, Row}
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

  /** Status and raw body bytes of `path` on the server at `port`. */
  private def fetch(path: String, port: Int = started.port): (Int, Array[Byte]) = {
    val url = java.net.URI.create(s"http://127.0.0.1:$port$path").toURL
    val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
    try {
      val status = conn.getResponseCode
      val in = if (status < 400) conn.getInputStream else conn.getErrorStream
      (status, try in.readAllBytes() finally in.close())
    } finally conn.disconnect()
  }

  private def getBytes(path: String, port: Int = started.port): Array[Byte] = {
    val (status, body) = fetch(path, port)
    assert(status === 200, s"$path -> $status")
    body
  }

  private def get(path: String): JsonNode = mapper.readTree(getBytes(path))

  private def enc(v: String): String =
    java.net.URLEncoder.encode(v, java.nio.charset.StandardCharsets.UTF_8)

  /** Numbers compare by value (a parsed server body holds int nodes
    * where the direct tree holds longs); everything else exactly. */
  private val numericEq: java.util.Comparator[JsonNode] = (a: JsonNode, b: JsonNode) =>
    if (a.isNumber && b.isNumber) java.lang.Double.compare(a.asDouble, b.asDouble)
    else if (a.equals(b)) 0 else 1

  /** The JSON an endpoint must answer, computed directly with
    * `ListingQueries` on the fixture table. */
  private def direct(path: String, f: Filters = Filters(), n: Int = 8): JsonNode = {
    val d = ListingQueries.applyFilters(clean, f)
    val o = mapper.createObjectNode()
    def labelsValues(rows: Array[Row]): Unit = {
      val l = o.putArray("labels"); val v = o.putArray("values")
      rows.foreach { r => l.add(r.getString(0)); v.add(r.getLong(1)) }
    }
    path match {
      case "/api/summary/" =>
        val r = ListingQueries.summaryKpis(d).collect()(0)
        o.put("total_rows", r.getLong(0)); o.put("unique_suppliers", r.getLong(1))
        o.put("unique_cities", r.getLong(2)); o.put("unique_states", r.getLong(3))
        o.put("median_price", r.getDouble(4)); o.put("avg_price", r.getDouble(5))
      case "/api/top-cities/" => labelsValues(ListingQueries.valueCountsTopN(d, "city", 12).collect())
      case "/api/price-buckets/" => labelsValues(ListingQueries.priceBuckets(d).collect())
      case "/api/mini-rows/" =>
        val a = o.putArray("rows")
        ListingQueries.miniRows(d, n).collect().foreach { r =>
          val e = a.addObject()
          Seq("product_name", "supplier_name", "city").foreach { c =>
            e.put(c, Option(r.getAs[String](c)).getOrElse(""))
          }
          if (r.isNullAt(3)) e.putNull("price_numeric") else e.put("price_numeric", r.getDouble(3))
        }
    }
    o
  }

  private def assertDirect(path: String, body: Array[Byte], expected: JsonNode): Unit = {
    val got = mapper.readTree(body)
    assert(expected.equals(numericEq, got), s"$path: got $got, direct $expected")
  }

  private def stats(path: String): DashboardServer.EndpointStats = started.stats(path)

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
    // cached table). Every request has its own memo key, so all 32 are
    // computed concurrently rather than served from the memo, and every
    // response must equal the direct computation.
    val states = clean.select("state").distinct().collect().map(_.getString(0)).filter(_ != null)
    val keywords = clean.select("search_keyword").distinct().collect().map(_.getString(0))
      .filter(_ != null)
    val pairs = (for (s <- states; k <- keywords) yield Filters(Some(s), Some(k))).sortBy(_.toString)
    assert(pairs.length >= 16, "the fixture has 16 state and keyword pairs")
    val requests = (0 until 32).map { i =>
      if (i % 2 == 0) {
        val n = 10 + i / 2
        (s"/api/mini-rows/?n=$n", direct("/api/mini-rows/", n = n))
      } else {
        val f = pairs(i / 2)
        (s"/api/top-cities/?state=${enc(f.state.get)}&keyword=${enc(f.keyword.get)}",
          direct("/api/top-cities/", f))
      }
    }
    val paths = Seq("/api/mini-rows/", "/api/top-cities/")
    val missesBefore = paths.map(stats(_).misses).sum
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val tasks = requests.map { case (p, exp) =>
        pool.submit(new java.util.concurrent.Callable[(String, JsonNode, Array[Byte])] {
          override def call(): (String, JsonNode, Array[Byte]) = (p, exp, getBytes(p))
        })
      }
      tasks.foreach { t =>
        val (p, exp, body) = t.get(60, java.util.concurrent.TimeUnit.SECONDS)
        val got = mapper.readTree(body)
        assert(exp.equals(numericEq, got), s"concurrent $p diverged from serial")
      }
    } finally pool.shutdownNow()
    assert(paths.map(stats(_).misses).sum - missesBefore === 32L,
      "every hammer request must be a memo miss")
  }

  test("a repeat is a memo hit: byte-identical and equal to the direct computation") {
    val path = "/api/summary/?keyword=air%20cooler"
    val before = stats("/api/summary/")
    val first = getBytes(path)
    val second = getBytes(path)
    val after = stats("/api/summary/")
    assert(after.misses - before.misses === 1L)
    assert(after.hits - before.hits === 1L)
    assert(after.requests - before.requests === 2L)
    assert(after.hitNanos > before.hitNanos && after.missNanos > before.missNanos)
    assert(second.sameElements(first), "a hit must return the stored bytes")
    val exp = direct("/api/summary/", Filters(keyword = Some("air cooler")))
    assert(exp.get("total_rows").asLong > 0L, "the filter selects rows")
    assertDirect(path, second, exp)
  }

  test("case variants of one filter share one memo entry") {
    val entries = started.memo.size
    val before = stats("/api/price-buckets/")
    val bodies = Seq("DELHI", "delhi", "DeLhI")
      .map(v => getBytes(s"/api/price-buckets/?state=$v"))
    val after = stats("/api/price-buckets/")
    assert(started.memo.size - entries === 1)
    assert(after.misses - before.misses === 1L && after.hits - before.hits === 2L)
    bodies.foreach(b => assert(b.sameElements(bodies.head)))
    val exp = direct("/api/price-buckets/", Filters(state = Some("delhi")))
    assert(exp.get("labels").size > 0, "the filter selects rows")
    assertDirect("/api/price-buckets/", bodies.head, exp)
  }

  test("the memo key holds only what a handler reads: n clamped, unread parameters dropped") {
    val entries = started.memo.size
    val n50 = getBytes("/api/mini-rows/?n=50")
    assert(started.memo.size - entries === 1)
    Seq("/api/mini-rows/?n=500", "/api/mini-rows/?n=50&junk=1", "/api/mini-rows/?junk=2&n=50")
      .foreach(p => assert(getBytes(p).sameElements(n50), p))
    assert(started.memo.size - entries === 1, "n=500 and unread parameters must share n=50's entry")
    assert(mapper.readTree(n50).get("rows").size === 50)
    assertDirect("/api/mini-rows/", n50, direct("/api/mini-rows/", n = 50))
    getBytes("/api/filters/")
    val withFilters = started.memo.size
    getBytes("/api/filters/?state=delhi&keyword=x")
    assert(started.memo.size === withFilters, "/api/filters/ reads no parameter")
  }

  test("a 500 is never stored in the memo") {
    // without price_numeric the KPI query fails at planning, every time
    val s = DashboardServer.start(clean.drop("price_numeric"))
    try {
      Seq(1, 2).foreach { _ =>
        val (status, body) = fetch("/api/summary/", s.port)
        assert(status === 500)
        assert(mapper.readTree(body).has("error"))
      }
      assert(s.memo.size === 0)
      getBytes("/api/top-cities/", s.port)
      assert(s.memo.size === 1, "a 200 on the same server is stored")
      val summary = s.stats("/api/summary/")
      assert((summary.errors, summary.misses, summary.hits) === ((2L, 0L, 0L)))
      assert(s.stats("/api/top-cities/").misses === 1L)
    } finally s.stop()
  }

  test("ResponseMemo evicts least-recently-used first under its byte bound") {
    def key(i: Int) = DashboardServer.Key(s"/k$i") // 3 key bytes
    def body(n: Int) = Array.fill[Byte](n)(1)
    val m = new ResponseMemo(maxBytes = 30)
    (0 until 3).foreach(i => m.put(key(i), body(7))) // 10 bytes each
    assert((m.size, m.bytes) === ((3, 30L)))
    assert(m.get(key(0)).isDefined) // recency now 1, 2, 0
    m.put(key(3), body(7))
    assert(m.get(key(1)).isEmpty, "the least recently used entry goes first")
    Seq(0, 2, 3).foreach(i => assert(m.get(key(i)).isDefined, s"k$i")) // recency 0, 2, 3
    m.put(key(4), body(17)) // 20 bytes: evicts 0, then 2
    assert(Seq(0, 2).forall(i => m.get(key(i)).isEmpty))
    assert((m.size, m.bytes) === ((2, 30L)))
    m.put(key(5), body(28)) // 31 bytes: larger than the bound, not stored
    assert(m.get(key(5)).isEmpty && m.size === 2 && m.bytes === 30L)
    m.put(key(3), body(2)) // a replacement is re-charged
    assert(m.bytes === 25L && m.get(key(3)).get.length === 2)
    m.clear()
    assert((m.size, m.bytes) === ((0, 0L)))
  }

  test("filters lower-case in Locale.ROOT: an upper-case state with I matches under tr-TR") {
    val state = clean.select("state").distinct().collect().map(_.getString(0))
      .filter(_ != null).find(_.toUpperCase(Locale.ROOT).contains('I'))
      .getOrElse(fail("the fixture has a state with an I"))
    val rows = clean.filter(col("state") === state).count()
    assert(rows > 0L)
    val upper = state.toUpperCase(Locale.ROOT)
    val prev = Locale.getDefault
    Locale.setDefault(Locale.forLanguageTag("tr-TR"))
    try {
      assert(Filters(Some(upper)).normalized === Filters(Some(state.toLowerCase(Locale.ROOT))))
      assert(ListingQueries.applyFilters(clean, Filters(Some(upper))).count() === rows)
    } finally Locale.setDefault(prev)
  }

  test("stop() tears down the handler pool and the cache (no leak across cycles)") {
    val s = DashboardServer.start(clean.limit(50))
    assert(s.cached.storageLevel.useMemory, "start() must cache the table")
    assert(!s.pool.isShutdown)
    getBytes("/api/summary/", s.port)
    assert(s.memo.size === 1)
    s.stop()
    assert(s.memo.size === 0 && s.memo.bytes === 0L, "stop() must drop the memo")
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
