package graft.serving

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.analytics.ListingQueries
import graft.analytics.ListingQueries.Filters
import org.apache.spark.sql.{DataFrame, Row}

/** EP3's HTTP serving layer (dashboard/webapp/urls.py, views.py:117-278)
  * over the engine's DataFrame computations — the eight `/api/…`
  * endpoints with the reference's JSON shapes, on the JDK's built-in
  * HttpServer (zero dependencies; Django is transport, not semantics).
  *
  * Serving model: a snapshot. `start` caches the clean listings table and
  * answers every request from the table as cached then; nothing changes
  * it until `stop()`, so restarting the server is the refresh. A 200 body
  * is therefore a pure function of its [[Key]] — the endpoint plus the
  * parameters its handler reads, normalized — and a bounded LRU
  * [[ResponseMemo]] serves repeats without a Spark job. A miss plans a
  * filtered query against the cached table, the reference's
  * request-level semantics (views.py:17-37) without its per-request CSV
  * read. Errors (500s) are never stored. Handlers run on the server's
  * executor threads; Spark sessions are thread-safe for concurrent
  * read-only actions. Each endpoint's result is endpoint-bounded (≤ 300
  * filter values, ≤ 12 bars, ≤ 1500 points, ≤ 50 rows), so a request can
  * never pull corpus-sized data onto the serving path, and the memo's
  * byte bound caps what the server holds across requests — the 100 TB
  * posture is that the engine aggregates and the server only SHAPES and
  * keeps bounded results.
  *
  * JSON is emitted by a hand-rolled writer (strings escaped per RFC
  * 8259, doubles via Java's shortest round-trip form, nulls explicit)
  * so the wire format is deterministic and dependency-stable. */
object DashboardServer {

  /** Per-endpoint counters since `start`: requests answered from the memo
    * (hits), computed (misses) and failed (errors, never stored), with
    * the nanoseconds from receipt to a ready body for hits and misses. */
  final case class EndpointStats(
      hits: Long, misses: Long, errors: Long, hitNanos: Long, missNanos: Long) {
    def requests: Long = hits + misses + errors
  }

  private[serving] final class Counters {
    val hits, misses, errors, hitNanos, missNanos = new LongAdder
    def snapshot: EndpointStats = EndpointStats(
      hits.sum, misses.sum, errors.sum, hitNanos.sum, missNanos.sum)
  }

  final case class Started(
      server: HttpServer,
      port: Int,
      private[serving] val pool: java.util.concurrent.ExecutorService,
      private[serving] val cached: DataFrame,
      private[serving] val memo: ResponseMemo,
      private[serving] val counters: Map[String, Counters]) {
    /** A snapshot of every endpoint's counters, by path. */
    def stats: Map[String, EndpointStats] = counters.map { case (p, c) => p -> c.snapshot }

    /** Full lifecycle teardown: the HTTP listener, the 4-thread handler
      * pool (non-daemon — without shutdown it pins the JVM), the response
      * memo and the cached listings table are all released, so repeated
      * start/stop cycles leak neither threads nor storage memory. */
    def stop(): Unit = {
      server.stop(0)
      pool.shutdown()
      memo.clear()
      cached.unpersist()
    }
  }

  /** What a handler reads of a request, normalized: the path, the
    * lower-cased filters, and for `/api/mini-rows/` the row count as
    * [[ListingQueries.miniRowsCount]] clamps it. */
  private[serving] final case class Key(path: String, filters: Filters = Filters(), n: Int = 0) {
    /** Bytes charged to the memo for holding the key itself. */
    def bytes: Long = Seq(Some(path), filters.state, filters.keyword).flatten
      .map(_.getBytes(StandardCharsets.UTF_8).length.toLong).sum
  }

  /** Every parameter a handler does not read is dropped, so junk query
    * strings map to an existing key instead of new entries. */
  private[serving] def keyOf(path: String, p: Map[String, String]): Key = {
    val filters = Filters(p.get("state"), p.get("keyword")).normalized
    path match {
      case "/api/filters/" => Key(path)
      case "/api/mini-rows/" =>
        val n = p.get("n").flatMap(v => scala.util.Try(v.toInt).toOption).getOrElse(8)
        Key(path, filters, ListingQueries.miniRowsCount(n))
      case _ => Key(path, filters)
    }
  }

  /** Start serving `clean` on `port` (0 = ephemeral). */
  def start(clean: DataFrame, port: Int = 0): Started = {
    val df = clean.cache()
    val server = HttpServer.create(new InetSocketAddress(port), 0)
    val memo = new ResponseMemo()
    val counters = mutable.LinkedHashMap.empty[String, Counters]

    def endpoint(path: String)(f: Key => String): Unit = {
      val c = counters.getOrElseUpdate(path, new Counters)
      server.createContext(path, new HttpHandler {
        override def handle(ex: HttpExchange): Unit = {
          val t0 = System.nanoTime()
          val body =
            try {
              val k = keyOf(path, queryParams(ex))
              memo.get(k) match {
                case Some(b) =>
                  c.hits.increment(); c.hitNanos.add(System.nanoTime() - t0); b
                case None =>
                  val b = f(k).getBytes(StandardCharsets.UTF_8)
                  memo.put(k, b)
                  c.misses.increment(); c.missNanos.add(System.nanoTime() - t0); b
              }
            } catch {
              case e: Exception =>
                c.errors.increment()
                val msg = jsonObj(Seq("error" -> jsonStr(
                  Option(e.getMessage).getOrElse(e.getClass.getName))))
                respond(ex, 500, msg.getBytes(StandardCharsets.UTF_8)); return
            }
          respond(ex, 200, body)
        }
      })
    }

    def filtered(k: Key): DataFrame = ListingQueries.applyFilters(df, k.filters)

    endpoint("/api/filters/") { _ =>
      val states = ListingQueries.filterValues(df, "state")
        .collect().map(_.getString(0))
      val keywords = ListingQueries.filterValues(df, "search_keyword")
        .collect().map(_.getString(0))
      jsonObj(Seq(
        "states" -> jsonArr(states.map(jsonStr)),
        "keywords" -> jsonArr(keywords.map(jsonStr))))
    }

    endpoint("/api/summary/") { k =>
      val r = ListingQueries.summaryKpis(filtered(k)).collect()(0)
      jsonObj(Seq(
        "total_rows" -> r.getLong(0).toString,
        "unique_suppliers" -> r.getLong(1).toString,
        "unique_cities" -> r.getLong(2).toString,
        "unique_states" -> r.getLong(3).toString,
        "median_price" -> jsonNum(r.getDouble(4)),
        "avg_price" -> jsonNum(r.getDouble(5))))
    }

    def labelsValues(rows: Array[Row]): String = jsonObj(Seq(
      "labels" -> jsonArr(rows.map(r => jsonStr(r.getString(0)))),
      "values" -> jsonArr(rows.map(r => r.getLong(1).toString))))

    endpoint("/api/top-cities/") { k =>
      labelsValues(ListingQueries.valueCountsTopN(filtered(k), "city", 12).collect())
    }
    endpoint("/api/top-states/") { k =>
      labelsValues(ListingQueries.valueCountsTopN(filtered(k), "state", 12).collect())
    }
    endpoint("/api/price-buckets/") { k =>
      labelsValues(ListingQueries.priceBuckets(filtered(k)).collect())
    }

    endpoint("/api/price-hist/") { k =>
      val rows = ListingQueries.priceHist(filtered(k)).collect()
      jsonObj(Seq(
        "bins" -> jsonArr(rows.map(r => jsonStr(r.getAs[String]("bin")))),
        "counts" -> jsonArr(rows.map(r => r.getAs[Long]("count").toString))))
    }

    endpoint("/api/scatter-rating-price/") { k =>
      val rows = ListingQueries.scatterRatingPrice(filtered(k)).collect()
      jsonObj(Seq("points" -> jsonArr(rows.map(r => jsonObj(Seq(
        "x" -> jsonNum(r.getDouble(0)), "y" -> jsonNum(r.getDouble(1))))))))
    }

    endpoint("/api/mini-rows/") { k =>
      val rows = ListingQueries.miniRows(filtered(k), k.n).collect()
      jsonObj(Seq("rows" -> jsonArr(rows.map { r =>
        def s(c: String) = jsonStr(Option(r.getAs[String](c)).getOrElse(""))
        val price = r.getAs[Any]("price_numeric") match {
          case null      => "null"
          case d: Double => jsonNum(d)
          case other     => jsonNum(other.toString.toDouble)
        }
        jsonObj(Seq(
          "product_name" -> s("product_name"),
          "supplier_name" -> s("supplier_name"),
          "city" -> s("city"),
          "price_numeric" -> price))
      })))
    }

    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    server.setExecutor(pool)
    server.start()
    Started(server, server.getAddress.getPort, pool, df, memo, counters.toMap)
  }

  private def respond(ex: HttpExchange, status: Int, bytes: Array[Byte]): Unit = {
    ex.getResponseHeaders.set("Content-Type", "application/json; charset=utf-8")
    ex.sendResponseHeaders(status, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).fold(Map.empty[String, String]) { q =>
      q.split("&").iterator.filter(_.nonEmpty).map { kv =>
        val i = kv.indexOf('=')
        if (i < 0) (urlDecode(kv), "")
        else (urlDecode(kv.take(i)), urlDecode(kv.drop(i + 1)))
      }.toMap
    }

  private def urlDecode(s: String): String =
    java.net.URLDecoder.decode(s, StandardCharsets.UTF_8)

  // ---- deterministic JSON writer ----------------------------------------

  private[serving] def jsonStr(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'           => b.append("\\\"")
      case '\\'          => b.append("\\\\")
      case '\b'          => b.append("\\b")
      case '\f'          => b.append("\\f")
      case '\n'          => b.append("\\n")
      case '\r'          => b.append("\\r")
      case '\t'          => b.append("\\t")
      case c if c < 0x20 => b.append(f"\\u${c.toInt}%04x")
      case c             => b.append(c)
    }
    b.append('"').toString
  }

  /** Shortest round-trip double; integral values print without ".0"
    * only where JSON consumers expect a number either way — keep Java's
    * canonical form (matches JsonResponse's float serialization shape
    * closely enough for numeric consumers; spec compares VALUES). */
  private[serving] def jsonNum(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"non-finite number in JSON: $d")
    d.toString
  }

  private[serving] def jsonArr(items: Seq[String]): String =
    items.mkString("[", ",", "]")

  private[serving] def jsonObj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${jsonStr(k)}:$v" }.mkString("{", ",", "}")
}
