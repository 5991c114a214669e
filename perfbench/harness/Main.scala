package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.{GraftExtensions, GraftQuery, SparkEntry}
import graft.analytics.ListingQueries
import graft.analytics.ListingQueries.Filters
import graft.etl.CleanPipeline
import graft.render.Charts
import graft.schema.Schemas
import graft.serving.DashboardServer
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** One benchmark run inside one JVM: set-up rounds, a cold pass, then
  * steady passes (registry) or serving (listing) for the run's seconds,
  * and untimed checks. Writes raw samples, failures and (traced)
  * the layer report as one JSON object; `run.py` turns it into metrics.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --work DIR --out FILE
  *   registry_mix:     --sf-tpch DIR --sf-iter DIR
  *   listing_pipeline: --raw CSV --requests TSV --limit-ms L */
object Main {

  /** TPC-H queries (read at sf0.1) whose time goes to execution: a
    * six-way join with the widest generated code (q9), an outer join under
    * a nested aggregate (q13) and a plain scan-filter-aggregate (q6).
    * Their builders are lazy. */
  val Tpch: Seq[String] = Seq("q_tpch_q6", "q_tpch_q9", "q_tpch_q13")

  /** Queries (read at sf0.01) whose time goes to driver loops and eager
    * jobs inside the builder: the pagerank graph loop, the BPE merge loop
    * and logistic-regression gradient rounds. */
  val Iterative: Seq[String] = Seq("q_pagerank", "q_bpe_learn", "q_quality_logreg")

  /** Fixed backfill for `scraped_at`, so ETL output never depends on the
    * input file's mtime. */
  val FallbackScrapedAt = "2024-01-01T00:00:00Z"

  final case class Failure(name: String, kind: String, message: String)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val run = new Run(opt)
    val result = try run.execute() finally run.close()
    Files.write(Paths.get(opt("out")), Json.write(result).getBytes(UTF_8))
  }

  final class Run(opt: Map[String, String]) {
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val tracer = new Tracer(opt("trace") == "1")
    val work = opt("work")
    val cpus = Runtime.getRuntime.availableProcessors
    var spark: SparkSession = _

    val failures = new ConcurrentLinkedQueue[Failure]()
    var attempted = 0L
    var peakHeapMb = 0.0
    var cachePeakMb = 0.0

    def fail(name: String, kind: String, e: Throwable): Unit =
      failures.add(Failure(name, kind,
        Option(e.getMessage).getOrElse(e.getClass.getName).take(300)))

    def close(): Unit = if (spark != null) spark.stop()

    private def newSession(): SparkSession = {
      if (spark != null) spark.stop()
      SparkSession.builder()
        .master(s"local[$cpus]")
        .appName("perfbench")
        .withExtensions(new GraftExtensions)
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.hadoop.hadoop.tmp.dir", s"$work/tmp")
        .getOrCreate()
    }

    /** Session-wide one-time costs (first parquet round trip, shuffle,
      * broadcast, window) paid on synthetic data, as `graft.Bench` does. */
    private def warmup(s: SparkSession): Unit = {
      s.range(1000000).selectExpr("sum(id)").collect()
      val path = s"$work/warmup.parquet"
      s.range(10000).select(col("id"), (col("id") % 7).as("k"))
        .write.mode("overwrite").parquet(path)
      val back = s.read.parquet(path)
      back.join(back.groupBy(col("k")).agg(sum(col("id")).as("s")), "k")
        .join(broadcast(s.range(7).select(col("id").as("k"))), "k")
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("k")).orderBy(col("id"))))
        .filter(col("rn") <= 3)
        .write.format("noop").mode("overwrite").save()
    }

    /** Session and warmup, once, right after JVM start; returns the
      * wall-clock time (ms) at which the workload is ready to run. */
    private def setup(): Long = {
      spark = newSession()
      spark.sparkContext.setLogLevel("ERROR")
      warmup(spark)
      System.currentTimeMillis()
    }

    private def oldGenAfterGc(): Double = {
      System.gc()
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(p => p.getType == MemoryType.HEAP && p.getName.contains("Old Gen"))
        .map(_.getCollectionUsage.getUsed).sum / Tracer.MB
    }

    /** Untimed: record the cached-storage and live-heap peaks. */
    private def sampleMemory(): Unit = {
      val cached = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / Tracer.MB
      cachePeakMb = math.max(cachePeakMb, cached)
      peakHeapMb = math.max(peakHeapMb, oldGenAfterGc())
    }

    /** Untimed between operations: sample memory, then drop caches so the
      * next operation computes from its inputs. */
    private def reset(): Unit = {
      sampleMemory()
      graft.operators.Caches.unpersistAll()
      spark.catalog.clearCache()
    }

    /** Steady passes for the run's seconds, at least three (run.py takes
      * each query's median over them). */
    private def steadyPasses(pass: String => Double): Seq[Double] = {
      val out = mutable.ArrayBuffer.empty[Double]
      val t0 = System.nanoTime()
      while (out.size < 3 || (System.nanoTime() - t0) / 1e9 < seconds)
        out += pass(s"steady-${out.size + 1}")
      tracer.endPhase()
      out.toSeq
    }

    private def timed[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }

    def execute(): Map[String, Any] = {
      val readyMs = setup()
      tracer.attach(spark)
      val body = workload match {
        case "registry_mix" => registry(Tpch.map(_ -> opt("sf-tpch")) ++ Iterative.map(_ -> opt("sf-iter")))
        case "listing_pipeline" => listing()
        case other => sys.error(s"unknown workload $other")
      }
      Map(
        "workload" -> workload, "seed" -> seed, "cpus" -> cpus,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / Tracer.MB,
        "java" -> System.getProperty("java.version"),
        "spark" -> spark.version,
        "ready_ms" -> readyMs,
        "attempted" -> attempted,
        "failures" -> failures.asScala.toSeq.map(f =>
          Map("name" -> f.name, "kind" -> f.kind, "message" -> f.message)),
        "peak_heap_mb" -> peakHeapMb,
        "cache_peak_mb" -> cachePeakMb,
        "trace" -> (if (tracer.enabled) tracer.report() else Map.empty)) ++ body
    }

    // ---------------------------------------------------------- registry

    /** Registry queries, each with the test-table directory it reads. */
    private def registry(named: Seq[(String, String)]): Map[String, Any] = {
      val byName = SparkEntry.registry.map(q => q.name -> q).toMap
      val queries: Seq[(GraftQuery, String)] = named.map { case (n, sf) =>
        (byName.getOrElse(n, sys.error(s"no query $n")), sf)
      }
      val perQuery = mutable.ArrayBuffer.empty[(String, Int, Double, Boolean)]

      // The cold pass writes each result as parquet, as `graft.Verify`
      // does, for the digest comparison in run.py; steady passes use the
      // noop sink, as `graft.Bench` does, which runs the whole plan and
      // discards rows. The cold pass keeps registration order, so the
      // one-time costs that land on whichever query runs first stay on the
      // same query across seeds; the seed permutes every steady pass.
      def pass(phase: String, index: Int): Double = {
        tracer.beginPhase(phase)
        val order =
          if (index == 0) queries else new scala.util.Random(seed * 1009 + index).shuffle(queries)
        order.map { case (q, sf) =>
          attempted += 1
          val (t, ok) = try {
            (timed(tracer.span("op", q.name) {
              val df = tracer.span("analytics.build") { q.run(spark, sf) }
              tracer.span("spark.exec") {
                val w = df.write.mode("overwrite")
                if (index == 0) w.parquet(s"$work/out/${q.name}") else w.format("noop").save()
              }
            })._2, true)
          } catch { case e: Exception => fail(q.name, "exception", e); (0.0, false) }
          reset()
          perQuery += ((q.name, index, t, ok))
          t
        }.sum
      }

      val cold = pass("cold", 0)
      val steady = steadyPasses(phase => pass(phase, phase.stripPrefix("steady-").toInt))
      val oracles = queries.map { case (q, sf) =>
        q.name -> Map("sf" -> sf, "sql" -> q.oracle.orNull)
      }.toMap
      Files.write(Paths.get(s"$work/oracles.json"), Json.write(oracles).getBytes(UTF_8))
      Map("cold_pass_s" -> cold, "steady_pass_s" -> steady,
        "checked" -> queries.map(_._1.name),
        "queries" -> perQuery.map { case (n, i, t, ok) =>
          Map("name" -> n, "pass" -> i, "s" -> t, "ok" -> ok)
        })
    }

    // ----------------------------------------------------------- listing

    private def edaDatasets(df: DataFrame, base: DataFrame): Seq[(String, () => DataFrame)] = Seq(
      "summary" -> (() => ListingQueries.summaryKpis(df)),
      "filters_states" -> (() => ListingQueries.filterValues(base, "state")),
      "filters_keywords" -> (() => ListingQueries.filterValues(base, "search_keyword")),
      "top_cities" -> (() => ListingQueries.valueCountsTopN(df, "city", 12)),
      "top_states" -> (() => ListingQueries.valueCountsTopN(df, "state", 12)),
      "price_buckets" -> (() => ListingQueries.priceBuckets(df)),
      "price_hist" -> (() => ListingQueries.priceHist(df)),
      "scatter_rating_price" -> (() => ListingQueries.scatterRatingPrice(df)),
      "mini_rows" -> (() => ListingQueries.miniRows(df, 8)),
      "avg_price_by_keyword" -> (() => ListingQueries.avgPriceByKeyword(df)),
      "keyword_share" -> (() => ListingQueries.keywordShareTopOthers(df)),
      "combo_listings_avg" -> (() => ListingQueries.comboListingsAvgPrice(df)),
      "waterfall_top10" -> (() => ListingQueries.waterfallTopPrices(df)),
      "missing_price_by_keyword" -> (() => ListingQueries.missingPriceByKeyword(df)),
      "unknown_location_share" -> (() => ListingQueries.unknownLocationShare(df)),
      "top_product_tokens" -> (() => ListingQueries.topProductTokens(df)),
      "outliers_top_prices" -> (() => ListingQueries.outliersTopPrices(df)),
      "eda_summary" -> (() => ListingQueries.edaSummary(df)),
      "rating_price_corr" -> (() => ListingQueries.ratingPriceCorr(df)))

    private def listing(): Map[String, Any] = {
      val rawPath = opt("raw")
      val out = s"$work/listing"
      val cleanPath = s"$out/clean.parquet"

      def csv(df: DataFrame, path: String, nullValue: Option[String] = None): Unit = {
        val w = df.coalesce(1).write.mode("overwrite").option("header", "true")
        nullValue.fold(w)(w.option("nullValue", _)).csv(path)
      }

      // EtlMain's path: raw CSV -> CleanPipeline.run -> its four sinks
      def etl(): Double = timed(tracer.span("etl", "etl") {
        val r = tracer.span("etl.run") {
          val raw = spark.read
            .option("header", "true").option("multiLine", "true")
            .option("quote", "\"").option("escape", "\"")
            .schema(Schemas.raw).csv(rawPath)
          CleanPipeline.run(raw, Some(FallbackScrapedAt))
        }
        tracer.span("etl.sink") {
          r.clean.write.mode("overwrite").parquet(cleanPath)
          csv(r.clean, s"$out/clean_csv", Some("NaN"))
          csv(r.issues, s"$out/issues_csv")
          csv(r.profile, s"$out/profile_csv")
        }
      })._2

      // AnalyticsMain's 19 datasets plus the chart renderer
      def eda(): Double = timed(tracer.span("eda", "eda") {
        val base = spark.read.parquet(cleanPath)
        val df = ListingQueries.applyFilters(base, Filters()).cache()
        tracer.span("eda.datasets") {
          edaDatasets(df, base).foreach { case (name, build) =>
            val ds = tracer.span("analytics.build", name) { build() }
            tracer.span("spark.exec", name) { csv(ds, s"$out/eda/$name") }
          }
        }
        tracer.span("render.charts") { Charts.renderAll(df, s"$out/charts") }
      })._2

      // ETL and EDA are command-line tools, each run in a fresh JVM, so
      // their users pay the cold pass; the long-running part is serving
      tracer.beginPhase("cold")
      attempted += 2
      val etlS = try etl() catch { case ex: Exception => fail("etl", "exception", ex); 0.0 }
      reset()
      val edaS = try eda() catch { case ex: Exception => fail("eda", "exception", ex); 0.0 }
      reset()
      tracer.endPhase()

      val counts = listingCounts(out)
      Map("cold_pass_s" -> (etlS + edaS), "cold_etl_s" -> etlS, "cold_eda_s" -> edaS,
        "listing_counts" -> counts) ++ serve(cleanPath)
    }

    /** Untimed: what the ETL and EDA wrote, for comparison with the
      * generator's ground truth. */
    private def listingCounts(out: String): Map[String, Any] = {
      tracer.beginPhase("check")
      val clean = spark.read.parquet(s"$out/clean.parquet")
      val issues = spark.read.option("header", "true").csv(s"$out/issues_csv")
        .groupBy("issue").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val summary = spark.read.option("header", "true").csv(s"$out/eda/summary").head()
      val charts = Option(new java.io.File(s"$out/charts").listFiles).toSeq.flatten
        .filter(f => f.getName.endsWith(".png") && f.length > 0).map(_.getName).sorted
      Map("clean_rows" -> clean.count(),
        "issues" -> issues,
        "summary_total_rows" -> summary.getAs[String]("total_rows").toLong,
        "states" -> clean.select("state").distinct().count(),
        "keywords" -> clean.select("search_keyword").distinct().count(),
        "charts" -> charts)
    }

    // ----------------------------------------------------------- serving

    private final case class Request(path: String, query: String)
    private final case class Response(req: Request, sentNs: Long, endNs: Long,
        status: Int, body: String) {
      def ms: Double = (endNs - sentNs) / 1e6
    }

    private def get(port: Int, r: Request): (Int, String) = {
      val url = URI.create(s"http://127.0.0.1:$port${r.path}" +
        (if (r.query.isEmpty) "" else s"?${r.query}")).toURL
      val conn = url.openConnection().asInstanceOf[HttpURLConnection]
      conn.setConnectTimeout(10000); conn.setReadTimeout(60000)
      try {
        val status = conn.getResponseCode
        val in = if (status < 400) conn.getInputStream else conn.getErrorStream
        val body = if (in == null) "" else try new String(in.readAllBytes(), UTF_8) finally in.close()
        (status, body)
      } finally conn.disconnect()
    }

    /** The dashboard over the clean output, answering the seeded request
      * stream from one client, one request after another, for the run's
      * seconds. One client measures each request's own latency: with
      * overlapping arrivals (open-loop Poisson at 3 and 5 req/s) bursts
      * queued behind each other, and on a 4-vCPU VM per-endpoint medians
      * moved by a fifth to a quarter between runs of the same code. */
    private def serve(cleanPath: String): Map[String, Any] = {
      val limitMs = opt("limit-ms").toDouble
      val stream = Files.readAllLines(Paths.get(opt("requests")), UTF_8).asScala.toSeq
        .filter(_.nonEmpty).map { l =>
          val Array(path, query) = l.split("\t", -1)
          Request(path, query)
        }
      tracer.beginPhase("serve")
      val clean = spark.read.parquet(cleanPath)
      val responses = mutable.ArrayBuffer.empty[Response]
      def send(port: Int, r: Request): Response = {
        val sent = System.nanoTime()
        val (status, body) =
          try get(port, r) catch { case e: Exception => (-1, e.toString) }
        Response(r, sent, System.nanoTime(), status, body)
      }
      // the first request of each endpoint and filter shape plans and
      // compiles its queries: send one of each first, untimed, at once
      val shapes = stream.groupBy(r => (r.path, params(r.query).keySet)).values.map(_.head).toSeq
      tracer.span("serving", "serving") {
        val started = DashboardServer.start(clean)
        try {
          val warm = Executors.newFixedThreadPool(cpus)
          try shapes.map(r => warm.submit(() => send(started.port, r))).foreach(_.get())
          finally warm.shutdown()
          val t0 = System.nanoTime()
          val it = stream.iterator
          while (it.hasNext && (System.nanoTime() - t0) / 1e9 < seconds)
            responses += send(started.port, it.next())
          // the server's cached table is live until stop(): sample now
          sampleMemory()
        } finally started.stop()
      }
      tracer.endPhase()

      // untimed: every response must equal the direct computation
      tracer.beginPhase("check")
      val cached = clean.cache()
      val rs = responses.toSeq
      // one direct computation per distinct request, run concurrently
      val keys = rs.filter(_.status == 200).map(_.req).distinct
      val pool = Executors.newFixedThreadPool(cpus)
      val expected = try {
        keys.map { k =>
          k -> pool.submit(new java.util.concurrent.Callable[(JsonNode, Double)] {
            def call(): (JsonNode, Double) = timed(Endpoints.expected(cached, k.path, params(k.query)))
          })
        }.map { case (k, f) => k -> f.get() }.toMap
      } finally pool.shutdown()
      val ok = rs.map { r =>
        attempted += 1
        val name = s"${r.req.path}?${r.req.query}"
        val good =
          if (r.status != 200) {
            failures.add(Failure(name, "http", s"status ${r.status}: ${r.body.take(200)}")); false
          } else {
            val exp = expected(r.req)._1
            val same = exp.equals(Endpoints.numericEq, Endpoints.mapper.readTree(r.body))
            if (!same) failures.add(Failure(name, "mismatch",
              s"got ${r.body.take(120)} expected ${exp.toString.take(120)}"))
            same
          }
        good && r.ms <= limitMs
      }
      cached.unpersist()
      val overheadMs = rs.groupBy(_.req).toSeq.flatMap { case (k, xs) =>
        expected.get(k).map { case (_, directS) => median(xs.map(_.ms)) - directS * 1000 }
      }
      Map("op_ok" -> ok.count(identity), "op_limit_ms" -> limitMs,
        "requests" -> rs.size, "warmup_requests" -> shapes.size,
        "endpoint_ms" -> rs.groupBy(_.req.path).map { case (p, xs) => p -> xs.map(_.ms) },
        "serving_overhead_ms" -> (if (overheadMs.isEmpty) 0.0 else median(overheadMs)))
    }

    private def params(query: String): Map[String, String] =
      query.split("&").filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        java.net.URLDecoder.decode(k, UTF_8) -> java.net.URLDecoder.decode(v, UTF_8)
      }.toMap
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** The eight endpoints' JSON, computed directly with `ListingQueries`
  * (the serving layer's own rule: a response equals the direct
  * computation). */
object Endpoints {
  val mapper = new ObjectMapper()

  /** Numbers compare by value (the server prints `5` where a direct
    * double is `5.0`); everything else structurally. */
  val numericEq: java.util.Comparator[JsonNode] = (a: JsonNode, b: JsonNode) =>
    if (a.isNumber && b.isNumber) java.lang.Double.compare(a.asDouble, b.asDouble)
    else if (a.equals(b)) 0 else 1

  def expected(clean: DataFrame, path: String, p: Map[String, String]): JsonNode = {
    val f = ListingQueries.applyFilters(clean, Filters(p.get("state"), p.get("keyword")))
    val o = mapper.createObjectNode()
    def strings(name: String, rows: Array[Row]): Unit = {
      val a = o.putArray(name); rows.foreach(r => a.add(r.getString(0)))
    }
    def labelsValues(rows: Array[Row]): Unit = {
      strings("labels", rows)
      val v = o.putArray("values"); rows.foreach(r => v.add(r.getLong(1)))
    }
    path match {
      case "/api/filters/" =>
        strings("states", ListingQueries.filterValues(clean, "state").collect())
        strings("keywords", ListingQueries.filterValues(clean, "search_keyword").collect())
      case "/api/summary/" =>
        val r = ListingQueries.summaryKpis(f).collect()(0)
        o.put("total_rows", r.getLong(0)); o.put("unique_suppliers", r.getLong(1))
        o.put("unique_cities", r.getLong(2)); o.put("unique_states", r.getLong(3))
        o.put("median_price", r.getDouble(4)); o.put("avg_price", r.getDouble(5))
      case "/api/top-cities/" => labelsValues(ListingQueries.valueCountsTopN(f, "city", 12).collect())
      case "/api/top-states/" => labelsValues(ListingQueries.valueCountsTopN(f, "state", 12).collect())
      case "/api/price-buckets/" => labelsValues(ListingQueries.priceBuckets(f).collect())
      case "/api/price-hist/" =>
        val rows = ListingQueries.priceHist(f).collect()
        val b = o.putArray("bins"); rows.foreach(r => b.add(r.getAs[String]("bin")))
        val c = o.putArray("counts"); rows.foreach(r => c.add(r.getAs[Long]("count")))
      case "/api/scatter-rating-price/" =>
        val a = o.putArray("points")
        ListingQueries.scatterRatingPrice(f).collect().foreach { r =>
          a.addObject().put("x", r.getDouble(0)).put("y", r.getDouble(1))
        }
      case "/api/mini-rows/" =>
        val a = o.putArray("rows")
        ListingQueries.miniRows(f, 8).collect().foreach { r =>
          val e = a.addObject()
          Seq("product_name", "supplier_name", "city").foreach { c =>
            e.put(c, Option(r.getAs[String](c)).getOrElse(""))
          }
          if (r.isNullAt(3)) e.putNull("price_numeric")
          else e.put("price_numeric", r.getAs[Any](3).toString.toDouble)
        }
      case other => sys.error(s"unknown endpoint $other")
    }
    o
  }
}

/** Minimal JSON writer for the run's result object. */
object Json {
  def write(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + write(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case a: Array[_] => write(a.toSeq)
    case other => str(other.toString)
  }

  private def str(s: String): String = Endpoints.mapper.writeValueAsString(s)
}
