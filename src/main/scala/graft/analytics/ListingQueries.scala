package graft.analytics

import java.util.Locale

import graft.functions.Cleaning
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** The reference's analytics surface over the clean listings table:
  * EP2's 10 chart computations (analysis.py:194-522), EP3's 8 API
  * endpoints (dashboard/webapp/views.py), and the reports/ generators.
  *
  * Each function is a lazy DataFrame query — rendering (matplotlib /
  * Chart.js) is out of engine scope. Where the reference re-reads the CSV
  * per request (views.py:17-37), callers here pass a cached/managed
  * DataFrame — same semantics, no per-request IO.
  */
object ListingQueries {

  /** Optional dashboard filters (views.py:40-50): case-insensitive
    * equality on state / search_keyword. */
  final case class Filters(state: Option[String] = None, keyword: Option[String] = None) {
    /** The one lower-casing of filter values, in `Locale.ROOT` as Spark's
      * `lower` does on ASCII: under a `tr-TR` default locale "BIHAR"
      * would otherwise become "bıhar" and match nothing. */
    def normalized: Filters =
      Filters(state.map(_.toLowerCase(Locale.ROOT)), keyword.map(_.toLowerCase(Locale.ROOT)))
  }

  def applyFilters(df: DataFrame, f: Filters): DataFrame = {
    val n = f.normalized
    val s1 = n.state.fold(df)(v => df.filter(lower(col("state")) === v))
    n.keyword.fold(s1)(v => s1.filter(lower(col("search_keyword")) === v))
  }

  /** /api/summary/ (views.py:135-157): A1-A4 KPI block. */
  def summaryKpis(df: DataFrame): DataFrame =
    df.agg(
      count(lit(1)).as("total_rows"),
      countDistinct(col("supplier_name")).as("unique_suppliers"),
      countDistinct(col("city")).as("unique_cities"),
      countDistinct(col("state")).as("unique_states"),
      round(coalesce(expr("median(price_numeric)"), lit(0.0)), 2).as("median_price"),
      round(coalesce(avg(col("price_numeric")), lit(0.0)), 2).as("avg_price"))

  private val JunkValues = Seq("", "nan", "none", "null", "unknown", "na", "n/a", "-")

  /** /api/filters/ (views.py:117-134): D3 sorted distinct with junk
    * denylist, cap 300. */
  def filterValues(df: DataFrame, c: String, cap: Int = 300): DataFrame =
    df.select(col(c))
      .filter(col(c).isNotNull && !lower(trim(col(c))).isin(JunkValues: _*))
      .distinct().orderBy(col(c)).limit(cap)

  /** /api/top-cities|top-states/ (views.py:160-179) + chart 3 (top-10
    * cities): A8 value counts + A9 top-N. pandas value_counts breaks count
    * ties by first-seen order (unstable across engines) — we pin the
    * deterministic (count desc, label asc) order. */
  def valueCountsTopN(df: DataFrame, c: String, n: Int): DataFrame =
    df.filter(col(c).isNotNull)
      .groupBy(col(c)).agg(count(lit(1)).as("count"))
      .orderBy(col("count").desc, col(c)).limit(n)

  /** /api/price-buckets/ (views.py:182-204): O4 preferred-first ordering
    * Low/Mid/High/Unknown then the rest, cap 8. */
  def priceBuckets(df: DataFrame): DataFrame = {
    val preferred = when(col("price_bucket") === "Low (<10k)", 0)
      .when(col("price_bucket") === "Mid (10k-50k)", 1)
      .when(col("price_bucket") === "High (50k+)", 2)
      .when(col("price_bucket") === "Unknown", 3)
      .otherwise(9)
    df.filter(col("price_bucket").isNotNull)
      .groupBy(col("price_bucket")).agg(count(lit(1)).as("count"))
      .withColumn("_rk", preferred)
      .orderBy(col("_rk"), col("count").desc, col("price_bucket"))
      .drop("_rk").limit(8)
  }

  /** /api/price-hist/ (views.py:207-224) + chart 5: A12 equi-width
    * histogram over the p99-clipped prices, with F17 "lo-hi" labels.
    * Two passes (bounds, then bucket-count) — no data collect. */
  def priceHist(df: DataFrame, bins: Int = 12): DataFrame = {
    val priced = df.filter(col("price_numeric").isNotNull)
    val p99 = priced.agg(expr("percentile(price_numeric, 0.99D)").as("p99"))
    val clipped = priced.crossJoin(broadcast(p99)).filter(col("price_numeric") <= col("p99"))
    val bounds = clipped.agg(
      min(col("price_numeric")).as("mn"), max(col("price_numeric")).as("mx"))
    // mx == mn (all prices equal) would make the bucket width 0 and the
    // division null/NaN — greatest(width, tiny) degrades to one bucket 0
    val width = greatest((col("mx") - col("mn")) / bins, lit(1e-12))
    clipped.crossJoin(broadcast(bounds))
      .withColumn("bucket",
        least(floor((col("price_numeric") - col("mn")) / width),
          lit(bins - 1L)).cast(LongType))
      .groupBy(col("bucket"), col("mn"), col("mx")).agg(count(lit(1)).as("count"))
      .withColumn("lo", col("mn") + col("bucket") * (col("mx") - col("mn")) / bins)
      .withColumn("hi", col("mn") + (col("bucket") + 1) * (col("mx") - col("mn")) / bins)
      .withColumn("bin", Cleaning.binLabel(col("lo"), col("hi")))
      .select(col("bucket"), col("bin"), col("count"))
      .orderBy(col("bucket"))
  }

  /** /api/scatter-rating-price/ (views.py:227-245) + chart 10: P6 p99 clip
    * + P9 bounded sample. pandas' seeded sample is engine-specific; here the
    * sample is the `maxPoints` rows with the smallest xxhash64 of the
    * listing key (product_url, dispid) and the plotted pair. The hash reads
    * only row content, so the sample is the same across runs and across
    * partition layouts (unlike `rand(seed)`, which Spark seeds per
    * partition). (x, y) breaks hash ties: rows still tied after it plot as the
    * same point, so whichever of them the limit keeps, the output is the
    * same. */
  def scatterRatingPrice(df: DataFrame, maxPoints: Int = 1500): DataFrame = {
    val d = df.filter(col("rating").isNotNull && col("price_numeric").isNotNull)
    val p99 = d.agg(expr("percentile(price_numeric, 0.99D)").as("p99"))
    d.crossJoin(broadcast(p99)).filter(col("price_numeric") <= col("p99"))
      .select(col("rating").as("x"), col("price_numeric").as("y"),
        xxhash64(col("product_url"), col("dispid"), col("rating"), col("price_numeric")).as("_h"))
      .orderBy(col("_h"), col("x"), col("y")).limit(maxPoints)
      .drop("_h")
  }

  /** /api/mini-rows/ + table head(30) (views.py:84-90,249-278): P8 limit
    * over the listing's file order (callers keep an order column when
    * "first n" must match ingest order). */
  def miniRows(df: DataFrame, n: Int, orderCol: Option[String] = None): DataFrame = {
    val cols = Seq("product_name", "supplier_name", "city", "price_numeric")
      .filter(df.columns.contains).map(col)
    orderCol.fold(df)(oc => df.orderBy(col(oc))).select(cols: _*).limit(miniRowsCount(n))
  }

  /** The row count [[miniRows]] returns for a requested `n`: 1 to 50. */
  def miniRowsCount(n: Int): Int = math.max(1, math.min(50, n))

  /** Chart 2 (analysis.py:256-257): A7 group-by mean, top-10 by avg. */
  def avgPriceByKeyword(df: DataFrame, n: Int = 10): DataFrame =
    df.filter(col("search_keyword").isNotNull && col("price_numeric").isNotNull)
      .groupBy(col("search_keyword"))
      .agg(avg(col("price_numeric")).as("avg_price"))
      .orderBy(col("avg_price").desc, col("search_keyword")).limit(n)

  /** Chart 4 donut (analysis.py:302-310): A10 top-5 + Others rollup. */
  def keywordShareTopOthers(df: DataFrame, topN: Int = 5): DataFrame = {
    val counts = df.filter(col("search_keyword").isNotNull)
      .groupBy(col("search_keyword")).agg(count(lit(1)).as("count"))
    val ranked = counts.withColumn("_rk",
      row_number().over(Window.orderBy(col("count").desc, col("search_keyword"))))
    ranked
      .withColumn("label", when(col("_rk") <= topN, col("search_keyword")).otherwise("Others"))
      .groupBy(col("label")).agg(sum(col("count")).cast(LongType).as("count"))
      .orderBy(col("count").desc, col("label"))
  }

  /** Chart 7 combo (analysis.py:395-400): top-8 keywords by count joined
    * with their avg price (avgp.reindex(topk.index)). */
  def comboListingsAvgPrice(df: DataFrame, n: Int = 8): DataFrame = {
    val topk = valueCountsTopN(df, "search_keyword", n)
    val avgp = df.filter(col("search_keyword").isNotNull && col("price_numeric").isNotNull)
      .groupBy(col("search_keyword")).agg(avg(col("price_numeric")).as("avg_price"))
    topk.join(avgp, Seq("search_keyword"), "left")
      .orderBy(col("count").desc, col("search_keyword"))
  }

  /** Chart 9 waterfall (analysis.py:463-469): O2 top-10 prices + O3
    * running cumulative sum — the reference's one window computation. */
  def waterfallTopPrices(df: DataFrame, n: Int = 10): DataFrame = {
    val top = df.filter(col("price_numeric").isNotNull)
      .select(col("product_name"), col("price_numeric"))
      .orderBy(col("price_numeric").desc, col("product_name")).limit(n)
    val w = Window.orderBy(col("price_numeric").desc, col("product_name"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    top.withColumn("cumulative", sum(col("price_numeric")).over(w))
  }

  // ----------------------------------------------------------- reports/

  /** reports/missing_price_by_keyword.csv (A16). */
  def missingPriceByKeyword(df: DataFrame): DataFrame =
    df.filter(col("search_keyword").isNotNull)
      .groupBy(col("search_keyword"))
      .agg(round(avg(when(col("price_numeric").isNull, 1.0).otherwise(0.0)) * 100, 2)
        .as("missing_price_pct"))
      .orderBy(col("missing_price_pct").desc, col("search_keyword"))

  /** reports/unknown_location_share.csv (A17). */
  def unknownLocationShare(df: DataFrame): DataFrame =
    df.agg(
      round(avg(when(col("city") === "Unknown", 1.0).otherwise(0.0)) * 100, 2)
        .as("unknown_city_pct"),
      round(avg(when(col("state") === "Unknown", 1.0).otherwise(0.0)) * 100, 2)
        .as("unknown_state_pct"))

  /** reports/top_product_tokens.csv (F19): lowercase [a-z0-9]+ tokens of
    * product names, counted desc — explode + partial-agg, the seed of the
    * text-analysis operator family. */
  def topProductTokens(df: DataFrame, n: Int = 30): DataFrame =
    df.filter(col("product_name").isNotNull)
      .select(explode(split(lower(col("product_name")), "[^a-z0-9]+")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token")).agg(count(lit(1)).as("count"))
      .orderBy(col("count").desc, col("token")).limit(n)

  /** reports/outliers_top_prices.csv (O2 top-K) and the ≥p99 variant. */
  def outliersTopPrices(df: DataFrame, k: Int = 15): DataFrame =
    df.filter(col("price_numeric").isNotNull)
      .orderBy(col("price_numeric").desc, col("product_name")).limit(k)

  def outliersTopPct(df: DataFrame, pct: Double = 0.99): DataFrame = {
    val p = df.filter(col("price_numeric").isNotNull)
    val thr = p.agg(expr(s"percentile(price_numeric, ${pct}D)").as("thr"))
    p.crossJoin(broadcast(thr)).filter(col("price_numeric") >= col("thr")).drop("thr")
      .orderBy(col("price_numeric").desc, col("product_name"))
  }

  /** reports/eda_summary.csv (A6): per-column missing count/pct desc —
    * one aggregate job for all columns. */
  def edaSummary(df: DataFrame): DataFrame = {
    // non-null count per column, then the row count last (read by
    // position, so no alias can collide with a column name)
    val cols = df.columns.toSeq
    val aggs = cols.map(c => count(col(c))) :+ count(lit(1))
    val stat = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val n = stat.getLong(cols.length)
    val spark = df.sparkSession
    import spark.implicits._
    cols.zipWithIndex.map { case (c, i) =>
      val dt = df.schema(c).dataType.simpleString
      val nonNull = stat.getLong(i)
      // n == 0 guard: an empty input (plausible after dashboard filters)
      // must report 0.0, not 0/0 = NaN (same contract as Profiler.profile)
      val pct =
        if (n == 0L) 0.0
        else BigDecimal((n - nonNull).toDouble / n * 100)
          .setScale(2, BigDecimal.RoundingMode.HALF_EVEN).toDouble
      (c, dt, n - nonNull, pct)
    }.toDF("column", "dtype", "missing_count", "missing_pct")
      .orderBy(col("missing_pct").desc, col("column"))
  }

  /** EDA_INSIGHTS.md:19-20 (A13): Pearson corr over rows with both. */
  def ratingPriceCorr(df: DataFrame): DataFrame =
    df.agg(round(corr(col("rating"), col("price_numeric")), 3).as("corr_rating_price"))
}
