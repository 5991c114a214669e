package graft.analytics

import graft.Sessions
import graft.sources.Sources
import org.apache.spark.sql.DataFrame

/** CLI mirroring the reference's `python analysis.py` + the dashboard's
  * JSON endpoints (EP2/EP3): computes every chart dataset, API payload and
  * report from a clean listings table and writes each as CSV (rendering is
  * out of engine scope — these are the exact data frames behind the PNGs
  * and JSON responses).
  *
  * Usage: runMain graft.analytics.AnalyticsMain <cleanCsvOrParquet> <outDir>
  *        [state] [keyword]
  */
object AnalyticsMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: AnalyticsMain <cleanData> <outDir> [state] [keyword]")
    val input = args(0); val outDir = args(1)
    val filters = ListingQueries.Filters(args.lift(2), args.lift(3))
    val spark = Sessions.local().appName("graft-analytics").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val base =
      if (input.endsWith(".parquet")) spark.read.parquet(input)
      else Sources.readCleanCsv(spark, input)
    val df = ListingQueries.applyFilters(base, filters).cache()

    val outputs: Seq[(String, DataFrame)] = Seq(
      "summary" -> ListingQueries.summaryKpis(df),
      // filter dropdowns come from the FULL dataset, like the reference
      // endpoint (views.py:117-134 reloads the unfiltered CSV)
      "filters_states" -> ListingQueries.filterValues(base, "state"),
      "filters_keywords" -> ListingQueries.filterValues(base, "search_keyword"),
      "top_cities" -> ListingQueries.valueCountsTopN(df, "city", 12),
      "top_states" -> ListingQueries.valueCountsTopN(df, "state", 12),
      "price_buckets" -> ListingQueries.priceBuckets(df),
      "price_hist" -> ListingQueries.priceHist(df),
      "scatter_rating_price" -> ListingQueries.scatterRatingPrice(df),
      "mini_rows" -> ListingQueries.miniRows(df, 8),
      "avg_price_by_keyword" -> ListingQueries.avgPriceByKeyword(df),
      "keyword_share" -> ListingQueries.keywordShareTopOthers(df),
      "combo_listings_avg" -> ListingQueries.comboListingsAvgPrice(df),
      "waterfall_top10" -> ListingQueries.waterfallTopPrices(df),
      "missing_price_by_keyword" -> ListingQueries.missingPriceByKeyword(df),
      "unknown_location_share" -> ListingQueries.unknownLocationShare(df),
      "top_product_tokens" -> ListingQueries.topProductTokens(df),
      "outliers_top_prices" -> ListingQueries.outliersTopPrices(df),
      "eda_summary" -> ListingQueries.edaSummary(df),
      "rating_price_corr" -> ListingQueries.ratingPriceCorr(df))

    outputs.foreach { case (name, out) =>
      out.coalesce(1).write.mode("overwrite")
        .option("header", "true").csv(s"$outDir/$name")
    }
    println(s"[analytics] wrote ${outputs.size} datasets -> $outDir")
    spark.stop()
  }
}
