package graft

import graft.etl.CleanPipeline
import graft.schema.Schemas
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.util.Locale

/** A small clean-listings table for the dashboard and chart specs, built
  * in code: 60 raw IndiaMART-style rows (plus one re-scraped duplicate)
  * through [[CleanPipeline.run]] with a fixed `scraped_at`, so the specs
  * need no external data. The raw rows carry the reference's dirt:
  * mixed-case and padded states and keywords, "Tamilnadu" spellings,
  * missing places, "Ask Price" / empty prices, null ratings and a
  * duplicate (product_url, dispid) key. */
object ListingFixture {

  private val Places = Seq(
    ("Mumbai", "Maharashtra"), ("PUNE", "maharashtra"), ("Chennai", "Tamilnadu"),
    ("delhi", "DELHI"), ("Bengaluru", "  Karnataka "), ("Nagpur", "MAHARASHTRA"),
    ("coimbatore", "tamil nadu"), ("", "nan"), ("Kolkata", "West Bengal"))
  private val Keywords = Seq(
    "Air Conditioner", "washing machine", "  WATER PURIFIER ", "air conditioner",
    "Built-in Dishwasher", "Air Cooler")
  private val Units = Seq("/Piece", "", "/Unit", "")

  /** Raw row `i` in the 24-column [[Schemas.raw]] order. */
  private def rawRow(i: Int, url: String, dispid: String): Row = {
    val (city, state) = Places(i % Places.size)
    val price = i % 7 match {
      case 3 => "Ask Price"
      case 5 => if (i % 2 == 0) "ASK PRICE" else ""
      case _ => "₹ %,d%s".formatLocal(Locale.ROOT, 500 + (i * 7919) % 90000, Units(i % Units.size))
    }
    val rating = if (i % 4 == 1) null else "%.1f".formatLocal(Locale.ROOT, 1.0 + (i * 37) % 40 / 10.0)
    Row(Keywords(i % Keywords.size), s"Brand${i % 5} Model $i", url,
      s"shree traders ${i % 9}", s"https://www.indiamart.com/company/${i % 9}/",
      price, s"+91 98765 ${10000 + i}", city, state, null, null, rating, null,
      "123", "456", s"${7000 + i}", dispid, null, null, null, null, null, null,
      null)
  }

  private def raw(spark: SparkSession): DataFrame = {
    def url(i: Int) = s"https://www.indiamart.com/proddetail/item-$i.html"
    val rows = (0 until 60).map(i => rawRow(i, url(i), s"${10000000000L + i}")) :+
      rawRow(60, s" ${url(3)} ", s"${10000000000L + 3}.0")
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), Schemas.raw)
  }

  /** The cleaned table (17 [[Schemas.clean]] columns), cached. */
  def clean(spark: SparkSession): DataFrame =
    CleanPipeline.run(raw(spark), Some("2024-06-01T00:00:00Z")).clean.cache()
}
