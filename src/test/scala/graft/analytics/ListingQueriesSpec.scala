package graft.analytics

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Listing analytics whose output must not depend on how the clean table
  * happens to be partitioned. */
class ListingQueriesSpec extends SparkSpec {
  import spark.implicits._

  /** 5,000 listings in `parts` partitions: the same rows whatever `parts`
    * is, with repeated (rating, price) pairs across distinct listings. */
  private def listings(parts: Int): DataFrame =
    spark.range(0L, 5000L, 1L, parts).select(
      concat(lit("https://www.indiamart.com/proddetail/item-"), $"id", lit(".html")).as("product_url"),
      (lit(10000000000L) + $"id").cast("string").as("dispid"),
      when($"id" % 9 === 4, lit(null)).otherwise((($"id" * 37) % 40 + 10) / 10.0).as("rating"),
      ((($"id" * 7919) % 900) * 100.0 + 500.0).as("price_numeric"))

  test("scatter sample: 1 and 4 partitions of the same rows give the identical bounded sample") {
    def sample(parts: Int) =
      ListingQueries.scatterRatingPrice(listings(parts)).collect()
        .map(r => (r.getDouble(0), r.getDouble(1))).toSeq
    val one = sample(1)
    assert(listings(4).rdd.getNumPartitions === 4)
    assert(one.length === 1500)
    assert(sample(4) === one)
    // the p99 clip holds: no sampled price above the 99th percentile
    val p99 = listings(1).filter($"rating".isNotNull)
      .agg(expr("percentile(price_numeric, 0.99D)")).first().getDouble(0)
    assert(one.forall(_._2 <= p99))
  }
}
