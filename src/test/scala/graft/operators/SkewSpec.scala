package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Salting correctness + bucketed-join plan shape (no Exchange). */
class SkewSpec extends SparkSpec {

  private val Dir = "/root/testdata/sf0.001"

  test("salted aggregation equals plain aggregation") {
    val li = Tables.lineitem(spark, Dir)
    val plain = li.groupBy(col("l_returnflag").as("key"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("value"))
      .collect().map(r => r.getString(0) -> r.getDecimal(1)).toMap
    val salted = Skew.saltedAgg(li, col("l_returnflag"),
        sum(col("l_quantity").cast("decimal(18,2)")), partial => sum(partial), salts = 8)
      .collect().map(r => r.getString(0) -> r.getDecimal(1)).toMap
    assert(salted.view.mapValues(_.doubleValue).toMap ===
      plain.view.mapValues(_.doubleValue).toMap)
  }

  test("salted join equals plain join on a skewed key") {
    import spark.implicits._
    // skewed left: 1000 rows of key 1, a few others
    val left = (Seq.fill(1000)(1L) ++ Seq(2L, 3L)).zipWithIndex
      .map { case (k, i) => (k, i.toLong) }.toDF("k", "payload")
    val right = Seq((1L, "one"), (2L, "two"), (4L, "four")).toDF("rk", "name")
    val plain = left.join(right, $"k" === $"rk").count()
    val salted = Skew.saltedJoin(left, right, "k", "rk", salts = 4).count()
    assert(salted === plain)
    assert(salted === 1001L)
  }

  test("bucketed tables join without an Exchange") {
    val orders = Tables.orders(spark, Dir)
    val li = Tables.lineitem(spark, Dir)
    Skew.writeBucketed(orders, "orders_b", "o_orderkey", 4)
    Skew.writeBucketed(li.withColumnRenamed("l_orderkey", "o_orderkey"),
      "lineitem_b", "o_orderkey", 4)
    // at this toy size the planner prefers broadcast (correctly); disable
    // it to expose the bucket co-location a 100 TB fact-fact join relies on
    graft.Sessions.withConfs(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = spark.table("orders_b")
        .join(spark.table("lineitem_b"), "o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected co-located join, got:\n$plan")
      assert(plan.contains("SortMergeJoin"))
      assert(joined.count() === li.count())
    }
  }
}
