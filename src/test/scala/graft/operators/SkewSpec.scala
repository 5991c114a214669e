package graft.operators

import graft.{SparkSpec, Tables}

/** Bucketed-join plan shape: co-located tables join with no Exchange. */
class SkewSpec extends SparkSpec {

  private val Dir = "/root/testdata/sf0.001"

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
