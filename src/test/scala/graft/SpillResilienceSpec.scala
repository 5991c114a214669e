package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

/** Evidence that the heavy shapes survive memory pressure, not just that
  * their plans LOOK right: the same queries must complete and produce
  * IDENTICAL results when (a) the shuffle is squeezed through a single
  * partition (worst-case per-task data volume) and (b) the buffering
  * operators are forced to spill to disk via their session-settable
  * spill thresholds — with task metrics proving bytes actually hit disk.
  * Local heaps are too big to trigger organic spill at test SF, so the
  * thresholds stand in for the 100 TB condition: an operator that is
  * correct only while its buffer fits in memory fails here. */
class SpillResilienceSpec extends SparkSpec {

  private val Dir = "/root/testdata/sf0.01"

  test("window + sort-merge join complete identically under forced disk spill") {
    // window over 3 fat partitions (l_returnflag) + an SMJ whose
    // buffered-match groups exceed a 16-row threshold — both operators
    // must page their buffers to disk and still return the same rows
    def shape() = {
      val li = Tables.lineitem(spark, Dir)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_returnflag"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
      val cum = li.select(col("l_returnflag"), col("l_orderkey"),
        col("l_linenumber"), sum(col("l_quantity")).over(w).as("cum_qty"))
      val ord = Tables.orders(spark, Dir)
        .select(col("o_orderkey"), col("o_orderpriority"))
      cum.join(ord, cum("l_orderkey") === ord("o_orderkey"))
        .groupBy(col("l_returnflag"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("cum_qty")).as("s"))
        .orderBy(col("l_returnflag"), col("o_orderpriority"))
    }
    val baseline = shape().collect().toSeq

    @volatile var diskSpilled = 0L
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null) diskSpilled += t.taskMetrics.diskBytesSpilled
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Sessions.withConfs(spark,
        "spark.sql.windowExec.buffer.spill.threshold" -> "128",
        "spark.sql.sortMergeJoinExec.buffer.spill.threshold" -> "16",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.join.preferSortMergeJoin" -> "true",
        "spark.sql.shuffle.partitions" -> "2") {
        val constrained = shape().collect().toSeq
        assert(constrained === baseline,
          "results must be identical under forced spill")
      }
      // task-end metrics post asynchronously; poll briefly for the proof
      val deadline = System.nanoTime() + 10e9.toLong
      while (diskSpilled == 0L && System.nanoTime() < deadline) Thread.sleep(100)
      assert(diskSpilled > 0L,
        "expected the squeezed run to spill buffer bytes to disk")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("sketch aggregates (TypedImperativeAggregate) are identical under sort-based fallback") {
    // q_kmv_distinct (custom KmvSketch) and q_hll_rollup (DataSketches
    // HLL built per grain then union-merged) are the 100 TB workhorse
    // aggregates; their buffers live in ObjectHashAggregateExec, whose
    // overflow behavior is the one spill path the window/SMJ test does
    // not cover. fallbackThreshold=1 evicts every group past the first
    // from the hash map into SORT-BASED aggregation — the path where
    // sketch state is serialized/deserialized between partial and final
    // rather than held live in the map (exactly what a hash-map
    // overflow forces at scale) — and one shuffle partition maximizes
    // per-task group count. Output must be bitwise identical: a sketch
    // whose serialize/merge round-trip loses state fails here.
    def run(name: String) = {
      operators.Caches.unpersistAll()
      spark.catalog.clearCache()
      SparkEntry.queries(name)(spark, Dir).collect().toSeq
    }
    // the knob only governs this shape if the plan really is object-hash
    val plan = SparkEntry.queries("q_kmv_distinct")(spark, Dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"),
      s"q_kmv_distinct must aggregate via ObjectHashAggregateExec:\n$plan")
    for (name <- Seq("q_kmv_distinct", "q_hll_rollup")) {
      val baseline = run(name)
      Sessions.withConfs(spark,
        "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "1",
        "spark.sql.shuffle.partitions" -> "1") {
        assert(run(name) === baseline,
          s"$name must be identical under the sort-based fallback path")
      }
    }
  }

  test("q_array_agg (ObjectHashAggregate collect_list) is identical under sort-based fallback") {
    // the ordered-array aggregation: same fallback squeeze as above but
    // for the generic collect-then-sort shape whose per-group state is
    // unbounded (an array, not a fixed-size sketch)
    def run() = SparkEntry.queries("q_array_agg")(spark, Dir).collect().toSeq
    val plan = SparkEntry.queries("q_array_agg")(spark, Dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"),
      s"q_array_agg must aggregate via ObjectHashAggregateExec:\n$plan")
    val baseline = run()
    Sessions.withConfs(spark,
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "1",
      "spark.sql.shuffle.partitions" -> "1") {
      assert(run() === baseline,
        "q_array_agg must be identical under the sort-based fallback path")
    }
  }

  test("q_dedup_components is partition-count independent (single-partition shuffle)") {
    // the heaviest iterative shuffle in the registry squeezed through ONE
    // shuffle partition — completion + identical output shows the
    // algorithm carries no per-partition assumptions (the property that
    // lets the same code run at 32 or 20k partitions). withMaxRows(0)
    // forces the distributed star-contraction rounds: at the default bound
    // the sf0.01 pair graph (25 pairs) closes by driver union-find and no
    // round shuffles at all. The rounds run at the session's partition
    // count, so the single partition reaches every star round as well as
    // the pair generation and the edge materialization before the loop
    def run() = SparkEntry.queries("q_dedup_components")(spark, Dir)
      .collect().toSeq
    operators.DriverLoop.withMaxRows(0L) {
      val baseline = run()
      Sessions.withConfs(spark, "spark.sql.shuffle.partitions" -> "1") {
        assert(run() === baseline,
          "single-partition run must reproduce the baseline components")
      }
    }
  }
}
