package graft.sources

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** The partitioned-layout contract: a date-partitioned write turns a
  * date-bounded scan into partition PRUNING — the planner selects the
  * matching directories and the other partitions are never opened. This
  * plus bucketing (SkewSpec/PlanAuditSpec) is the complete at-rest
  * layout story for 100 TB fact tables. Also covers the ORC round-trip.
  */
class PartitionedLayoutSpec extends SparkSpec {
  import spark.implicits._

  private val Dir = "/root/testdata/sf0.001"

  test("date-partitioned events: bounded scan prunes to selected partitions") {
    val out = tempDir("graft_part").toString
    val ev = Tables.events(spark, Dir)
      .withColumn("event_date", date_format($"ts", "yyyy-MM-dd"))
    ev.write.mode("overwrite").partitionBy("event_date").parquet(out)

    val read = spark.read.parquet(out)
    val bounded = read.filter($"event_date" >= "2024-01-10" && $"event_date" <= "2024-01-12")
    val plan = bounded.queryExecution.executedPlan
    val scan = plan.collectLeaves().map(_.toString)
      .find(_.contains("FileScan")).getOrElse(fail("no file scan"))
    // the date bound must appear as a PartitionFilter (planning-time
    // pruning), NOT as a PushedFilter/post-scan Filter over data pages
    assert(scan.contains("PartitionFilters") &&
      scan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("event_date"),
      s"date bound did not become a partition filter:\n$scan")

    // row parity with the unpartitioned filter — and execution must have
    // OPENED only the 3 matching partition files (inputFiles reports the
    // unpruned relation, so use the scan's numFiles metric instead)
    val expected = Tables.events(spark, Dir)
      .filter(date_format($"ts", "yyyy-MM-dd").between("2024-01-10", "2024-01-12")).count()
    // collect() (not count()) — count() builds a NEW QueryExecution whose
    // metrics are invisible from this plan instance
    assert(bounded.collect().length == expected)
    val scanExec = bounded.queryExecution.executedPlan.collectLeaves()
      .find(_.toString.contains("FileScan")).getOrElse(fail("no file scan"))
    val numFiles = scanExec.metrics.get("numFiles").map(_.value)
    assert(numFiles.contains(3L),
      s"expected 3 partition files read, got $numFiles")
  }

  test("ORC round-trip preserves schema and rows") {
    val out = tempDir("graft_orc").toString
    val src = Tables.nation(spark, Dir)
    Sources.writeOrc(src, out)
    val back = Sources.readOrc(spark, out, src.schema)
    assert(back.schema == src.schema)
    assert(back.orderBy($"n_nationkey").collect().toSeq ==
      src.orderBy($"n_nationkey").collect().toSeq)
  }
}
