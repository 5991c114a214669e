package graft.tools

import graft.SparkEntry

/** Perf-loop helper: print the formatted physical plan, a one-line
  * operator census (exchange/join/window counts — the raw material for
  * PlanAuditSpec assertions) and timed runs of one or more registered
  * queries (comma-separated), in ONE JVM/session — the per-query timings
  * then measure plans, not session startup. `reps` = 0 skips the timed
  * runs.
  *
  * Usage: runMain graft.tools.Explain <q1[,q2,...]> [sfDir] [reps]
  *
  * SPARK_GRAFT_PLAN_DIR=<dir> (+ optional SPARK_GRAFT_PLAN_SUFFIX, e.g.
  * `_before`) persists each formatted plan to <dir>/<name><suffix>.txt —
  * the plans/rNN evidence files the optimization rounds commit. Timed
  * reps use the noop sink and clear operator caches between runs,
  * mirroring the Bench steady methodology (optimization guide 1.4).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val queries = SparkEntry.select(args(0))
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = graft.Sessions.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val planDir = sys.env.get("SPARK_GRAFT_PLAN_DIR")
    val planSuffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "")
    queries.foreach { q =>
      val name = q.name
      spark.sparkContext.setJobDescription(s"explain:$name")
      val df = q.run(spark, sfDir)
      val planText = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      println(s"==== $name ====")
      println(planText)
      println(census(name, df.queryExecution.executedPlan.toString))
      planDir.foreach { d =>
        val p = java.nio.file.Paths.get(d, s"$name$planSuffix.txt")
        Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
        java.nio.file.Files.write(p,
          planText.getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
      }
      for (i <- 1 to reps) {
        // fresh plan per rep + cache clear between runs: the timing is
        // the recompute cost, exactly as Bench measures steady runs
        val t0 = System.nanoTime()
        q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
        println(f"[explain] $name run $i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
        graft.operators.Caches.unpersistAll()
        spark.catalog.clearCache()
        System.gc()
      }
      spark.sparkContext.setJobDescription(null)
    }
    spark.stop()
  }

  private def census(name: String, plan: String): String = {
    def n(op: String) = op.r.findAllIn(plan).length
    s"PLAN $name exch=${n("Exchange hashpartitioning")} range=${n("Exchange rangepartitioning")} " +
      s"bhj=${n("BroadcastHashJoin")} smj=${n("SortMergeJoin")} bnl=${n("BroadcastNestedLoopJoin")} " +
      s"cart=${plan.contains("CartesianProduct")} win=${plan.contains("windowspecdefinition")}"
  }
}
