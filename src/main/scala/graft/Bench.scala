package graft

/** Benchmark main: runs every registered query against
  * SPARK_GRAFT_SF_DIR, forcing full computation through the noop sink
  * (count() would let Catalyst prune the work; noop executes the complete
  * physical plan and discards rows executor-side — no driver collect).
  * Prints ONE JSON line in the driver's expected shape. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // JVM/codegen warmup outside the timed region. Purely SYNTHETIC data
    // (spark.range + a throwaway temp-dir parquet round trip) — no
    // testdata is touched, listed, or cached here, so every timed query
    // still computes from the parquet inputs cold. What this buys: the
    // session-global one-time costs (parquet reader + output committer
    // class init, first shuffle exchange, first broadcast build, first
    // window, first AQE stage orchestration) are real seconds that
    // otherwise land INSIDE the first timed query's first run (measured:
    // q_top_customers first-run 4.5 s solo vs 1.9 s steady, mostly this)
    // — session init is not a property of any query and timing it as one
    // distorts the per-query comparison the bench exists for.
    spark.range(1000000).selectExpr("sum(id)").collect()
    locally {
      import org.apache.spark.sql.functions._
      val warmDir = java.nio.file.Files.createTempDirectory("graft-warmup")
      val warmPath = warmDir.resolve("w.parquet").toString
      val df = spark.range(10000).select(col("id"), (col("id") % 7).as("k"))
      df.write.mode("overwrite").parquet(warmPath)
      val back = spark.read.parquet(warmPath)
      back.join(back.groupBy(col("k")).agg(sum(col("id")).as("s")), "k")
        .join(broadcast(spark.range(7).select(col("id").as("k"))), "k")
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("k")).orderBy(col("id"))))
        .filter(col("rn") <= 3)
        .write.format("noop").mode("overwrite").save()
      // clean the temp dir — the warmup leaves no filesystem residue
      org.apache.hadoop.fs.FileUtil.fullyDelete(warmDir.toFile)
    }

    // two timed runs per query: run 1 includes one-time whole-stage
    // codegen compilation (a fixed per-plan Janino cost, ~seconds for the
    // widest expression trees); run 2 is the steady-state per-batch cost —
    // the number that scales with data volume.
    // SPARK_GRAFT_ONLY=q_a,q_b restricts the run (local iteration aid)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
    val selected = only.fold(SparkEntry.registry)(SparkEntry.select)
    val results = selected.map { q =>
      // a failed query reports -1.0 — a visible sentinel in the JSON, not
      // a plausible-looking near-zero timing
      def once(): Double = {
        val t0 = System.nanoTime()
        try {
          q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] ${q.name} failed: ${e.getMessage}")
            -1.0
        }
      }
      // caches are dropped BETWEEN the runs too: run 2 then measures pure
      // codegen amortization (recompute cost), not a hit on the sketch
      // DataFrames run 1 materialized (cache lookup is by logical plan, so
      // minhash/simhash/ivf would otherwise silently reuse them)
      def clear(): Unit = {
        operators.Caches.unpersistAll()
        spark.catalog.clearCache()
        // collect BETWEEN runs (untimed region): ~100 queries of dropped
        // cache blocks and broadcast relations otherwise accumulate until
        // a multi-second full GC lands INSIDE some later query's timed
        // run (measured: q_tpch_q10 at 6.8 s in full-suite context vs
        // 0.6 s standalone, all three readings — not noise, collections).
        // An explicit GC also lets the ContextCleaner actually release
        // weakly-referenced broadcast/shuffle state each cycle.
        System.gc()
      }
      // steady = MIN of three post-warmup runs FOR EVERY query: single-
      // shot steady readings on this host swing up to 3× from GC/CPU-
      // frequency noise (measured: identical back-to-back runs at 5.1 s
      // and 11.3 s, and a documented ±60% scatter on sub-3 s queries
      // that forced three solo re-benches in round 10), and the minimum
      // of repeated measurements is the standard estimator of the true
      // recompute cost under one-sided noise. Min-of-2 left the short
      // queries — exactly the ones whose SLOPE ratios the 10× audit
      // divides — inside the noise floor, so the third run is paid for
      // everyone, not just the tail. A failed run (-1) must stay -1,
      // never win the min.
      val c = once(); clear()
      val steadies = Seq.fill(3) { val r = once(); clear(); r }
      val st = if (steadies.exists(_ < 0)) -1.0 else steadies.min
      (q.name, c, st, () => { val r = once(); clear(); r })
    }
    // the slowest queries get a FOURTH steady run folded into the min:
    // single-run noise on this host has twice produced ±3× false
    // regression flags precisely on the expensive tail, where one GC or
    // CPU-frequency excursion costs whole seconds
    val slow = results.filter(_._3 > 0).sortBy(-_._3).take(10).map(_._1).toSet
    val refined = results.map { case (name, c, st, again) =>
      if (slow.contains(name)) {
        val st3 = again()
        (name, c, if (st3 < 0) st else math.min(st, st3))
      } else (name, c, st)
    }
    // locale-independent formatting: a comma-decimal default locale would
    // otherwise emit invalid JSON
    def num(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def fmt(f: ((String, Double, Double)) => Double) =
      refined.map(r => "\"" + r._1 + "\":" + num(f(r))).mkString("{", ",", "}")
    val total = refined.map(_._2).sum
    val steady = refined.map(_._3).sum
    val nFailed = refined.count(r => r._2 < 0 || r._3 < 0)
    val json = s"""{"metric":"total","value":${num(total)},"unit":"sec","queries":${fmt(_._2)},"value_steady":${num(steady)},"queries_steady":${fmt(_._3)},"failed":$nFailed,"sf":"$sfDir"}"""
    println(json)
    // the stdout line gets tail-truncated by log capture on big
    // registries — ALSO persist the complete per-query JSON so every
    // query's timing is diffable across rounds
    // a SPARK_GRAFT_ONLY-filtered run must not clobber the full-registry
    // snapshot — route it to BENCH_PARTIAL.json unless explicitly targeted
    val defaultOut = if (only.isEmpty) "BENCH_FULL.json" else "BENCH_PARTIAL.json"
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultOut)
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: java.io.IOException =>
      System.err.println(s"[bench] could not write $outFile: ${e.getMessage}") }
    spark.stop()
  }
}
