package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** SCALING.md claims AQE's skew-join handling covers sort-merge-join
  * skew at runtime — this spec makes that concrete: a join with one hot
  * key must show AQE's skew split in the final plan, and the explicit
  * salting utilities must agree with their unsalted formulations. */
class SkewJoinSpec extends SparkSpec {

  test("AQE splits the skewed SMJ partition at runtime") {
    import spark.implicits._
    // tighten the skew thresholds for test-sized data (runtime-settable),
    // restore afterwards — the session is shared across suites
    graft.Sessions.withConfs(spark,
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
      // keep AQE from coalescing everything into one partition first
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      // one hot key (0) carrying ~97% of the fact side + padding to get
      // over the byte threshold; dim side big enough to not broadcast
      // pad = md5(id): incompressible AND kept through the join (the
      // aggregate below reads it) — shuffle sizes are measured on
      // COMPRESSED map output, so a hot partition of repeated small
      // values would compress under the skew threshold and hide
      val fact = spark.range(300000)
        .select(when($"id" % 100 =!= 0, 0L).otherwise($"id").as("k"),
          md5($"id".cast("string")).as("pad"))
      val dim = spark.range(50000).select($"id".as("k"), lit("d").as("v"))
      // global aggregate only: a per-key aggregate above the join would
      // REQUIRE the join's hash partitioning, and AQE (correctly)
      // refuses to split a skewed partition when downstream operators
      // would then need an extra shuffle — partial aggregation has no
      // distribution requirement, so the split can engage
      val joined = fact.hint("merge").join(dim.hint("merge"), "k")
        .groupBy().agg(count(lit(1)).as("n"), max(length($"pad")).as("m"))
      val row = joined.collect()(0)
      // correctness first: every fact row whose key exists in dim
      // survives — all of them here (k=0 and multiples of 100 < 50000)
      assert(row.getLong(0) === 300000L - (300000L - 50000L) / 100)
      assert(row.getInt(1) === 32)
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("isFinalPlan=true"))
      assert(p.contains("skew=true"),
        s"AQE did not mark the skewed join — thresholds or data shape off:\n$p")
    }
  }

  test("saltedAgg matches the unsalted aggregate on a skewed key") {
    import spark.implicits._
    val df = spark.range(100000)
      .select(when($"id" % 10 =!= 0, 0L).otherwise($"id" % 97).as("k"),
        lit(1.0).as("v"))
    val salted = Skew.saltedAgg(df, $"k", sum($"v"), partial => sum(partial))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val plain = df.groupBy($"k").agg(sum($"v").as("s"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(salted === plain)
  }
}
