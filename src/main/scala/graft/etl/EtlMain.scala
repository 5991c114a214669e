package graft.etl

import graft.Sessions
import graft.sources.Sources

/** CLI entry point mirroring the reference's `python etl.py --input …`
  * (etl.py:476-486): raw listing CSV in → clean parquet + CSV, issues,
  * profile out.
  *
  * Usage: runMain graft.etl.EtlMain <rawCsv> <outDir> [fallbackScrapedAtIso]
  */
object EtlMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: EtlMain <rawCsv> <outDir> [fallbackScrapedAtIso]")
    val Array(input, outDir) = args.take(2)
    // SPARK_MASTER: the deployment address, when not a local run
    val builder = Sessions.local().appName("graft-etl")
    val spark = sys.env.get("SPARK_MASTER").fold(builder)(builder.master).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val mtime = args.lift(2).orElse {
      val f = new java.io.File(input)
      if (f.exists())
        Some(java.time.Instant.ofEpochMilli(f.lastModified()).toString)
      else None
    }
    val raw = Sources.readRawCsv(spark, input)

    val r = CleanPipeline.run(raw, mtime)
    r.clean.write.mode("overwrite").parquet(s"$outDir/clean.parquet")
    // reference-fidelity CSV sink: literal "NaN" for missing (etl.py:419)
    r.clean.coalesce(1).write.mode("overwrite")
      .option("header", "true").option("nullValue", "NaN").csv(s"$outDir/clean_csv")
    r.issues.coalesce(1).write.mode("overwrite")
      .option("header", "true").csv(s"$outDir/issues_csv")
    r.profile.coalesce(1).write.mode("overwrite")
      .option("header", "true").csv(s"$outDir/profile_csv")
    println(s"[etl] rows=${r.clean.count()} issues=${r.issues.count()} -> $outDir")
    spark.stop()
  }
}
