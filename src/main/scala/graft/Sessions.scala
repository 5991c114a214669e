package graft

import org.apache.spark.sql.SparkSession

/** The one session configuration every entry point and spec runs:
  * local[cpus], [[GraftExtensions]] (SQL functions + top-k strategy/rule),
  * one shuffle partition per core, UTC session time zone, no UI. */
object Sessions {

  /** SPARK_GRAFT_CPUS, else the host's core count. */
  private def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cpus: Int = defaultCpus): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cpus]")
    .withExtensions(new GraftExtensions)
    .config("spark.sql.shuffle.partitions", cpus.toLong)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
}
