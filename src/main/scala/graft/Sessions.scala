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

  /** Runs `body` with the session conf keys `kvs` set, then puts each
    * key back as it was — its previous value, or unset if it had none —
    * also when `body` throws. The one way code overrides session conf
    * for its own duration (the streaming runners' state-store scopes).
    *
    * SINGLE-WRITER assumption: the override is session-global while
    * `body` runs, so a concurrent query planned on the same SparkSession
    * meanwhile picks it up. The sequential Verify/Bench harness satisfies
    * this; concurrent use needs a dedicated session. */
  private[graft] def withConfs[T](spark: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
