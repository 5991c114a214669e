package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Registry for DataFrames the operators cache internally (minhash/simhash
  * sketches, shingle sets, LSH buckets). The pair operators cache an
  * intermediate that feeds both sides of a self-join; the returned plan is
  * lazy, so the operator itself can never know when it is safe to
  * unpersist. Long-lived sessions call [[unpersistAll]] between queries
  * (Verify and Bench do).
  *
  * Lifetime design — two earlier designs both leaked:
  * weak references to the Datasets made unpersistAll a silent no-op after
  * any GC (the operator's Dataset is unreachable the moment it returns,
  * while the CacheManager pins the cached data regardless), and holding
  * logical plans in a weak-keyed session map pins the session forever
  * (plans reach their session through HadoopFsRelation, so the value
  * resurrects the weak key). So: STRONG references, with growth bounded
  * instead — at most [[MaxPerSession]] entries per session, evicting
  * (and unpersisting) the oldest beyond that, and entries of stopped
  * sessions are purged on every registry access. A user who never calls
  * unpersistAll is capped at MaxPerSession cached relations, which the
  * operators churn through naturally.
  */
object Caches {

  /** Upper bound on remembered caches per session; the oldest entry is
    * unpersisted when a new registration would exceed it. Operator
    * caches are consumed within one query, so 64 is generous headroom
    * for even deeply composed pipelines. */
  val MaxPerSession = 64

  private val refs =
    scala.collection.mutable.LinkedHashMap.empty[SparkSession,
      scala.collection.mutable.ArrayBuffer[DataFrame]]

  private def purgeStopped(): Unit =
    refs.filterInPlace((spark, _) => !spark.sparkContext.isStopped)

  /** Cache `df` and remember it for later [[unpersistAll]]. */
  def register(df: DataFrame): DataFrame = synchronized {
    purgeStopped()
    val buf = refs.getOrElseUpdate(df.sparkSession,
      scala.collection.mutable.ArrayBuffer.empty[DataFrame])
    if (buf.size >= MaxPerSession) {
      // a long composed pipeline can still hold a lazy plan over the
      // evicted cache — that plan silently recomputes, so say which one
      val evicted = buf.remove(0)
      System.err.println(
        s"[caches] cap ($MaxPerSession) reached — " +
          s"unpersisting oldest cached plan; later reuse of it will recompute: " +
          evicted.queryExecution.logical.nodeName + " " +
          evicted.schema.fieldNames.take(6).mkString("(", ", ", ", ...)"))
      evicted.unpersist()
    }
    buf += df
    df.cache()
  }

  /** Unpersist every operator-cached DataFrame of every live session
    * registered so far. */
  def unpersistAll(): Unit = synchronized {
    purgeStopped()
    refs.valuesIterator.foreach(_.foreach(_.unpersist()))
    refs.clear()
  }
}
