package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bucketed layout for co-located (shuffle-free) fact-to-fact joins.
  *
  * Key skew itself is left to Spark: a count or sum over a hot key is
  * partially aggregated in every map task before the shuffle (at most one
  * row per task and key crosses it), and AQE's skew join splits a hot
  * sort-merge-join partition at runtime. Hand salting adds a shuffle or
  * replicates the join's right side; measured on local[4] it was slower
  * than these plain plans on every input (CHANGES.md). q_key_skew_report
  * measures the skew itself.
  */
object Skew {

  /** Write both sides bucketed by the join key: subsequent joins between
    * the two tables are co-located — SortMergeJoin with NO Exchange.
    * The 100 TB pattern: bucket the fact tables once at ingest, join free
    * forever after. */
  def writeBucketed(
      df: DataFrame, table: String, bucketCol: String, buckets: Int): Unit = {
    val spark = df.sparkSession
    require(!table.contains("."),
      s"table '$table' must be unqualified — it is created in the CURRENT database")
    val existedInCatalog = spark.catalog.tableExists(table)
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    // an in-memory catalog forgets its tables at session end but the
    // managed location survives in the warehouse dir; saveAsTable then
    // refuses with LOCATION_ALREADY_EXISTS — remove the orphan first.
    // The CATALOG resolves the location (current database, including
    // databases created with a custom LOCATION) — re-deriving it from
    // the warehouse dir by naming convention would miss those and could
    // delete another database's table of the same name.
    // Deletion is restricted to TRUE orphans: if the catalog knew the
    // table, DROP above already removed managed data (and an EXTERNAL
    // table's data is deliberately left — saveAsTable then fails loudly
    // with LOCATION_ALREADY_EXISTS instead of us destroying it). An
    // orphan directory is only removed when it is table-shaped
    // (empty, or holding _SUCCESS / part files / parquet), so unrelated
    // files that coincidentally live at the default location survive.
    val loc = new org.apache.hadoop.fs.Path(
      org.apache.spark.sql.graftshim.ColumnShim.defaultTablePath(spark, table))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!existedInCatalog && fs.exists(loc)) {
      val children = fs.listStatus(loc)
      // ALL children must look like table output (forall, not exists):
      // one stray part- file next to a user's unrelated files must not
      // condemn the whole directory
      val tableShaped = children.forall { st =>
        val n = st.getPath.getName
        n == "_SUCCESS" || n.startsWith("part-") || n.startsWith("_temporary") ||
          n.startsWith(".") || n.endsWith(".parquet")
      }
      if (tableShaped) {
        System.err.println(s"[skew] removing orphan table location $loc")
        fs.delete(loc, true)
      } else {
        System.err.println(
          s"[skew] NOT deleting $loc — contents do not look like a table; " +
            "saveAsTable will fail with LOCATION_ALREADY_EXISTS")
      }
    }
    // pre-cluster by the bucket hash: without this every write task emits
    // a file per bucket it sees (tasks × buckets small files, and multi-
    // file buckets force a sort on read); with it, each bucket is one
    // sorted file and bucketed reads satisfy ordering too
    df.repartition(buckets, col(bucketCol))
      .write.mode("overwrite")
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)
  }
}
