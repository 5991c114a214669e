package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver's synthetic star schema (TESTDATA.md).
  *
  * One parquet file per table under `sfDir`. Parquet scans get vectorized
  * reads + predicate pushdown + column pruning for free; at 100 TB the same
  * code path works because nothing here assumes a row count — partitioning
  * comes from the file layout and `spark.sql.files.maxPartitionBytes`.
  */
object Tables {
  val star: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  val all: Seq[String] = star ++ Seq("events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(spark: SparkSession, sfDir: String): DataFrame   = load(spark, sfDir, "region")
  def nation(spark: SparkSession, sfDir: String): DataFrame   = load(spark, sfDir, "nation")
  def customer(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame     = load(spark, sfDir, "part")
  def orders(spark: SparkSession, sfDir: String): DataFrame   = load(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "lineitem")
  /** events.ts has shipped as TWO parquet physical layouts across data
    * generations: TIMESTAMP(NANOS) (which Spark only reads as a long under
    * the legacy conf) and plain TIMESTAMP(MICROS, isAdjustedToUTC=false)
    * (which Spark reads as TIMESTAMP_NTZ). [[normalizeEventsTs]] maps both
    * to session-zoned TimestampType so every downstream query and oracle
    * sees one shape. */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    readNanosAsLong(spark)
    normalizeEventsTs(load(spark, sfDir, "events"))
  }

  /** The one session-conf write outside [[Sessions]], shared by every
    * events loader (batch and streaming): TIMESTAMP(NANOS) files read as
    * their raw long instead of failing. It is not scoped, because whether
    * the conf must still hold when a lazily returned scan executes is
    * open (ROADMAP item 1). */
  private[graft] def readNanosAsLong(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** A batch or streaming events frame with `ts` in any shipped layout →
    * the same frame with `ts` as session-zoned TimestampType:
    * - nanos-long → exact integer DIV to µs (a double division would lose
    *   precision at 1.7e18 ns), then timestamp_micros;
    * - NTZ → cast to TimestampType (identical instants under the UTC
    *   session zone every entry point pins). */
  private[graft] def normalizeEventsTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => raw
      case other => throw new IllegalStateException(
        s"events.ts arrived as unsupported type $other — expected nanos long, TIMESTAMP_NTZ, or TIMESTAMP")
    }
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame  = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")

  /** Register every table as a temp view so the FULL engine surface is
    * reachable through `spark.sql(...)` — together with the
    * GraftExtensions function registrations this is the SQL entry point:
    * `registerAll(spark, dir); spark.sql("SELECT graft_simhash(...) FROM
    * documents")`. Uses the type-corrected loaders (events gets the exact
    * nanos→micros conversion, not the raw nanos long). */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    all.foreach { name =>
      val df = name match {
        case "events" => events(spark, sfDir)
        case other    => load(spark, sfDir, other)
      }
      df.createOrReplaceTempView(name)
    }
}
