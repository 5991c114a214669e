package graft.sources

import graft.schema.Schemas
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** The reference's source/sink surface (SURVEY.md §2.1) on Spark readers
  * and writers. Parquet is the canonical interchange (columnar scans,
  * pushdown, pruning); CSV/JSONL are kept for reference fidelity.
  */
object Sources {

  /** S1 — raw listing CSV scan with the declared 24-column schema
    * (never inferSchema; pandas-style quoting). */
  def readRawCsv(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true").option("multiLine", "true")
      .option("quote", "\"").option("escape", "\"")
      .schema(Schemas.raw)
      .csv(path)

  /** S1 — clean CSV scan: "NaN" sentinels → null, then declared types. */
  def readCleanCsv(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val g = spark.read
      .option("header", "true").option("multiLine", "true")
      .option("quote", "\"").option("escape", "\"")
      .option("nullValue", "NaN")
      .csv(path)
    Schemas.clean.fields.foldLeft(g) { (d, f) =>
      if (d.columns.contains(f.name)) d.withColumn(f.name, col(f.name).try_cast(f.dataType))
      else d
    }
  }

  /** S2 — CSV sink with the reference's literal-"NaN" missing convention
    * (etl.py:419). Quotes escape by DOUBLING (escape = quote), matching
    * both the pandas writer this mirrors and every reader in this file —
    * Spark's default backslash escape would round-trip clean through
    * Spark alone but mis-parse under readRawCsv/readCleanCsv and any
    * RFC-4180 consumer. */
  def writeCsvNaN(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("header", "true").option("nullValue", "NaN")
      .option("quote", "\"").option("escape", "\"")
      .csv(path)

  /** S4 — JSONL sink (scraper.py:532-536): one JSON object per line. */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** S4 read side — JSONL scan with a DECLARED schema (the twin of
    * [[readRawCsv]]; never inferSchema — a schema-inference pass over
    * 100 TB of JSONL is a full extra scan). */
  def readJsonl(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** Columnar-sink alternative — ORC (same writer surface as parquet;
    * useful when the downstream warehouse is ORC-native). Round-trips
    * through the declared schema like every other source here. */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  def readOrc(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).orc(path)

  /** S6 — SQL scan over the catalog (check_db.py:7-16): the row count
    * and a 5-row sample of a table. The reference's S5 table write
    * (`to_sql(..., if_exists="replace")`) is Spark's own
    * `saveAsTable` in overwrite mode. */
  def tableCounts(spark: SparkSession, table: String): (Long, DataFrame) = {
    val n = spark.sql(s"SELECT COUNT(*) AS n FROM $table").collect()(0).getLong(0)
    (n, spark.sql(s"SELECT * FROM $table LIMIT 5"))
  }
}
