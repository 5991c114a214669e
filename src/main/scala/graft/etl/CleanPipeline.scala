package graft.etl

import graft.functions.Cleaning
import graft.quality.Profiler
import graft.schema.Schemas
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType}

/** The reference's EP1 batch ETL (run_pipeline, etl.py:453-473) as ONE lazy
  * DataFrame program.
  *
  * The pandas version mutates eagerly step by step; here the whole chain is
  * a single Catalyst expression graph, so column pruning / predicate
  * pushdown / codegen apply across "steps". Side outputs (issues, profile)
  * are separate actions over a shared `cache()`d upstream.
  *
  * Row order: "keep first" dedup (etl.py:358-368) and issue row_index
  * (etl.py:321) are defined by input file order. File order is carried
  * explicitly as `_row_index` (monotonically_increasing_id) — an
  * arbitrary-order dropDuplicates would be nondeterministic in a
  * distributed engine.
  *
  * PRECONDITION for ingest-order fidelity: `_row_index` follows file order
  * only when the input is a SINGLE unsplittable split — Spark packs file
  * splits into partitions sorted by size descending, so multi-file or
  * splittable inputs would reorder. The raw CSV reader satisfies this
  * (multiLine=true forces one split per file) with one input file; for
  * multi-file inputs derive order from an explicit source column instead
  * (e.g. input_file_name() + a per-file sequence).
  */
object CleanPipeline {

  final case class EtlResult(clean: DataFrame, issues: DataFrame, profile: DataFrame)

  private val RowIdx = "_row_index"

  /** @param exactPythonTitle use the byte-exact Python `str.title()` UDF
    *   for supplier/city/state casing (golden parity); default `initcap`
    *   (codegen'd, scale path).
    * @param fallbackScrapedAt ISO-8601 backfill when scraped_at is absent
    *   or entirely null (etl.py:243-252 uses the file mtime). */
  def run(
      raw0: DataFrame,
      fallbackScrapedAt: Option[String] = None,
      exactPythonTitle: Boolean = false): EtlResult = {

    // -- load_raw_data (etl.py:228-254): snake_case + scraped_at backfill
    val snake = raw0.toDF(raw0.columns.toSeq.map(Cleaning.toSnakeCase): _*)
      .withColumn(RowIdx, monotonically_increasing_id())
    val hasScraped = snake.columns.contains("scraped_at")
    val scrapedAllNull = !hasScraped ||
      snake.agg(count(Cleaning.cleanText(col("scraped_at")))).collect()(0).getLong(0) == 0L
    val loaded =
      if (scrapedAllNull)
        snake.withColumn("scraped_at", lit(fallbackScrapedAt.orNull).cast(StringType))
      else snake

    // -- standardize_fields (etl.py:257-274): clean every string col, then
    //    the column-specific normalizers
    val strCols = loaded.schema.fields
      .filter(f => f.dataType == StringType && f.name != RowIdx).map(_.name)
    val cleaned0 = loaded.select(loaded.columns.map { c =>
      if (strCols.contains(c)) Cleaning.cleanText(col(c)).as(c) else col(c)
    }.toSeq: _*)
    val title: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      if (exactPythonTitle) Cleaning.pyTitle else initcap(_)
    val standardized = cleaned0
      .transformIf("search_keyword", Cleaning.normalizeKeyword)
      .transformIf("city", c => Cleaning.normalizeCityState(c, exactPythonTitle))
      .transformIf("state", c => Cleaning.normalizeCityState(c, exactPythonTitle))
      .transformIf("supplier_name", title)

    // -- fix_types_and_features (etl.py:277-312)
    val typed0 = standardized
      .withColumn("price_numeric",
        if (standardized.columns.contains("price")) Cleaning.parsePriceToNumber(col("price"))
        else lit(null).cast(DoubleType))
      .withColumn("price_unit",
        if (standardized.columns.contains("price")) Cleaning.extractPriceUnit(col("price"))
        else lit(null).cast(StringType))
      .transformIf("rating", Cleaning.toNumericDouble)
    val typed1 = Seq("catid", "mcatid", "itemid", "dispid")
      .foldLeft(typed0)((d, c) => d.transformIf(c, Cleaning.toNumericLong))
    val typed2 =
      if (typed1.columns.contains("phone"))
        typed1
          .withColumn("phone_hash", Cleaning.sha256Hash(Cleaning.cleanPhoneDigits(col("phone"))))
          .drop("phone")
      else typed1

    // winsorize (etl.py:210-222,303-306): two-pass — exact IQR bounds on the
    // non-null prices (one agg job), then clip; guard `count >= 10`.
    // typed2 is cached HERE: the bounds collect below is its first
    // materialization, and the featured/issues/main chains all reuse it —
    // without the cache the whole parse+clean chain would re-execute per
    // consumer.
    typed2.cache()
    val st = typed2.agg(
      count(col("price_numeric")).as("n"),
      expr("percentile(price_numeric, 0.25D)").as("q1"),
      expr("percentile(price_numeric, 0.75D)").as("q3")).collect()(0)
    val winsor =
      if (st.getAs[Long]("n") >= 10) {
        val q1 = st.getAs[Double]("q1"); val q3 = st.getAs[Double]("q3")
        val (lo, hi) = (q1 - 1.5 * (q3 - q1), q3 + 1.5 * (q3 - q1))
        // greatest/least skip nulls (unlike pandas clip) — preserve them
        when(col("price_numeric").isNull, lit(null).cast(DoubleType))
          .otherwise(least(greatest(col("price_numeric"), lit(lo)), lit(hi)))
      } else col("price_numeric")
    val featured = typed2
      .withColumn("price_numeric_winsor", winsor)
      .withColumn("price_bucket", Cleaning.priceBucket(col("price_numeric_winsor")))
      .withColumn("supplier_region",
        if (typed2.columns.contains("state")) Cleaning.supplierRegionFromState(col("state"))
        else lit("Unknown"))
    // issues + main chain both derive from featured as cheap projections
    // over the cached typed2 — no second cache needed

    // -- validate_and_collect_issues (etl.py:315-346): the reference's
    //    O(n) Python iterrows loop as ONE vectorized array/filter/explode
    // row.get(col) in the reference tolerates absent columns — guard each
    // rule on column presence
    val has = featured.columns.toSet
    val maybeChecks = Seq(
      has("product_name") -> (() => when(col("product_name").isNull, "missing_product_name")),
      has("supplier_name") -> (() => when(col("supplier_name").isNull, "missing_supplier_name")),
      has("product_url") -> (() =>
        when(col("product_url").isNotNull && !Cleaning.isValidUrl(col("product_url")),
          "invalid_product_url")),
      has("supplier_url") -> (() =>
        when(col("supplier_url").isNotNull && !Cleaning.isValidUrl(col("supplier_url")),
          "invalid_supplier_url")),
      has("price_numeric") -> (() =>
        when(col("price_numeric").isNotNull && col("price_numeric") <= 0, "non_positive_price")),
      has("rating") -> (() =>
        when(col("rating").isNotNull && (col("rating") < 0 || col("rating") > 5),
          "rating_out_of_range")))
    val checks = array(maybeChecks.collect { case (true, c) => c() }: _*)
    val issues = featured
      .select(col(RowIdx).as("row_index"),
        explode(filter(checks, _.isNotNull)).as("issue"))

    // -- handle_missing_values (etl.py:349-355): ONLY city/state
    val imputed = featured.na.fill("Unknown",
      Seq("city", "state").filter(featured.columns.contains))

    // -- deduplicate keep-FIRST on (product_url, dispid) (etl.py:358-368)
    val keys = Seq("product_url", "dispid").filter(imputed.columns.contains)
    val deduped =
      if (keys.nonEmpty) {
        val w = Window.partitionBy(keys.map(col): _*).orderBy(col(RowIdx))
        imputed.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
      } else imputed.dropDuplicates()

    // -- drop_critical_missing (etl.py:371-376)
    val critical = Seq("product_name", "supplier_name").filter(deduped.columns.contains)
    val kept = critical.foldLeft(deduped)((d, c) => d.filter(col(c).isNotNull))

    // -- curate_final_dataset (etl.py:403-408): exact 17-column set+order,
    //    absentees as typed nulls, with the declared types enforced
    val curated = Schemas.clean.fields.foldLeft(kept) { (d, f) =>
      if (d.columns.contains(f.name)) d.withColumn(f.name, col(f.name).try_cast(f.dataType))
      else d.withColumn(f.name, lit(null).cast(f.dataType))
    }
    val ordered = curated.select((Schemas.finalColumns.map(col) :+ col(RowIdx)): _*)

    // -- build_profile_report (etl.py:379-400) on the final dataset
    val profile = Profiler.profile(ordered, orderCol = Some(RowIdx))

    EtlResult(ordered.drop(RowIdx), issues, profile)
  }

  private implicit class DfOps(private val df: DataFrame) extends AnyVal {
    def transformIf(
        c: String,
        f: org.apache.spark.sql.Column => org.apache.spark.sql.Column): DataFrame =
      if (df.columns.contains(c)) df.withColumn(c, f(col(c))) else df
  }
}
