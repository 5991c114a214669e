package graft.analytics

import graft.{GraftQuery, Tables}
import graft.sources.Sources
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source/sink CONTRACT queries: SURVEY.md §2.1 operators exercised
  * end-to-end inside the driver's oracle gate, not just in specs —
  * each writes through the real sink, reads back through the declared
  * schema scan, and aggregates; the DuckDB oracle computes the same
  * aggregate from the original parquet, so any round-trip loss (type
  * coercion, quoting, NaN sentinels, JSON escaping) breaks the hash.
  *
  * Scratch layout: [[Scratch.dir]], a per-JVM, per-SF-dir path, overwrite
  * mode — re-runs replace rather than accumulate, and the read-back
  * DataFrame stays valid for the caller's later action (a delete-after-
  * build would race Bench/Verify's lazy execution).
  */
object SourceQueries {

  /** S6 — the SQL text entry point: registered catalog views + a pure
    * `spark.sql` program (fact-fact join, decimal rollup). Proves a SQL
    * user of the engine gets the same plans and numbers as the
    * DataFrame API. */
  val qSqlCatalog = GraftQuery(
    "q_sql_catalog",
    (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""SELECT o_orderpriority,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
          COUNT(*) AS n_items
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")
    },
    Some("""SELECT o_orderpriority,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        COUNT(*) AS n_items
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority ORDER BY o_orderpriority""")
  )

  /** S2+S1 — CSV sink with the "NaN" sentinel, read back through a
    * DECLARED schema (never inferSchema), aggregated. Doubles survive
    * because Spark writes shortest-round-trip decimal strings; the
    * formatted-date min matches chronological min lexicographically. */
  val qCsvRoundtrip = GraftQuery(
    "q_csv_roundtrip",
    (s, dir) => {
      import s.implicits._
      val out = Scratch.dir("csv_rt", dir)
      Sources.writeCsvNaN(
        Tables.orders(s, dir).select($"o_orderkey", $"o_custkey", $"o_orderstatus",
          $"o_totalprice",
          date_format($"o_orderdate", "yyyy-MM-dd HH:mm:ss").as("o_orderdate_s"),
          $"o_orderpriority"),
        out)
      val schema = StructType(Seq(
        StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
        StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
        StructField("o_orderdate_s", StringType), StructField("o_orderpriority", StringType)))
      s.read
        .option("header", "true").option("nullValue", "NaN")
        .option("quote", "\"").option("escape", "\"")
        .schema(schema).csv(out)
        .groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum($"o_totalprice".cast(DecimalType(18, 2))).cast(DoubleType).as("total"),
          min($"o_orderdate_s").as("first_date"))
        .orderBy($"o_orderstatus")
    },
    Some("""SELECT o_orderstatus, COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        STRFTIME(MIN(o_orderdate), '%Y-%m-%d %H:%M:%S') AS first_date
      FROM orders GROUP BY 1 ORDER BY 1""")
  )

  /** S4 — JSONL sink + declared-schema JSONL scan round trip over the
    * documents table (newlines/quotes exercise JSON escaping); the
    * content-hash min proves the text column itself survived, not just
    * the numerics. */
  val qJsonlRoundtrip = GraftQuery(
    "q_jsonl_roundtrip",
    (s, dir) => {
      import s.implicits._
      val out = Scratch.dir("jsonl_rt", dir)
      Sources.writeJsonl(Tables.documents(s, dir), out)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      Sources.readJsonl(s, out, schema)
        .groupBy($"source", $"lang")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("total_chars"),
          min(md5($"text")).as("min_md5"))
        .orderBy($"source", $"lang")
    },
    Some("""SELECT source, lang, COUNT(*) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        MIN(md5(text)) AS min_md5
      FROM documents GROUP BY 1, 2 ORDER BY 1, 2""")
  )

  /** §2.10 — the CUSTOM expressions through their SQL registrations
    * (GraftExtensions), driven purely as SQL text: graft_cosine (native
    * codegen'd scalar) over lead-paired embeddings and
    * graft_exact_quantiles (TypedImperativeAggregate) for the per-label
    * median, oracled against DuckDB's list_cosine_similarity +
    * quantile_cont. The quantile runs over INTEGER MICRO-UNITS
    * (round(cos·10⁶)) and the median is EMITTED in micro-units too:
    * integer-valued doubles interpolate bit-exactly under ANY formula
    * (midpoints are exact .5 halves), whereas dividing back by 10⁶ and
    * re-rounding diverges between Spark's shortest-repr HALF_UP and
    * DuckDB's scaled std::round on ~1% of half-grid midpoints — both
    * failure modes observed at sf0.001. */
  val qSqlFunctions = GraftQuery(
    "q_sql_functions",
    (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""WITH c AS (
          SELECT label,
            ROUND(graft_cosine(CAST(embedding AS ARRAY<DOUBLE>),
              LEAD(CAST(embedding AS ARRAY<DOUBLE>)) OVER (PARTITION BY label ORDER BY vec_id)) * 1000000.0D) AS cos_micro
          FROM embeddings)
        SELECT label, COUNT(cos_micro) AS n_pairs,
          element_at(graft_exact_quantiles(cos_micro, 0.5D), 1) AS median_cos_micro
        FROM c WHERE cos_micro IS NOT NULL
        GROUP BY label ORDER BY label""")
    },
    Some("""WITH e AS (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      c AS (SELECT label,
          ROUND(list_cosine_similarity(v, LEAD(v) OVER (PARTITION BY label ORDER BY vec_id)) * 1000000.0) AS cos_micro
        FROM e)
      SELECT label, COUNT(cos_micro) AS n_pairs,
        quantile_cont(cos_micro, 0.5) AS median_cos_micro
      FROM c WHERE cos_micro IS NOT NULL
      GROUP BY label ORDER BY label""")
  )

  /** ORC round trip: lineitem's decimals/dates/strings written to ORC,
    * read back, and rolled up — the oracle computes the same rollup from
    * the PARQUET table, so a hash match proves the format conversion is
    * lossless (DuckDB never sees the ORC side). Spark's ORC path keeps
    * the same pushdown/pruning plan properties as parquet. */
  val qOrcRoundtrip = GraftQuery(
    "q_orc_roundtrip",
    (s, dir) => {
      import s.implicits._
      val out = Scratch.dir("orc_rt", dir)
      val sel = Tables.lineitem(s, dir).select($"l_orderkey", $"l_linenumber",
        $"l_returnflag", $"l_quantity", $"l_extendedprice", $"l_shipdate")
      graft.sources.Sources.writeOrc(sel, out)
      graft.sources.Sources.readOrc(s, out, sel.schema)
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum($"l_quantity".cast(DecimalType(18, 2))).cast(DoubleType).as("sum_qty"),
          sum($"l_extendedprice".cast(DecimalType(18, 2))).cast(DoubleType).as("sum_price"),
          date_format(min($"l_shipdate"), "yyyy-MM-dd").as("first_ship"))
        .orderBy($"l_returnflag")
    },
    Some("""SELECT l_returnflag, COUNT(*) AS n,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        STRFTIME(MIN(l_shipdate), '%Y-%m-%d') AS first_ship
      FROM lineitem GROUP BY 1 ORDER BY 1""")
  )

  /** Schema EVOLUTION read: two parquet generations land in one
    * directory — gen-1 before `o_orderstatus` existed, gen-2 after —
    * and [[graft.operators.Maintenance.readEvolved]] (mergeSchema)
    * reads them as the union schema with older files null-padded, the
    * append-only ingest reality at 100 TB. Generations are a
    * deterministic orderkey-parity split; the rollup proves exactly the
    * padding contract (every gen-1 row null, no gen-2 row null) and
    * that values survive the merge. The oracle replays the split from
    * the ORIGINAL table — a hash match means the evolved read lost and
    * invented nothing. */
  val qSchemaEvolution = GraftQuery(
    "q_schema_evolution",
    (s, dir) => {
      import s.implicits._
      val out = Scratch.dir("schema_evo", dir)
      val o = Tables.orders(s, dir)
      o.filter($"o_orderkey" % 2 === 0)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
        .write.mode("overwrite").parquet(out)
      o.filter($"o_orderkey" % 2 === 1)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_orderstatus")
        .write.mode("append").parquet(out)
      graft.operators.Maintenance.readEvolved(s, out)
        .withColumn("generation",
          when($"o_orderkey" % 2 === 0, 1).otherwise(2))
        .groupBy($"generation")
        .agg(count(lit(1)).as("n_rows"),
          sum($"o_orderstatus".isNull.cast("long")).as("n_null_status"),
          countDistinct($"o_orderstatus").as("n_status_values"),
          sum($"o_totalprice".cast(DecimalType(18, 2))).cast(DoubleType)
            .as("sum_price"))
        .orderBy($"generation")
    },
    Some("""WITH g AS (SELECT
        CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 2 END AS generation,
        CASE WHEN o_orderkey % 2 = 0 THEN NULL ELSE o_orderstatus END AS status,
        o_totalprice
      FROM orders)
      SELECT generation, COUNT(*) AS n_rows,
        CAST(SUM(CASE WHEN status IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_status,
        COUNT(DISTINCT status) AS n_status_values,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM g GROUP BY 1 ORDER BY 1""")
  )

  /** Z-ORDER rewrite roundtrip: lineitem clustered along the Morton
    * curve over (l_partkey, l_suppkey) ([[graft.operators.Maintenance
    * .writeZOrdered]]), then scanned back through a predicate on BOTH
    * clustered columns — the access pattern the layout exists for. The
    * oracle computes the same filtered rollup from the ORIGINAL table:
    * a hash match proves the clustered rewrite is content-lossless and
    * filter-transparent (min/max file skipping changes IO, never
    * results). Clustering selectivity itself is spec-pinned
    * (MaintenanceSpec: both columns cluster, a plain sort clusters only
    * the first). */
  val qZorderScan = GraftQuery(
    "q_zorder_scan",
    (s, dir) => {
      import s.implicits._
      val out = Scratch.dir("zorder_li", dir)
      // bits = 4 (16 rank buckets per column): the Morton layout needs only
      // coarse buckets to make min/max stats selective, and the quantile
      // pass dominates the rewrite cost at high bit width — 255 cuts at
      // 0.1% relative error cost ~40x the scan they serve (measured at
      // sf0.1: 79 s -> ~2 s); MaintenanceSpec pins clustering quality
      graft.operators.Maintenance.writeZOrdered(s,
        Tables.lineitem(s, dir).select($"l_orderkey", $"l_partkey", $"l_suppkey",
          $"l_quantity", $"l_extendedprice"),
        Seq("l_partkey", "l_suppkey"), out, numFiles = 16, bits = 4)
      s.read.parquet(out)
        .filter($"l_partkey".between(100, 300) && $"l_suppkey".between(20, 60))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct($"l_orderkey").as("n_orders"),
          sum($"l_quantity".cast(DecimalType(18, 2))).cast(DoubleType).as("sum_qty"),
          sum($"l_extendedprice".cast(DecimalType(18, 2))).cast(DoubleType)
            .as("sum_price"))
    },
    Some("""SELECT COUNT(*) AS n_rows, COUNT(DISTINCT l_orderkey) AS n_orders,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM lineitem
      WHERE l_partkey BETWEEN 100 AND 300 AND l_suppkey BETWEEN 20 AND 60""")
  )

  /** S7 — the scraper's RESILIENT-INGEST contract (retry / exponential
    * backoff / rate limit, scraper.py:222-237,431-520) exercised inside
    * the oracle gate: the events table is staged as 8 deterministic TSV
    * pages, then ingested through [[graft.sources.ResilientSourceProvider]]
    * — a DataSourceV2 whose PARTITION READERS retry each page's flaky
    * open (deterministic injected failures: page p fails its first
    * hash(p) mod 3 attempts) with exponential backoff under a
    * process-wide rate limiter. The ingest contract — every page
    * exactly once despite the failure schedule — is what the hash
    * verifies: the aggregate must equal the plain-parquet oracle, and
    * sum(event_id) per group is the duplicate/omission detector (one
    * re-delivered or dropped page breaks it). Attempt/backoff/grant
    * telemetry is spec-pinned in ResilientSourceSpec. */
  val qResilientIngest = GraftQuery(
    "q_resilient_ingest",
    (s, dir) => {
      import s.implicits._
      val pagesDir = Scratch.dir("resilient_pages", dir)
      graft.sources.ResilientSource.stagePages(
        Tables.events(s, dir), pagesDir, nPages = 8)
      val ingested = s.read
        .format("graft.sources.ResilientSourceProvider")
        .option("maxAttempts", 5)
        .option("maxInjectedFailures", 3)
        .option("backoffBaseMs", 1)
        .load(pagesDir)
      ingested.groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          sum($"event_id").as("sum_event_id"),
          Agg.sumDec($"value", 6).as("sum_value"))
        .orderBy($"event_type")
    },
    Some("""SELECT event_type, COUNT(*) AS n,
        CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1 ORDER BY event_type""")
  )

  val all: Seq[GraftQuery] =
    Seq(qSqlCatalog, qCsvRoundtrip, qJsonlRoundtrip, qSqlFunctions, qOrcRoundtrip,
      qSchemaEvolution, qZorderScan, qResilientIngest)
}
