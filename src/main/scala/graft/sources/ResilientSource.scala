package graft.sources

import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** S7 — the reference scraper's RESILIENT-INGEST semantics
  * (retry / exponential backoff / rate limit of scraper.py:222-237,
  * 431-520), re-expressed Spark-first as a DataSourceV2 whose
  * PARTITION READERS carry the resilience: each "page" of the ingest
  * is one InputPartition, and the flaky fetch (HTTP in the reference;
  * injected deterministic failures here — the container has no
  * network, and the ingest CONTRACT is what's under test) is retried
  * executor-side with exponential backoff under a process-wide rate
  * limiter. That placement is the point of the design: on a cluster,
  * retries must live WITH the task that owns the page — a driver-side
  * retry loop would serialize the ingest and lose data locality, and a
  * task failure (Spark's own retry) would re-fetch every page of the
  * partition instead of the one that failed.
  *
  * Determinism contract: failure injection is a pure function of
  * (page, attempt) — page p fails its first `hash(p) mod maxInjected`
  * attempts and then succeeds — so every run ingests EXACTLY the same
  * rows through a different-looking failure schedule, which is what
  * lets q_resilient_ingest carry a full DuckDB hash oracle (complete
  * exactly-once ingest ⟹ aggregates equal the plain-table oracle; the
  * per-user sum of event_ids doubles as a duplicate/omission detector).
  *
  * Pages are TAB-separated text (the page writer asserts tab-free
  * fields); `ts` stays a STRING column end to end, sidestepping the
  * engine-timezone divergence the repo's oracle rules flag. Permanent
  * failures (page still failing at maxAttempts) throw with the page
  * name — at 100 TB you want the loud task failure and Spark's
  * lineage-based retry, not a silent short count.
  *
  * Scale shape: one partition per page — ingest parallelism = page
  * count, rate limiting is cooperative across the executor's readers
  * (process-wide token interval; on a real cluster this becomes
  * per-executor politeness, the same way the reference throttles one
  * scraper process). Attempt/grant telemetry is collected in
  * process-wide registries (test- and ops-visible, never part of the
  * data path). */
object ResilientSource {

  val PageSchema: StructType = new StructType()
    .add("event_id", LongType).add("ts", StringType)
    .add("user_id", LongType).add("event_type", StringType)
    .add("value", DoubleType).add("props", StringType)

  /** attempts made per page file (basename → count), across the JVM. */
  val attempts: ConcurrentHashMap[String, Integer] = new ConcurrentHashMap()

  /** nanoTime of each rate-limiter grant, in grant order. */
  val grants: java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long] =
    new java.util.concurrent.ConcurrentLinkedQueue()

  private val lastGrant = new AtomicLong(0L)

  def resetTelemetry(): Unit = { attempts.clear(); grants.clear(); lastGrant.set(0L) }

  /** Stage an events DataFrame as `nPages` deterministic TSV pages
    * (`page_i.tsv` holds the rows with event_id ≡ i mod nPages) — the
    * file-backed stand-in for the scraper's paginated fetch. `ts` is
    * formatted to a string here (the page is the wire format); tabs and
    * newlines in props are flattened to spaces (props is free text and
    * never aggregated — the ingest-contract columns are untouched). A
    * null in any contract column would drop a separator via concat_ws
    * and fail the reader's field-count check LOUDLY, which is the
    * correct behavior for a malformed page. */
  def stagePages(events: org.apache.spark.sql.DataFrame, pagesDir: String,
      nPages: Int): Unit = {
    import org.apache.spark.sql.functions._
    require(nPages > 0, s"nPages=$nPages")
    val dirF = new java.io.File(pagesDir)
    dirF.mkdirs()
    Option(dirF.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".tsv")).foreach(_.delete())
    val line = concat_ws("\t",
      col("event_id").cast("string"),
      date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"),
      col("user_id").cast("string"),
      col("event_type"),
      col("value").cast("string"),
      regexp_replace(coalesce(col("props"), lit("")), "[\\t\\n\\r]", " "))
    (0 until nPages).foreach { i =>
      val stage = s"$pagesDir/_stage_$i"
      events.filter(pmod(col("event_id"), lit(nPages)) === i)
        .select(line.as("value"))
        .coalesce(1).write.mode("overwrite").text(stage)
      val part = Option(new java.io.File(stage).listFiles()).getOrElse(Array.empty)
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".txt"))
        .getOrElse(throw new IllegalStateException(s"no staged part file in $stage"))
      java.nio.file.Files.move(part.toPath,
        new java.io.File(pagesDir, f"page_$i%02d.tsv").toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // clean the staging dir (committer metadata)
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(stage))
    }
  }

  /** Cooperative token interval: block until at least `intervalNanos`
    * after the previous grant (CAS loop — contention-safe across the
    * executor's reader threads), then record the grant. */
  private[sources] def acquire(intervalNanos: Long): Unit = {
    if (intervalNanos > 0L) {
      var granted = false
      while (!granted) {
        val prev = lastGrant.get()
        val now = System.nanoTime()
        val at = math.max(now, prev + intervalNanos)
        if (lastGrant.compareAndSet(prev, at)) {
          val wait = at - now
          if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
          granted = true
        }
      }
    }
    grants.add(java.lang.Long.valueOf(System.nanoTime()))
  }

  /** Deterministic injected failure count for a page: the page fails
    * its first `xxhash-ish(basename) mod maxInjected` open attempts. */
  private[sources] def injectedFailures(basename: String, maxInjected: Int): Int =
    if (maxInjected <= 0) 0
    else {
      var h = 1125899906842597L
      basename.foreach(c => h = h * 31 + c)
      (math.floorMod(h, maxInjected.toLong)).toInt
    }
}

/** `spark.read.format("graft.sources.ResilientSource").load(dir)` —
  * TableProvider entry point (full-class-name format, no service file). */
class ResilientSourceProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ResilientSource.PageSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new ResilientTable(new CaseInsensitiveStringMap(properties))
}

final class ResilientTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = s"resilient(${options.get("path")})"
  override def schema(): StructType = ResilientSource.PageSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new ResilientScan(
        Option(opts.get("path")).getOrElse(options.get("path")),
        opts.getInt("maxAttempts", 5),
        opts.getInt("maxInjectedFailures", 3),
        opts.getLong("minIntervalMs", 0L),
        opts.getLong("backoffBaseMs", 1L))
    }
}

final case class PagePartition(path: String, maxAttempts: Int,
    maxInjected: Int, intervalMs: Long, backoffBaseMs: Long,
    conf: org.apache.spark.util.SerializableConfiguration)
  extends InputPartition

final class ResilientScan(dir: String, maxAttempts: Int, maxInjected: Int,
    intervalMs: Long, backoffBaseMs: Long) extends Scan with Batch {
  require(maxInjected < maxAttempts,
    s"maxInjectedFailures=$maxInjected must stay below maxAttempts=$maxAttempts " +
      "(injected failures must be survivable, or the ingest contract is vacuous)")

  // The SESSION's Hadoop conf, captured once at scan-build time (driver
  // side) and shipped serialized into every partition: spark.hadoop.*
  // settings — s3a/gs credentials, endpoints, custom fs.* schemes — must
  // reach both the planner's listing and the executor-side page open, or
  // the object-storage claim below is false. newHadoopConf() copies
  // RUNTIME conf entries verbatim (a runtime `spark.hadoop.X` session
  // conf lands under the prefixed key Hadoop ignores), so the prefix is
  // stripped here the same way SparkContext does for startup entries —
  // runtime credential updates reach the readers too.
  private val hadoopConf = {
    val session = org.apache.spark.sql.SparkSession.active
    val c = session.sessionState.newHadoopConf()
    session.conf.getAll.foreach { case (k, v) =>
      if (k.startsWith("spark.hadoop."))
        c.set(k.substring("spark.hadoop.".length), v)
    }
    new org.apache.spark.util.SerializableConfiguration(c)
  }

  override def readSchema(): StructType = ResilientSource.PageSchema
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] = {
    // list through the Hadoop FileSystem API, not java.io — pages on a
    // real deployment live on object storage (s3a://, gs://, hdfs://),
    // and the same code path must plan them
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(hadoopConf.value)
    require(fs.exists(path), s"resilient source: $dir does not exist")
    val pages = fs.listStatus(path)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".tsv"))
      .sortBy(_.getPath.getName)
    require(pages.nonEmpty, s"resilient source: no .tsv pages under $dir")
    pages.map(p => PagePartition(p.getPath.toString, maxAttempts,
      maxInjected, intervalMs, backoffBaseMs, hadoopConf): InputPartition)
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new ResilientPageReader(p.asInstanceOf[PagePartition])
    }
}

/** One page = one partition: rate-limited, retried open with
  * exponential backoff, then a plain line iterator. */
final class ResilientPageReader(p: PagePartition)
    extends PartitionReader[InternalRow] {

  private val hPath = new org.apache.hadoop.fs.Path(p.path)
  private val basename = hPath.getName
  private var reader: java.io.BufferedReader = _
  private val lines: Iterator[String] = openWithRetry()
  private var current: InternalRow = _

  private def openWithRetry(): Iterator[String] = {
    val failures =
      ResilientSource.injectedFailures(basename, p.maxInjected)
    var attempt = 0
    while (true) {
      attempt += 1
      ResilientSource.attempts.merge(basename, 1, (a, b) =>
        Integer.valueOf(a.intValue() + b.intValue()))
      ResilientSource.acquire(p.intervalMs * 1000000L)
      if (attempt > failures) {
        // the real fetch (Hadoop FS, resolved through the session conf
        // shipped in the partition — same path works on object
        // storage); injected failures are exhausted for this page
        val fs = hPath.getFileSystem(p.conf.value)
        reader = new java.io.BufferedReader(new java.io.InputStreamReader(
          fs.open(hPath), StandardCharsets.UTF_8))
        return Iterator.continually(reader.readLine()).takeWhile(_ != null)
      }
      if (attempt >= p.maxAttempts)
        throw new java.io.IOException(
          s"resilient source: page $basename still failing at attempt $attempt " +
            s"of ${p.maxAttempts} — surfacing the task failure")
      // exponential backoff before the next attempt (scraper.py:222-237)
      Thread.sleep(p.backoffBaseMs << (attempt - 1))
    }
    throw new IllegalStateException("unreachable")
  }

  override def next(): Boolean =
    if (!lines.hasNext) false
    else {
      val f = lines.next().split("\t", -1)
      require(f.length == 6, s"malformed page line in $basename: ${f.length} fields")
      current = new GenericInternalRow(Array[Any](
        f(0).toLong, UTF8String.fromString(f(1)), f(2).toLong,
        UTF8String.fromString(f(3)), f(4).toDouble,
        UTF8String.fromString(f(5))))
      true
    }

  override def get(): InternalRow = current
  override def close(): Unit = if (reader != null) reader.close()
}
