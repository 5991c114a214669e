package graft.streaming

import org.apache.hadoop.fs.FileUtil
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row

/** Structured Streaming shape of the reference's incremental-ingest
  * semantics (SURVEY.md §2.9): the scraper's checkpoint/resume + seen-keys
  * dedup loop (scraper.py:543-621) maps to a file source with
  * checkpointing and watermarked streaming dedup; its per-keyword append
  * accumulation maps to windowed aggregation.
  *
  * At scale this is the ingest path: files land, micro-batches pick them
  * up (maxFilesPerTrigger bounds rework ≡ the reference's rate limiting),
  * state is bounded by the watermark (≡ the 200k seen_keys cap).
  */
object EventsStream {

  /** spark.sql.shuffle.partitions while a runner's stream is live: every
    * stateful operator opens one state store PER shuffle partition per
    * micro-batch, and a short AvailableNow run is dominated by that
    * per-store fixed cost (open, delta write, commit), not by data
    * volume. 4 stores measured best for these state sizes on local[32]
    * (vs 32: q_stream_join 7.1→2.6 s steady at sf0.1); a DURABLE
    * deployment sizes this to peak state volume instead — the count is
    * baked into the checkpoint at first batch and cannot change across
    * restarts. */
  private val StatePartitions = "4"

  /** The events table schema parameterized by how the parquet files
    * present `ts` — LongType nanos under the legacy nanosAsLong conf for
    * the TIMESTAMP(NANOS) data generation, TIMESTAMP_NTZ for the
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) generation. Declared, not
    * inferred, as readStream requires. */
  def eventsRawSchema(tsType: DataType): StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", tsType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Streaming source over events parquet files: a directory, a glob, or
    * a single file (the file source needs a directory basePath, so a bare
    * file path gets one basename character wrapped in a one-element glob
    * class — choosing a character that is NOT a class metacharacter, so
    * names ending in '!', '^', ']' etc. still resolve literally).
    *
    * `maxFilesPerTrigger` bounds how many files each micro-batch ingests
    * (the ingest-path rate limit). The single-file default matches the
    * one-micro-batch precondition of the q_stream_sessions oracle; a
    * real deployment tunes it to the landing rate. */
  def readEvents(spark: SparkSession, path: String,
      maxFilesPerTrigger: Int = 1): DataFrame = {
    require(maxFilesPerTrigger > 0, s"maxFilesPerTrigger=$maxFilesPerTrigger must be positive")
    graft.Tables.readNanosAsLong(spark)
    val hasGlob = path.exists("*?[{".contains(_))
    val src =
      if (!hasGlob && new java.io.File(path).isFile) wrapAsGlob(path)
      else path
    // one batch footer read sniffs which ts generation these files carry
    // (nanos-long vs TIMESTAMP_NTZ — see Tables.events); the streaming
    // declared schema follows it, and Tables.normalizeEventsTs maps it.
    // Sniff the ORIGINAL path — the batch reader takes files, dirs, and
    // globs alike, and skipping the wrapped glob avoids a spurious logged
    // listing miss on the literal `[t]` name.
    val tsType = spark.read.parquet(path).schema("ts").dataType
    graft.Tables.normalizeEventsTs(spark.readStream
      .schema(eventsRawSchema(tsType))
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .parquet(src))
  }

  /** Turn a literal file path into an equivalent one-match glob by
    * wrapping the last glob-class-safe basename character in [...]. */
  private[graft] def wrapAsGlob(path: String): String = {
    val unsafe = "!^]\\-[{}*?"
    val sep = path.lastIndexOf('/')
    val idx = (path.length - 1 to (sep + 1) by -1)
      .find(i => !unsafe.contains(path(i)))
    idx match {
      case Some(i) => path.substring(0, i) + s"[${path(i)}]" + path.substring(i + 1)
      case None => path // every basename char is a metachar — pass through
    }
  }

  /** D2/S8 — streaming incremental dedup across restarts: watermarked
    * dropDuplicatesWithinWatermark on the event key; state is bounded by
    * the watermark horizon (the scalable analogue of the reference's
    * 200k-cap seen_keys set). */
  def dedupedEvents(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(Seq("event_id"))

  /** Windowed aggregation (1-hour tumbling) with watermark — the
    * streaming twin of StarQueries.qEventsHourly. */
  def hourlyCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Run a streaming query to completion over the files already in `dir`
    * (Trigger.AvailableNow — batch-finite, checkpointed), collecting to an
    * in-memory table. Returns the MATERIALIZED result (a local relation):
    * the memory-sink temp view is dropped and the checkpoint directory
    * deleted before returning, so repeated invocations in a long-lived
    * session don't accumulate driver-held tables or /tmp state. (The
    * memory sink already holds all rows on the driver — materializing
    * adds nothing.)
    *
    * Output mode: Append for row streams; use Complete for aggregations
    * that must emit EVERY window at end-of-stream (in Append mode, windows
    * newer than the final watermark stay in state and never emit).
    *
    * The stream runs at [[StatePartitions]] shuffle partitions, set
    * through [[graft.Sessions.withConfs]] for its lifetime. */
  def runAvailableNow(
      spark: SparkSession, query: DataFrame, name: String,
      checkpoint: String, mode: OutputMode = OutputMode.Append): DataFrame =
    try graft.Sessions.withConfs(spark,
        "spark.sql.shuffle.partitions" -> StatePartitions) {
      val q = query.writeStream
        .format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .start()
      val finished = q.awaitTermination(300000)
      if (!finished) {
        q.stop()
        throw new IllegalStateException(
          s"streaming query $name did not finish within 300s — result would be partial")
      }
      val sink = spark.table(name)
      val rows = sink.collect()
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), sink.schema)
    } finally {
      // failure paths must clean up too — checkpoints may live in
      // RAM-backed /dev/shm (ephemeralCheckpoint) and leaks accumulate
      try spark.catalog.dropTempView(name) catch { case _: Exception => () }
      FileUtil.fullyDelete(new java.io.File(checkpoint))
    }

  /** Checkpoint dir for batch-finite runs: tmpfs (/dev/shm) when present
    * — the WAL/state writes of a short AvailableNow run are pure
    * overhead on disk; a DURABLE stream must checkpoint to storage that
    * survives the machine (HDFS/S3), never here. */
  def ephemeralCheckpoint(): String = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val base =
      if (java.nio.file.Files.isDirectory(shm) && java.nio.file.Files.isWritable(shm)) shm
      else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    java.nio.file.Files.createTempDirectory(base, "graft_stream_ckpt").toString
  }

  /** Streaming MERGE (upsert) sink via foreachBatch: each micro-batch
    * folds into a keyed parquet state table — per user, the LATEST
    * (ts, event_id)-ordered value plus a running event count. The batch
    * first reduces to one delta row per key (so the merge join is
    * key-sized on the batch side), then full-outer-merges with the
    * previous state into a NEW generation directory; the swap is
    * directory-level (read gen-N, write gen-N+1, drop gen-N), never a
    * read-modify-write of the directory being scanned. Because the fold
    * is associative over the (ts, event_id) total order and counts are
    * additive, any micro-batch partitioning of the input yields the
    * identical final state (spec-pinned against a 3-file split).
    *
    * At scale this is the warehouse ingest pattern: the state table
    * would be key-bucketed so each merge is a co-located join, and the
    * generation swap becomes the table format's atomic commit. Returns
    * the final state. Runs at [[StatePartitions]], like
    * [[runAvailableNow]]. */
  def runUpsert(spark: SparkSession, events: DataFrame, name: String,
      checkpoint: String, stateDir: String): DataFrame = {
    // checkpoint and state MUST start together: state is wiped for a
    // fresh fold, so a surviving checkpoint from a killed prior run
    // (finally skipped) would make AvailableNow skip already-committed
    // batches against empty state — a silently incomplete fold
    FileUtil.fullyDelete(new java.io.File(checkpoint))
    FileUtil.fullyDelete(new java.io.File(stateDir)) // fresh fold per run
    new java.io.File(stateDir).mkdirs()
    def gens(): Seq[Long] = Option(new java.io.File(stateDir).listFiles())
      .getOrElse(Array.empty).toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("gen-"))
      .map(_.getName.stripPrefix("gen-").toLong).sorted
    try graft.Sessions.withConfs(spark,
        "spark.sql.shuffle.partitions" -> StatePartitions) {
      val q = events.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
          val s = batch.sparkSession
          val delta = batch
            .groupBy(col("user_id"))
            .agg(max(struct(col("ts"), col("event_id"), col("value"))).as("last"),
              count(lit(1)).as("n"))
            .select(col("user_id"), col("last.ts").as("last_ts"),
              col("last.event_id").as("last_event_id"),
              col("last.value").as("last_value"), col("n").as("n_events"))
          // REPLAY SAFETY (foreachBatch is at-least-once): previous state
          // is the newest generation ≤ batchId — a gen > batchId is a
          // half-committed write from a failed attempt of THIS batch and
          // must be dropped, never read as state (double-count) and never
          // overwritten while being scanned. The immediately-previous
          // generation is kept until the NEXT batch commits (two gens on
          // disk), so a crash between write and checkpoint-commit still
          // finds batch b's input state when b replays.
          gens().filter(_ > batchId)
            .foreach(g => FileUtil.fullyDelete(new java.io.File(s"$stateDir/gen-$g")))
          val prev = gens().filter(_ <= batchId)
          val merged = prev.lastOption match {
            case None => delta
            case Some(g) =>
              val st = s.read.parquet(s"$stateDir/gen-$g")
              st.as("s").join(delta.as("d"), Seq("user_id"), "full_outer")
                .select(col("user_id"),
                  when(col("d.last_ts").isNull || (col("s.last_ts").isNotNull &&
                      struct(col("s.last_ts"), col("s.last_event_id")) >
                        struct(col("d.last_ts"), col("d.last_event_id"))),
                      struct(col("s.last_ts"), col("s.last_event_id"), col("s.last_value")))
                    .otherwise(
                      struct(col("d.last_ts"), col("d.last_event_id"), col("d.last_value")))
                    .as("last"),
                  (coalesce(col("s.n_events"), lit(0L)) +
                    coalesce(col("d.n_events"), lit(0L))).as("n_events"))
                .select(col("user_id"), col("last.last_ts").as("last_ts"),
                  col("last.last_event_id").as("last_event_id"),
                  col("last.last_value").as("last_value"), col("n_events"))
          }
          merged.write.mode("overwrite").parquet(s"$stateDir/gen-${batchId + 1}")
          // reclaim generations BEFORE the one this batch read — keeping
          // gen-batchId alive is what makes the replay above possible
          prev.filter(_ < batchId)
            .foreach(g => FileUtil.fullyDelete(new java.io.File(s"$stateDir/gen-$g")))
        }
        .queryName(name)
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .start()
      val finished = q.awaitTermination(300000)
      if (!finished) {
        q.stop()
        throw new IllegalStateException(
          s"streaming upsert $name did not finish within 300s — state would be partial")
      }
      val last = gens().lastOption.getOrElse(throw new IllegalStateException(
        s"streaming upsert $name produced no state generation (empty source?)"))
      spark.read.parquet(s"$stateDir/gen-$last")
    } finally FileUtil.fullyDelete(new java.io.File(checkpoint))
  }
}
