package graft.sources

import graft.{SparkSpec, Tables}
import graft.multimodal.Multimodal
import graft.streaming.EventsStream
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Sinks round-trip, catalog tables, streaming ingest, multimodal batch
  * processing — the §2.1/§2.9 and multimodal coverage. */
class SourcesStreamingSpec extends SparkSpec {

  private lazy val tmp = tempDir("graft_io").toString
  private val Dir = "/root/testdata/sf0.001"

  /** The events file with its PHYSICAL ts shape intact (nanos long or
    * TIMESTAMP_NTZ depending on the data generation) — re-written splits
    * of it then carry the same shape readEvents sniffs for. */
  private def rawEvents(): org.apache.spark.sql.DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$Dir/events.parquet")
  }

  /** A numeric (long) view of raw ts for quantile-based chronological
    * splits, valid for both physical generations. */
  private def tsNum(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.Column =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => col("ts")
      case _ => unix_micros(col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }

  test("S2 CSV NaN sink + S1 clean CSV scan round-trip") {
    import spark.implicits._
    val df = Seq(("a", Some(1.0)), ("b", None)).toDF("product_name", "price_numeric")
    Sources.writeCsvNaN(df, s"$tmp/csv_nan")
    val back = Sources.readCleanCsv(spark, s"$tmp/csv_nan")
    assert(back.count() === 2)
    assert(back.filter($"price_numeric".isNull).count() === 1)
  }

  test("S4 JSONL sink writes one object per line") {
    import spark.implicits._
    Sources.writeJsonl(Seq((1L, "x")).toDF("id", "v"), s"$tmp/jsonl")
    val lines = spark.read.text(s"$tmp/jsonl").collect().map(_.getString(0))
    assert(lines.length === 1 && lines(0).startsWith("{"))
  }

  test("S4 JSONL declared-schema read round-trips the sink") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val df = Seq((1L, "x"), (2L, null.asInstanceOf[String])).toDF("id", "v")
    Sources.writeJsonl(df, s"$tmp/jsonl_rt")
    val back = Sources.readJsonl(spark, s"$tmp/jsonl_rt",
      StructType(Seq(StructField("id", LongType), StructField("v", StringType))))
    assert(back.schema.fieldNames.toSeq === Seq("id", "v"))
    assert(back.collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSet
      === Set((1L, Some("x")), (2L, None)))
  }

  test("S5/S6 managed table replace + SQL scan (to_sql/check_db shape)") {
    import spark.implicits._
    Seq((1L, "x"), (2L, "y")).toDF("id", "v").write.mode("overwrite").saveAsTable("products")
    Seq((3L, "z")).toDF("id", "v").write.mode("overwrite").saveAsTable("products") // replace
    val (n, sample) = Sources.tableCounts(spark, "products")
    assert(n === 1L)
    assert(sample.count() === 1L)
  }

  test("wrapAsGlob wraps a class-safe char and skips metachar tails") {
    assert(EventsStream.wrapAsGlob("/d/events.parquet") === "/d/events.parque[t]")
    // trailing '!' would negate a glob class — wrap the previous char
    assert(EventsStream.wrapAsGlob("/d/events!") === "/d/event[s]!")
    assert(EventsStream.wrapAsGlob("/d/ev^!") === "/d/e[v]^!")
    assert(EventsStream.wrapAsGlob("/d/!!") === "/d/!!") // nothing safe
  }

  test("streaming: hourly windowed counts over the events files") {
    // file stream sources need a directory, not a single file
    val srcDir = s"$tmp/events_src"
    new java.io.File(srcDir).mkdirs()
    Files.copy(java.nio.file.Paths.get(s"$Dir/events.parquet"),
      java.nio.file.Paths.get(s"$srcDir/events.parquet"))
    val events = EventsStream.readEvents(spark, srcDir)
    assert(events.isStreaming)
    val result = EventsStream.runAvailableNow(spark,
      EventsStream.hourlyCounts(events), "hourly_test", s"$tmp/ckpt1")
    // watermark-closed windows emit; the batch ground truth is the
    // StarQueries hourly aggregate
    val batchHours = Tables.events(spark, Dir)
      .select(date_trunc("hour", col("ts")).as("h")).distinct().count()
    assert(result.select("window_start").distinct().count() >= batchHours - 3)
  }

  test("streaming: dedup within watermark drops re-delivered events") {
    import spark.implicits._
    // duplicate the events file into a 2-file dir → same events delivered twice
    val dir = s"$tmp/dup_events"
    new java.io.File(dir).mkdirs()
    for (i <- 1 to 2)
      Files.copy(java.nio.file.Paths.get(s"$Dir/events.parquet"),
        java.nio.file.Paths.get(s"$dir/events_$i.parquet"))
    val deduped = EventsStream.dedupedEvents(EventsStream.readEvents(spark, dir))
    val out = EventsStream.runAvailableNow(spark, deduped, "dedup_test", s"$tmp/ckpt2")
    val total = Tables.events(spark, Dir).count()
    assert(out.count() === total) // 2N delivered, N emitted
  }

  test("streaming: APPEND-mode windows emit exactly the watermark-closed set") {
    // Complete mode re-emits everything; Append is the at-scale mode — a
    // window emits ONCE, when the advancing watermark closes it, and
    // in-flight windows stay in state. Three chronological files force
    // real watermark progression across micro-batches.
    val raw0 = rawEvents()
    val raw = raw0.withColumn("tsn", tsNum(raw0))
    val Array(c1, c2) = raw.stat.approxQuantile("tsn", Array(0.33, 0.66), 0.0)
    val srcDir = s"$tmp/events_append_split"
    new java.io.File(srcDir).mkdirs()
    Seq(raw.filter(col("tsn") <= c1),
        raw.filter(col("tsn") > c1 && col("tsn") <= c2),
        raw.filter(col("tsn") > c2)).map(_.drop("tsn")).zipWithIndex.foreach { case (p, i) =>
      val stage = s"$tmp/events_append_stage_$i"
      p.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val dst = new java.io.File(srcDir, s"events_$i.parquet")
      Files.move(part.toPath, dst.toPath)
      assert(dst.setLastModified(1800000000000L + i * 60000L))
    }
    val ev = EventsStream.readEvents(spark, srcDir, maxFilesPerTrigger = 1)
    val out = EventsStream.runAvailableNow(spark,
      EventsStream.hourlyCounts(ev), "append_windows", s"$tmp/ckpt_append")
    // ground truth: the batch hourly aggregate
    val batch = Tables.events(spark, Dir)
      .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getTimestamp(0).getTime, r.getString(1)) -> r.getLong(2)).toMap
    val maxTs = Tables.events(spark, Dir).agg(max(col("ts"))).collect()(0)
      .getTimestamp(0).getTime
    val emitted = out.collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1)) -> r.getLong(2))
    assert(emitted.nonEmpty, "append mode must emit the closed windows")
    // 1. nothing newer than the final watermark (2h delay) may emit
    emitted.foreach { case ((start, _), _) =>
      assert(start + 3600000L <= maxTs - 2L * 3600000L + 3600000L,
        s"window starting $start emitted past the watermark horizon")
    }
    assert(!emitted.exists(_._1._1 > maxTs - 3600000L), "the live window must stay in state")
    // 2. every emitted row matches the batch aggregate exactly (a window
    // emitted once, after ALL its data arrived — no partial emissions)
    emitted.foreach { case (k, n) =>
      assert(batch(k) === n, s"window $k emitted $n, batch truth ${batch(k)}")
    }
    // 3. and it emitted nearly all closed windows, not a token few
    assert(emitted.length >= batch.size - 10,
      s"append emitted ${emitted.length} of ${batch.size} windows")
  }

  test("streaming sessionization over 3 time-ordered files matches the single-file run") {
    import graft.streaming.Sessionize
    // split the raw events file into 3 chronological parquet files with
    // increasing mtimes (the file source's processing order); ts keeps its
    // physical shape so readEvents' sniffed schema applies unchanged
    val raw0 = rawEvents()
    val raw = raw0.withColumn("tsn", tsNum(raw0))
    val Array(q1, q2) = raw.stat.approxQuantile("tsn", Array(0.33, 0.66), 0.0)
    val srcDir = s"$tmp/events_split"
    new java.io.File(srcDir).mkdirs()
    val parts = Seq(
      raw.filter(col("tsn") <= q1),
      raw.filter(col("tsn") > q1 && col("tsn") <= q2),
      raw.filter(col("tsn") > q2)).map(_.drop("tsn"))
    parts.zipWithIndex.foreach { case (p, i) =>
      val stage = s"$tmp/events_split_stage_$i"
      p.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val dst = new java.io.File(srcDir, s"events_$i.parquet")
      Files.move(part.toPath, dst.toPath)
      assert(dst.setLastModified(1700000000000L + i * 60000L))
    }
    def run(path: String, maxFiles: Int): Set[(Long, Long, Long, Long)] = {
      val ev = EventsStream.readEvents(spark, path, maxFilesPerTrigger = maxFiles)
      val sess = Sessionize.sessions(
        ev.select(col("user_id"), col("ts")), withTimeout = false)
      EventsStream.runAvailableNow(spark, sess.toDF(),
          s"sess_multi_${path.hashCode.abs}_$maxFiles", s"$tmp/ckpt_m${path.hashCode.abs}_$maxFiles")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime,
          r.getTimestamp(2).getTime, r.getLong(3))).toSet
    }
    val single = run(s"$Dir/events.parquet", 1)
    val multi = run(srcDir, 1)     // 3 micro-batches, state carried across
    val onebatch = run(srcDir, 3)  // all files in one micro-batch
    assert(single.nonEmpty)
    assert(multi === single,
      "time-ordered multi-file ingest must emit the same closed sessions")
    assert(onebatch === single)
  }

  test("streaming top-k ListState: multi-batch fold equals single-batch equals batch window") {
    import graft.streaming.TopKState
    // order-independence is the operator's contract (merge-sort-truncate
    // under a total order), so an arbitrary 3-way split must converge to
    // the same final state as one batch — split chronologically anyway
    // to exercise real state carry-over across micro-batches
    val raw0 = rawEvents()
    val raw = raw0.withColumn("tsn", tsNum(raw0))
    val Array(q1, q2) = raw.stat.approxQuantile("tsn", Array(0.33, 0.66), 0.0)
    val srcDir = s"$tmp/events_topk_split"
    new java.io.File(srcDir).mkdirs()
    Seq(raw.filter(col("tsn") <= q1),
        raw.filter(col("tsn") > q1 && col("tsn") <= q2),
        raw.filter(col("tsn") > q2)).map(_.drop("tsn")).zipWithIndex.foreach { case (p, i) =>
      val stage = s"$tmp/events_topk_stage_$i"
      p.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val dst = new java.io.File(srcDir, s"events_$i.parquet")
      Files.move(part.toPath, dst.toPath)
      assert(dst.setLastModified(1900000000000L + i * 60000L))
    }
    def run(path: String, maxFiles: Int): Seq[(Long, Long, Long, Long)] = {
      val ev = EventsStream.readEvents(spark, path, maxFilesPerTrigger = maxFiles)
      TopKState.topK(spark, ev, 3, s"topk_${path.hashCode.abs}_$maxFiles",
          s"$tmp/ckpt_topk_${path.hashCode.abs}_$maxFiles")
        .orderBy(col("user_id"), col("rank"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    }
    val single = run(s"$Dir/events.parquet", 1)
    val multi = run(srcDir, 1)   // 3 micro-batches, ListState carried across
    assert(single.nonEmpty)
    assert(multi === single,
      "multi-batch top-k state must converge to the single-batch answer")
    // ground truth: the batch window the end-of-stream state must equal
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("cents").desc, col("event_id"))
    val batch = Tables.events(spark, Dir)
      .select(col("user_id").cast("long").as("user_id"),
        col("event_id").cast("long").as("event_id"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .orderBy(col("user_id"), col("rank"))
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("event_id"), r.getAs[Long]("cents"))).toSeq
    assert(single === batch, "end-of-stream top-k must equal the batch window")
    // bounded-state contract: no user carries more than k rows
    assert(single.groupBy(_._1).values.forall(_.size <= 3))
  }

  test("streaming top-k quantization: negative values follow round-HALF-UP, on purpose") {
    import graft.streaming.TopKState
    // floor(v*100 + 0.5) rounds a negative half-cent TOWARD POSITIVE
    // (−0.125 → −12, not −13). The DuckDB oracle mirrors the same
    // expression; this spec pins the contract so it holds by design,
    // not by the fixtures' all-positive values.
    val srcDir = s"$tmp/events_topk_neg"
    // all values exactly representable in binary FP, so the quantized
    // cents are unambiguous: −0.125 → −12 (half up), −0.1875 → −19,
    // 0.125 → 13 (half up), −2.5 → −250
    val rows = Seq(
      (1L, "2024-01-01 00:00:00", 7L, "view", -0.125, ""),
      (2L, "2024-01-01 00:00:01", 7L, "view", -0.1875, ""),
      (3L, "2024-01-01 00:00:02", 7L, "view", 0.125, ""),
      (4L, "2024-01-01 00:00:03", 7L, "view", -2.50, ""))
    spark.createDataFrame(rows)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", col("ts").cast("timestamp"))
      .write.mode("overwrite").parquet(srcDir)
    val ev = EventsStream.readEvents(spark, srcDir, maxFilesPerTrigger = 1)
    val got = TopKState.topK(spark, ev, 3, "topk_neg", s"$tmp/ckpt_topk_neg")
      .orderBy(col("rank"))
      .collect().map(r => (r.getAs[Long]("rank"), r.getAs[Long]("event_id"),
        r.getAs[Long]("cents"))).toSeq
    assert(got === Seq((1L, 3L, 13L), (2L, 1L, -12L), (3L, 2L, -19L)),
      "negative half-cents must round toward positive and rank below positives")
  }

  test("events loaders normalize BOTH ts layouts (nanos-long and timestamp)") {
    import spark.implicits._
    // nanos-long generation: ts presents as LongType (what the legacy
    // TIMESTAMP(NANOS) files look like under nanosAsLong) — the loader
    // must convert by exact integer DIV to the same instants the
    // timestamp generation yields directly
    val base = 1700000000000L // ms
    val rows = Seq((1L, base * 1000000L, 10L, "view", 1.0, "{}"),
      (2L, (base + 1500L) * 1000000L, 11L, "click", 2.0, "{}"))
    val nanosDir = tempDir("ev_nanos").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$nanosDir/events.parquet")
    val viaLong = Tables.events(spark, nanosDir)
    assert(viaLong.schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampType)
    val instants = viaLong.orderBy(col("event_id"))
      .collect().map(_.getTimestamp(1).getTime)
    assert(instants.toSeq === Seq(base, base + 1500L))
    // and the streaming reader sniffs the same layout
    val stream = EventsStream.readEvents(spark, s"$nanosDir/events.parquet")
    assert(stream.schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampType)
    // the timestamp generation (whatever the current testdata ships) also
    // lands on TimestampType through the same loader
    assert(Tables.events(spark, Dir).schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampType)
  }

  test("streaming upsert: 3-micro-batch fold equals the single-batch state") {
    // the fold invariant: any micro-batch partitioning of the input must
    // produce the identical final state (latest value per user + count)
    val raw0 = rawEvents()
    val raw = raw0.withColumn("tsn", tsNum(raw0))
    val Array(u1, u2) = raw.stat.approxQuantile("tsn", Array(0.33, 0.66), 0.0)
    val srcDir = s"$tmp/events_upsert_split"
    new java.io.File(srcDir).mkdirs()
    Seq(raw.filter(col("tsn") <= u1),
        raw.filter(col("tsn") > u1 && col("tsn") <= u2),
        raw.filter(col("tsn") > u2)).map(_.drop("tsn")).zipWithIndex.foreach { case (p, i) =>
      val stage = s"$tmp/events_upsert_stage_$i"
      p.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val dst = new java.io.File(srcDir, s"events_$i.parquet")
      Files.move(part.toPath, dst.toPath)
      assert(dst.setLastModified(1900000000000L + i * 60000L))
    }
    def run(path: String, tag: String): Map[Long, (Long, Long, Double, Long)] = {
      val ev = EventsStream.readEvents(spark, path, maxFilesPerTrigger = 1)
      EventsStream.runUpsert(spark, ev, s"upsert_$tag",
          s"$tmp/ckpt_upsert_$tag", s"$tmp/state_upsert_$tag")
        .collect().map(r => r.getLong(0) ->
          ((r.getTimestamp(1).getTime, r.getLong(2), r.getDouble(3), r.getLong(4))))
        .toMap
    }
    val single = run(s"$Dir/events.parquet", "single")
    val multi = run(srcDir, "multi") // 3 files, 3 micro-batches
    assert(single.nonEmpty)
    assert(multi === single,
      "multi-batch incremental merge must equal the single-batch fold")
  }

  test("runUpsert: stale committed checkpoint beside an empty state dir still folds completely") {
    // the crash configuration the entry-point double-wipe exists for: a
    // prior run is killed AFTER its batches committed to the checkpoint
    // but before the finally cleanup ran — the checkpoint survives fully
    // committed while the state dir is empty. A runUpsert that trusted
    // the surviving checkpoint would have AvailableNow skip every
    // committed batch against EMPTY state and report a vacant fold;
    // wiping checkpoint and state together forces the full replay.
    val ckpt = s"$tmp/ckpt_upsert_stale"
    val stateDir = s"$tmp/state_upsert_stale"
    val src = s"$Dir/events.parquet"
    // plant the stale checkpoint: commit ALL batches of the same source
    // through a no-op sink at the exact checkpoint path runUpsert gets
    val q = EventsStream.readEvents(spark, src).writeStream
      .foreachBatch((_: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
        _: Long) => ())
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "planting stream must finish")
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
    assert(commits != null && commits.nonEmpty,
      "planted checkpoint must contain committed batches")
    assert(!new java.io.File(stateDir).exists(), "state dir must start absent")
    val got = EventsStream.runUpsert(spark,
        EventsStream.readEvents(spark, src), "upsert_stale", ckpt, stateDir)
      .agg(count(lit(1)).as("n_users"), sum(col("n_events")).as("n_events"))
      .head()
    val truth = Tables.events(spark, Dir)
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .head()
    assert(got.getLong(0) === truth.getLong(0),
      "fold must cover every user despite the stale checkpoint")
    assert(got.getLong(1) === truth.getLong(1),
      "fold must count every event despite the stale checkpoint")
  }

  test("sessionize: flatMapGroupsWithState closes sessions on 30-min gaps") {
    import spark.implicits._
    import graft.streaming.Sessionize
    def t(min: Long) = new java.sql.Timestamp(1700000000000L + min * 60000)
    val events = Seq(
      (1L, t(0)), (1L, t(10)), (1L, t(20)),   // session A: 3 events
      (1L, t(60)), (1L, t(65)),               // session B: 2 events (closed by next)
      (1L, t(120)),                           // session C: open → not emitted
      (2L, t(0)), (2L, t(40))                 // session D closed, E open
    ).toDF("user_id", "ts")
    val out = Sessionize.sessions(events).collect()
      .map(s => (s.user_id, s.n_events)).sorted.toSeq
    // open sessions stay in state (would emit on timeout in a real stream)
    assert(out === Seq((1L, 3L), (1L, 2L), (2L, 1L)).sorted)
  }

  test("sessionize: a late in-gap event extends the open session backwards") {
    import graft.streaming.Sessionize
    import org.apache.spark.sql.streaming.GroupState
    // drive trackSessions directly across two "batches": batch 2 carries
    // an event EARLIER than the open session's start (out-of-order file)
    var saved: Option[Sessionize.SessionState] = None
    val state = new GroupState[Sessionize.SessionState] {
      override def exists: Boolean = saved.isDefined
      override def get: Sessionize.SessionState = saved.get
      override def getOption: Option[Sessionize.SessionState] = saved
      override def update(s: Sessionize.SessionState): Unit = saved = Some(s)
      override def remove(): Unit = saved = None
      override def hasTimedOut: Boolean = false
      override def setTimeoutDuration(d: Long): Unit = ()
      override def setTimeoutDuration(d: String): Unit = ()
      override def setTimeoutTimestamp(t: Long): Unit = ()
      override def setTimeoutTimestamp(t: Long, additional: String): Unit = ()
      override def setTimeoutTimestamp(t: java.sql.Date): Unit = ()
      override def setTimeoutTimestamp(t: java.sql.Date, additional: String): Unit = ()
      override def getCurrentWatermarkMs(): Long = 0L
      override def getCurrentProcessingTimeMs(): Long = 0L
    }
    def ev(min: Long) = Sessionize.Event(1L, new java.sql.Timestamp(1700000000000L + min * 60000))
    val track = Sessionize.trackSessions(withTimeout = false) _
    assert(track(1L, Iterator(ev(10), ev(20)), state).isEmpty)
    // batch 2: minute 5 is 5 min before the open session's start — merge
    // must move start back to minute 5, not keep minute 10
    assert(track(1L, Iterator(ev(5)), state).isEmpty)
    val s = saved.get
    assert(s.n === 3L)
    assert(s.start === 1700000000000L * 1000 + 5 * 60000000L)
    assert(s.last === 1700000000000L * 1000 + 20 * 60000000L)
    // batch 3: minute -40 is MORE than a gap before the open session —
    // it must NOT merge (that would bridge a >30min hole); it emits as
    // its own single-event session and the open session is untouched
    val out = track(1L, Iterator(ev(-40)), state).toList
    assert(out.map(o => (o.n_events, o.session_start.getTime)) ===
      List((1L, 1700000000000L - 40 * 60000)))
    assert(saved.get === s)
  }

  test("transformWithState user stats: 3-micro-batch fold equals the single-batch state") {
    // the StatefulProcessor fold is all-commutative, so any micro-batch
    // partitioning must yield the identical end-of-stream state
    val raw0 = rawEvents()
    val raw = raw0.withColumn("tsn", tsNum(raw0))
    val Array(u1, u2) = raw.stat.approxQuantile("tsn", Array(0.33, 0.66), 0.0)
    val srcDir = s"$tmp/events_tws_split"
    new java.io.File(srcDir).mkdirs()
    Seq(raw.filter(col("tsn") <= u1),
        raw.filter(col("tsn") > u1 && col("tsn") <= u2),
        raw.filter(col("tsn") > u2)).map(_.drop("tsn")).zipWithIndex.foreach { case (p, i) =>
      val stage = s"$tmp/events_tws_stage_$i"
      p.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val dst = new java.io.File(srcDir, s"events_$i.parquet")
      Files.move(part.toPath, dst.toPath)
      assert(dst.setLastModified(1900000000000L + i * 60000L))
    }
    def run(path: String, tag: String, oneFilePerTrigger: Boolean) = {
      val ev = EventsStream.readEvents(spark, path,
        maxFilesPerTrigger = if (oneFilePerTrigger) 1 else 100)
      graft.streaming.UserStats.runningStats(spark, ev, s"tws_$tag",
          s"$tmp/ckpt_tws_$tag")
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getInt(5))))
        .toMap
    }
    val single = run(s"$Dir/events.parquet", "single", oneFilePerTrigger = false)
    val multi = run(srcDir, "multi", oneFilePerTrigger = true)
    assert(single.nonEmpty)
    assert(multi === single,
      "multi-batch stateful fold must equal the single-batch stats")
  }

  test("multimodal: batch feature extraction over binary payloads") {
    implicit val s = spark
    import s.implicits._
    val media = Multimodal.fromText(
      Tables.documents(spark, Dir).limit(50), "doc_id", "text", "video")
    val feats = Multimodal.extractFeatures(media)
    val rows = feats.collect()
    assert(rows.length === 50)
    assert(rows.forall(_.sha256.length === 64))
    assert(rows.forall(f => f.width >= 64 && f.height >= 64))
    assert(rows.forall(_.byte_size > 0))
    // deterministic: same payload → same features
    val again = Multimodal.extractFeatures(media).collect()
    assert(rows.sortBy(_.media_id).toSeq === again.sortBy(_.media_id).toSeq)
  }

  test("multimodal: binaryFile ingestion reads real files into the decode path") {
    implicit val s = spark
    val dir = tempDir("graft_media")
    def png(w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    Files.write(dir.resolve("a.png"), png(3, 2))
    Files.write(dir.resolve("b.PNG"), png(7, 5))
    Files.write(dir.resolve("notes.txt"), "not an image".getBytes)
    try {
      val media = Multimodal.readBinaryFiles(spark, dir.toString)
      val idOf = media.collect().map(r => r.source.split("/").last -> r.media_id).toMap
      assert(idOf.size === 3)
      val feats = Multimodal.extractFeatures(media, Multimodal.ImageIoDecoder.decode)
        .collect().map(f => f.media_id -> f).toMap
      // extension-derived kind is case-insensitive; dimensions are real
      assert(feats(idOf("a.png")).kind === "image" && feats(idOf("a.png")).width === 3
        && feats(idOf("a.png")).height === 2)
      assert(feats(idOf("b.PNG")).kind === "image" && feats(idOf("b.PNG")).width === 7)
      // non-media files ingest as opaque binary with the sentinel dims
      assert(feats(idOf("notes.txt")).kind === "binary"
        && feats(idOf("notes.txt")).width === -1)
      // media_id is the stable path hash — re-reading yields identical ids
      val again = Multimodal.readBinaryFiles(spark, dir.toString)
        .collect().map(_.media_id).sorted
      assert(again.toSeq === media.collect().map(_.media_id).sorted.toSeq)
      // glob filter prunes at the listing level
      assert(Multimodal.readBinaryFiles(spark, dir.toString, "*.txt").count() === 1)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("multimodal: ImageIoDecoder reads REAL PNG/JPEG dimensions through the Dataset path") {
    implicit val s = spark
    import s.implicits._
    // a real 2x3 PNG and a 5x4 JPEG, encoded in-memory via javax.imageio
    def encode(w: Int, h: Int, fmt: String): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      img.setRGB(0, 0, 0xff8800)
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
      bos.toByteArray
    }
    val media = Seq(
      Multimodal.MediaRow(1L, "image", encode(2, 3, "png"), "test"),
      Multimodal.MediaRow(2L, "image", encode(5, 4, "jpg"), "test"),
      Multimodal.MediaRow(3L, "image", Array[Byte](1, 2, 3), "test"), // corrupt
      Multimodal.MediaRow(4L, "audio", encode(2, 3, "png"), "test")   // wrong kind
    ).toDS()
    val feats = Multimodal.extractFeatures(media, Multimodal.ImageIoDecoder.decode)
      .collect().map(f => f.media_id -> f).toMap
    assert(feats(1L).width === 2 && feats(1L).height === 3 && feats(1L).n_frames === 1)
    assert(feats(2L).width === 5 && feats(2L).height === 4)
    // corrupt payloads and non-image kinds surface the sentinel, not a crash
    assert(feats(3L).width === -1 && feats(3L).n_frames === 0)
    assert(feats(4L).width === -1)
    // byte_size/sha256 are real regardless of decodability
    assert(feats.values.forall(f => f.byte_size > 0 && f.sha256.length === 64))
  }

  test("multimodal: WavDecoder walks RIFF chunks (extra chunks, truncation, dispatch)") {
    implicit val s = spark
    import s.implicits._
    def wav(sampleRate: Int, channels: Int, nFrames: Int,
        extraChunk: Boolean = false): Array[Byte] = {
      val blockAlign = channels * 2
      val dataSize = nFrames * blockAlign
      val extra = if (extraChunk) 12 else 0 // "LIST" + size + 4 payload bytes
      val bb = java.nio.ByteBuffer.allocate(44 + extra + dataSize)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + extra + dataSize)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(channels.toShort).putInt(sampleRate)
        .putInt(sampleRate * blockAlign).putShort(blockAlign.toShort).putShort(16)
      if (extraChunk) bb.put("LIST".getBytes("US-ASCII")).putInt(4).putInt(0)
      bb.put("data".getBytes("US-ASCII")).putInt(dataSize)
      bb.array()
    }
    val media = Seq(
      Multimodal.MediaRow(1L, "audio", wav(8000, 1, 4000), "test"),
      // a LIST chunk between fmt and data must not derail the walk
      Multimodal.MediaRow(2L, "audio", wav(16000, 2, 1600, extraChunk = true), "test"),
      Multimodal.MediaRow(3L, "audio", Array[Byte](82, 73, 70), "test"), // truncated
      Multimodal.MediaRow(4L, "image", wav(8000, 1, 100), "test")        // wrong kind
    ).toDS()
    val feats = Multimodal.extractFeatures(media, Multimodal.HeaderDecoder.decode)
      .collect().map(f => f.media_id -> f).toMap
    // 4000 frames at 8 kHz mono = 500 ms
    assert(feats(1L).n_frames === 4000 && feats(1L).duration_ms === 500L)
    // 1600 frames at 16 kHz stereo = 100 ms, despite the LIST chunk
    assert(feats(2L).n_frames === 1600 && feats(2L).duration_ms === 100L)
    // truncated header surfaces the sentinel, not a crash
    assert(feats(3L).n_frames === 0 && feats(3L).duration_ms === 0L)
    // HeaderDecoder routes by kind: a WAV payload declared "image" goes to
    // the image probe and gets ITS sentinel
    assert(feats(4L).width === -1 && feats(4L).n_frames === 0)
    assert(feats.values.forall(f => f.sha256.length === 64))
  }

  test("multimodal: Mp4Decoder walks ISO-BMFF boxes (dims, duration, frames, malformed)") {
    implicit val s = spark
    import s.implicits._
    val good = Multimodal.Mp4Decoder.minimal(640, 360, 240, 1000, 8000L)
    // a 64-bit largesize header on a top-level box must parse: rebuild
    // the ftyp box with size=1 + largesize
    val ftypLen = java.nio.ByteBuffer.wrap(good).getInt(0)
    val ftyp64 = {
      val bb = java.nio.ByteBuffer.allocate(8 + ftypLen)
      bb.putInt(1).put(good.slice(4, 8)).putLong(8L + ftypLen)
        .put(good.slice(8, ftypLen))
      bb.array()
    }
    val largesize = ftyp64 ++ good.drop(ftypLen)
    // an audio-handler trak BEFORE the video trak must be skipped: clone
    // the trak, flip its hdlr to 'soun' and its tkhd width to 111, and
    // prepend it inside a rebuilt moov
    val moovPayload = good.drop(ftypLen + 8)
    val mvhdLen = java.nio.ByteBuffer.wrap(moovPayload).getInt(0)
    val (mvhd, trak) = moovPayload.splitAt(mvhdLen)
    val soun = trak.clone()
    val vIdx = soun.indexOfSlice("vide".getBytes("US-ASCII"))
    Array[Byte]('s', 'o', 'u', 'n').copyToArray(soun, vIdx)
    java.nio.ByteBuffer.wrap(soun).putInt(16 + 76, 111 << 16) // tkhd width
    val moov2Payload = mvhd ++ soun ++ trak
    val moov2 = java.nio.ByteBuffer.allocate(8 + moov2Payload.length)
      .putInt(8 + moov2Payload.length).put("moov".getBytes("US-ASCII"))
      .put(moov2Payload).array()
    val multiTrak = good.take(ftypLen) ++ moov2
    val media = Seq(
      Multimodal.MediaRow(1L, "video", good, "test"),
      Multimodal.MediaRow(2L, "video", largesize, "test"),
      Multimodal.MediaRow(3L, "video", good.take(20), "test"),       // truncated moov
      Multimodal.MediaRow(4L, "video", Array[Byte](0, 0, 0), "test"), // not a box
      Multimodal.MediaRow(5L, "audio", good, "test"),                 // wrong kind
      Multimodal.MediaRow(6L, "video", multiTrak, "test")             // soun trak first
    ).toDS()
    val feats = Multimodal.extractFeatures(media, Multimodal.HeaderDecoder.decode)
      .collect().map(f => f.media_id -> f).toMap
    assert(feats(1L).width === 640 && feats(1L).height === 360)
    assert(feats(1L).n_frames === 240 && feats(1L).duration_ms === 8000L)
    // the 64-bit size header must not derail the walk to moov
    assert(feats(2L).width === 640 && feats(2L).duration_ms === 8000L)
    // malformed payloads surface the sentinel, never a task failure
    assert(feats(3L).width === -1 && feats(3L).n_frames === 0)
    assert(feats(4L).width === -1 && feats(4L).duration_ms === 0L)
    // HeaderDecoder routes by kind: an MP4 declared "audio" gets the
    // RIFF walk's sentinel
    assert(feats(5L).n_frames === 0 && feats(5L).width === -1)
    // the non-video trak (width 111) is skipped; dims come from the
    // 'vide' handler trak
    assert(feats(6L).width === 640 && feats(6L).height === 360)
    assert(feats.values.forall(f => f.sha256.length === 64))
  }

  test("session_window gap boundary: an event AT the gap EXTENDS the session") {
    // Spark merges ADJACENT windows: [t, t+gap) and [t+gap, t+2gap)
    // coalesce, so the split condition is diff > gap, not >= gap —
    // empirically pinned here because the corpus (microsecond
    // timestamps) never exercises an exact boundary and the oracle
    // would silently tolerate either convention
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val df = Seq(
      (1L, ts("2024-01-01 10:00:00")),
      (1L, ts("2024-01-01 10:30:00")), // exactly gap later -> SAME session
      (2L, ts("2024-01-01 10:00:00")),
      (2L, ts("2024-01-01 10:30:01"))  // past the gap -> new session
    ).toDF("user_id", "t")
    val sessions = df
      .groupBy($"user_id", session_window($"t", "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .select($"user_id", $"n")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      .sorted
    assert(sessions === Seq((1L, 2L), (2L, 1L), (2L, 1L)),
      s"boundary semantics drifted: $sessions")
  }

  test("CEP funnel matcher: state carries across micro-batches (3-file = 1-file)") {
    import graft.streaming.PatternMatch
    // the q_stream_funnel oracle only certifies the single-batch run;
    // this pins the STREAMING property — a partial match (view or
    // view+click) open at a batch boundary completes in a later batch
    val raw0 = rawEvents()
    val raw = raw0.withColumn("tsn", tsNum(raw0))
    val Array(q1, q2) = raw.stat.approxQuantile("tsn", Array(0.33, 0.66), 0.0)
    val srcDir = s"$tmp/events_split_cep"
    new java.io.File(srcDir).mkdirs()
    val parts = Seq(
      raw.filter(col("tsn") <= q1),
      raw.filter(col("tsn") > q1 && col("tsn") <= q2),
      raw.filter(col("tsn") > q2)).map(_.drop("tsn"))
    parts.zipWithIndex.foreach { case (p, i) =>
      val stage = s"$tmp/events_split_cep_stage_$i"
      p.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val dst = new java.io.File(srcDir, s"events_$i.parquet")
      Files.move(part.toPath, dst.toPath)
      assert(dst.setLastModified(1700000000000L + i * 60000L))
    }
    def run(path: String, maxFiles: Int): Set[(Long, Long, Long)] = {
      val ev = EventsStream.readEvents(spark, path, maxFilesPerTrigger = maxFiles)
      val m = PatternMatch.matches(
        ev.select(col("user_id"), col("ts"), col("event_id"), col("event_type")))
      EventsStream.runAvailableNow(spark, m.toDF(),
          s"cep_multi_${path.hashCode.abs}_$maxFiles",
          s"$tmp/ckpt_cep${path.hashCode.abs}_$maxFiles")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getLong(r.fieldIndex("latency_sec")))).toSet
    }
    val single = run(s"$Dir/events.parquet", 1)
    val multi = run(srcDir, 1)     // 3 micro-batches, DFA state carried
    assert(single.nonEmpty, "corpus must contain at least one full funnel")
    assert(multi === single,
      "time-ordered multi-batch matching must emit the same match set")
  }

  test("CEP out-of-order batches: strict path fails LOUD, reordered path matches the batch oracle") {
    import graft.streaming.PatternMatch
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    // Batches arrive out of EVENT-time order (middle tercile first, then
    // the earliest) — the precondition b7d37c2 documented as a silent
    // divergence. This pins the round-10 enforcement: the strict DFA
    // throws (never drifts), and the watermark+reorder-buffer variant
    // reproduces the batch oracle exactly.
    val raw0 = rawEvents()
    val raw = raw0.withColumn("tsn", tsNum(raw0))
    val Array(q1, q2) = raw.stat.approxQuantile("tsn", Array(0.33, 0.66), 0.0)
    // micros min/max regardless of the physical ts generation
    val mmRow = raw
      .agg(min(unix_micros(col("ts").cast(TimestampType))),
           max(unix_micros(col("ts").cast(TimestampType)))).collect()(0)
    val (mnUs, mxUs) = (mmRow.getLong(0), mmRow.getLong(1))
    val spanUs = mxUs - mnUs
    // a flush sentinel: one far-future "view" for a user outside the
    // corpus (user -1 never matches), carried in the SAME physical shape
    def sentinelDf(us: Long) = {
      val one = raw.drop("tsn").limit(1)
      val shifted = raw0.schema("ts").dataType match {
        case LongType => one.withColumn("ts", lit(us * 1000L)) // nanos
        case t => one.withColumn("ts", timestamp_micros(lit(us)).cast(t))
      }
      shifted
        .withColumn("user_id", lit(-1L))
        .withColumn("event_type", lit("view"))
        .withColumn("event_id", lit(-1L))
        .select(raw0.columns.map(col): _*)
    }
    val srcDir = s"$tmp/events_ooo_cep"
    new java.io.File(srcDir).mkdirs()
    val parts = Seq(
      raw.filter(col("tsn") > q1 && col("tsn") <= q2).drop("tsn"), // B (middle) FIRST
      raw.filter(col("tsn") <= q1).drop("tsn"),                    // A (earliest) — regression
      raw.filter(col("tsn") > q2).drop("tsn"),                     // C (latest)
      sentinelDf(mxUs + 2 * spanUs + 7200L * 1000000L),            // advances wm past mx
      sentinelDf(mxUs + 4 * spanUs + 14400L * 1000000L))           // fires the timeouts
    parts.zipWithIndex.foreach { case (p, i) =>
      val stage = s"$tmp/events_ooo_stage_$i"
      p.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val dst = new java.io.File(srcDir, s"events_$i.parquet")
      Files.move(part.toPath, dst.toPath)
      assert(dst.setLastModified(1700000000000L + i * 60000L))
    }
    // delay bounds the disorder (full corpus span + slack) yet stays
    // below the sentinel gap, so the watermark does pass the real data
    val delaySec = spanUs / 1000000L + 60L
    def collectMatches(df: org.apache.spark.sql.Dataset[PatternMatch.MatchOut]) =
      df.collect().map(m => (m.user_id, m.view_event_id, m.latency_sec)).toSet
    // batch oracle: the SAME five files folded in one pass. The nanos
    // flag (set here AND re-set inside readEvents below) is restored at
    // the end of the test so it can't leak into later suites that read
    // parquet on the shared session.
    graft.Sessions.withConfs(spark, "spark.sql.legacy.parquet.nanosAsLong" -> "true") {
      val batchRaw = spark.read.parquet(srcDir)
      val batchEv = batchRaw.schema("ts").dataType match {
        case LongType         => batchRaw.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
        case TimestampNTZType => batchRaw.withColumn("ts", col("ts").cast(TimestampType))
        case _                => batchRaw
      }
      val oracle = collectMatches(PatternMatch.matches(batchEv))
      assert(oracle.nonEmpty, "corpus must contain at least one full funnel")
      // 1) reordered path over out-of-order micro-batches = batch oracle
      val ev = EventsStream.readEvents(spark, srcDir, maxFilesPerTrigger = 1)
      val m = PatternMatch.matchesReordered(ev, s"$delaySec seconds")
      val reordered = EventsStream.runAvailableNow(spark, m.toDF(),
          "cep_ooo_reordered", s"$tmp/ckpt_cep_ooo_reordered")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getLong(r.fieldIndex("latency_sec")))).toSet
      assert(reordered === oracle,
        "reorder-buffer matching under out-of-order batches must equal the batch oracle")
      // 2) strict path must FAIL LOUDLY on the same source, not drift
      val strict = PatternMatch.matches(
        EventsStream.readEvents(spark, srcDir, maxFilesPerTrigger = 1))
      val thrown = intercept[Exception] {
        EventsStream.runAvailableNow(spark, strict.toDF(),
          "cep_ooo_strict", s"$tmp/ckpt_cep_ooo_strict")
      }
      val causes = Iterator.iterate[Throwable](thrown)(_.getCause).takeWhile(_ != null)
      assert(causes.exists(c => c.isInstanceOf[IllegalStateException] &&
          c.getMessage != null && c.getMessage.contains("in-order precondition")),
        s"strict DFA must throw the in-order guard, got: $thrown")
    }
  }
}
