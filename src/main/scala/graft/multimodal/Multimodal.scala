package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video as opaque binary columns
  * with typed metadata, processed batch-wise with mapPartitions (the Scala
  * analogue of the mapInPandas batch shape).
  *
  * Four decoders behind one function signature: [[ImageIoDecoder]] does
  * REAL PNG/JPEG/GIF/BMP header extraction via javax.imageio,
  * [[WavDecoder]] walks REAL RIFF/WAVE chunks, [[Mp4Decoder]] walks
  * REAL ISO-BMFF (MP4) boxes — all pure JVM, header-only — and
  * [[FakeDecoder]] remains the deterministic stand-in for unknown kinds
  * and reproducible tests. Everything around them (the schema, the
  * partition-wise batch processing, null handling, the typed Dataset
  * API) is shared and tested; swapping in a JNI/JavaCV full-frame
  * decoder changes one function.
  */
object Multimodal {

  /** A media row: opaque payload + source metadata. */
  final case class MediaRow(
      media_id: Long, kind: String, payload: Array[Byte], source: String)

  /** Extracted (decoded) features — fixed schema regardless of decoder. */
  final case class MediaFeatures(
      media_id: Long, kind: String, byte_size: Long, sha256: String,
      width: Int, height: Int, n_frames: Int, duration_ms: Long)

  /** STUB decoder: deterministic fake metadata derived from the payload
    * bytes (sha-seeded). A real implementation decodes headers/frames. */
  object FakeDecoder {
    def decode(row: MediaRow): MediaFeatures = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val digest = md.digest(row.payload)
      val hex = digest.map("%02x".format(_)).mkString
      val h = java.nio.ByteBuffer.wrap(digest.take(8)).getLong
      val w = 64 + math.floorMod(h, 1920).toInt
      val ht = 64 + math.floorMod(h >> 16, 1080).toInt
      val frames = row.kind match {
        case "image" => 1
        case "video" => 1 + math.floorMod(h >> 24, 600).toInt
        case _       => 0
      }
      val dur = row.kind match {
        case "image" => 0L
        case _       => 1000L + math.floorMod(h >> 32, 600000L)
      }
      MediaFeatures(row.media_id, row.kind, row.payload.length.toLong, hex,
        w, ht, frames, dur)
    }
  }

  /** REAL image decoder: javax.imageio header probe for PNG/JPEG/GIF/BMP
    * — pure JVM, no native deps. Reads ONLY the header (ImageReader
    * .getWidth/getHeight never decode pixel data), which is the 100 TB
    * story: dimension extraction costs a few hundred bytes of IO per
    * image, not a full pixel decode.
    *
    * Failure policy: an undecodable payload (or a non-image kind) yields
    * width = height = -1 rather than throwing — one corrupt object among
    * billions must not kill the job; downstream filters on the sentinel.
    * byte_size and sha256 are always real. */
  object ImageIoDecoder {
    def decode(row: MediaRow): MediaFeatures = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val hex = md.digest(row.payload).map("%02x".format(_)).mkString
      var w = -1
      var h = -1
      if (row.kind == "image") {
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(row.payload))
        try {
          val readers = javax.imageio.ImageIO.getImageReaders(iis)
          if (readers.hasNext) {
            val r = readers.next()
            // NonFatal, not just IOException: plugin readers throw
            // IllegalArgumentException / ArrayIndexOutOfBounds on
            // malformed headers whose magic bytes matched — any decode
            // failure must yield the sentinel, never a task failure.
            // Both dims assign atomically AFTER the probe so a failure
            // between width and height cannot emit a half-sentinel row.
            try {
              r.setInput(iis)
              val pw = r.getWidth(0)
              val ph = r.getHeight(0)
              w = pw
              h = ph
            } catch { case scala.util.control.NonFatal(_) => () }
            finally r.dispose()
          }
        } finally iis.close()
      }
      MediaFeatures(row.media_id, row.kind, row.payload.length.toLong, hex,
        w, h, if (w >= 0) 1 else 0, 0L)
    }
  }

  /** REAL audio decoder: RIFF/WAVE header walk — pure JVM byte parsing,
    * no codec dependency. Extracts channel count, byte rate and data
    * size from the fmt/data chunks (a proper chunk walk, not a fixed
    * 44-byte offset: WAV files legally carry LIST/fact chunks before
    * data) and derives PCM frame count and duration. Header-only, same
    * 100 TB story as the image probe: a few dozen bytes of IO per file.
    *
    * Failure policy matches [[ImageIoDecoder]]: malformed/truncated
    * headers (or a non-audio kind) yield the sentinel (n_frames = 0,
    * duration_ms = 0) — one corrupt object must not kill the job.
    * width/height are always -1 for audio. */
  object WavDecoder {
    def decode(row: MediaRow): MediaFeatures = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val hex = md.digest(row.payload).map("%02x".format(_)).mkString
      var frames = 0L
      var durMs = 0L
      if (row.kind == "audio") try {
        val bb = java.nio.ByteBuffer.wrap(row.payload)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        def tag(): String = {
          val a = new Array[Byte](4); bb.get(a); new String(a, "US-ASCII")
        }
        if (tag() == "RIFF") {
          bb.getInt // RIFF size
          if (tag() == "WAVE") {
            var byteRate = 0
            var blockAlign = 0
            var dataSize = -1L
            while (bb.remaining() >= 8 && dataSize < 0) {
              val id = tag()
              val sz = bb.getInt
              if (id == "fmt ") {
                val start = bb.position()
                bb.getShort // audio format
                bb.getShort // channels
                bb.getInt   // sample rate
                byteRate = bb.getInt
                blockAlign = bb.getShort & 0xffff
                bb.position(start + sz + (sz & 1))
              } else if (id == "data") {
                dataSize = sz.toLong & 0xffffffffL
              } else {
                bb.position(bb.position() + sz + (sz & 1))
              }
            }
            if (dataSize >= 0 && blockAlign > 0 && byteRate > 0) {
              frames = dataSize / blockAlign
              durMs = dataSize * 1000L / byteRate
            }
          }
        }
      } catch { case scala.util.control.NonFatal(_) => frames = 0L; durMs = 0L }
      MediaFeatures(row.media_id, row.kind, row.payload.length.toLong, hex,
        -1, -1, math.min(frames, Int.MaxValue).toInt, durMs)
    }
  }

  /** REAL video decoder: ISO-BMFF (MP4) box walk — pure JVM byte
    * parsing, no codec dependency. Boxes are [size:4 BE][type:4]
    * (size 1 → 64-bit largesize follows; size 0 → to end of enclosing
    * box). The walk reads `moov/mvhd` for timescale+duration (v0 and v1
    * layouts), picks the first `trak` whose `mdia/hdlr` handler is
    * 'vide', and takes width/height from its `tkhd` (16.16 fixed point)
    * and the sample count from `mdia/minf/stbl/stsz`. Header-only: the
    * moov box of a multi-GB file is a few KB, the mdat payload is never
    * touched — the same 100 TB discipline as the image/WAV probes.
    *
    * Failure policy matches the siblings: malformed/truncated boxes (or
    * a non-video kind) yield the sentinel (width = height = -1,
    * n_frames = 0, duration_ms = 0) — never a task failure. */
  object Mp4Decoder {
    /** Children of the byte range [start, end): (type, payloadStart,
      * boxEnd). Stops (returning what it has) at the first malformed
      * size rather than guessing. */
    private def boxes(bb: java.nio.ByteBuffer, start: Int, end: Int): Seq[(String, Int, Int)] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Int)]
      var pos = start
      var ok = true
      while (ok && pos + 8 <= end) {
        val size32 = bb.getInt(pos).toLong & 0xffffffffL
        val typ = new String(
          Array(bb.get(pos + 4), bb.get(pos + 5), bb.get(pos + 6), bb.get(pos + 7)),
          "US-ASCII")
        var hdr = 8L
        var sz = size32
        if (size32 == 1L && pos + 16 <= end) { sz = bb.getLong(pos + 8); hdr = 16L }
        else if (size32 == 0L) sz = (end - pos).toLong
        if (sz < hdr || pos + sz > end) ok = false
        else {
          out += ((typ, (pos + hdr).toInt, (pos + sz).toInt))
          pos = (pos + sz).toInt
        }
      }
      out.toSeq
    }

    def decode(row: MediaRow): MediaFeatures = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val hex = md.digest(row.payload).map("%02x".format(_)).mkString
      var w = -1; var h = -1; var frames = 0; var durMs = 0L
      if (row.kind == "video") try {
        val bb = java.nio.ByteBuffer.wrap(row.payload) // ISO-BMFF is big-endian
        boxes(bb, 0, row.payload.length).find(_._1 == "moov").foreach {
          case (_, ms, me) =>
            val mv = boxes(bb, ms, me)
            mv.find(_._1 == "mvhd").foreach { case (_, s, e) =>
              val v1 = (bb.get(s) & 0xff) == 1
              if (v1 && e - s >= 32) {
                val ts = bb.getInt(s + 20)
                if (ts > 0) durMs = bb.getLong(s + 24) * 1000L / ts
              } else if (!v1 && e - s >= 20) {
                val ts = bb.getInt(s + 12)
                if (ts > 0) durMs = (bb.getInt(s + 16).toLong & 0xffffffffL) * 1000L / ts
              }
            }
            def mdiaOf(ts: Int, te: Int) = boxes(bb, ts, te).find(_._1 == "mdia")
            def isVideo(ts: Int, te: Int) = mdiaOf(ts, te).exists { case (_, s, e) =>
              boxes(bb, s, e).find(_._1 == "hdlr").exists { case (_, hs, he) =>
                he - hs >= 12 && new String(
                  Array(bb.get(hs + 8), bb.get(hs + 9), bb.get(hs + 10), bb.get(hs + 11)),
                  "US-ASCII") == "vide"
              }
            }
            mv.filter(_._1 == "trak").find(t => isVideo(t._2, t._3)).foreach {
              case (_, ts, te) =>
                val tk = boxes(bb, ts, te)
                tk.find(_._1 == "tkhd").foreach { case (_, s, e) =>
                  // offset of the 16.16 width/height pair past the FullBox
                  // header + times/ids + layer block + 36-byte matrix
                  val wh = s + (if ((bb.get(s) & 0xff) == 1) 88 else 76)
                  if (wh + 8 <= e) { w = bb.getInt(wh) >>> 16; h = bb.getInt(wh + 4) >>> 16 }
                }
                for ((_, mds, mde) <- mdiaOf(ts, te).toSeq;
                     (_, mis, mie) <- boxes(bb, mds, mde).find(_._1 == "minf").toSeq;
                     (_, sbs, sbe) <- boxes(bb, mis, mie).find(_._1 == "stbl").toSeq;
                     (_, ss, se) <- boxes(bb, sbs, sbe).find(_._1 == "stsz").toSeq
                     if se - ss >= 12)
                  frames = bb.getInt(ss + 8)
            }
        }
      } catch { case scala.util.control.NonFatal(_) =>
        w = -1; h = -1; frames = 0; durMs = 0L
      }
      MediaFeatures(row.media_id, row.kind, row.payload.length.toLong, hex,
        w, h, frames, durMs)
    }

    /** Minimal valid MP4 for fixtures/demos: ftyp + moov(mvhd,
      * trak(tkhd, mdia(hdlr, minf(stbl(stsz))))) with the given
      * dimensions, movie duration (in `timescale` units) and constant-
      * size sample count — everything the header walk reads, nothing it
      * doesn't (no mdat; a real player would want one, the probe never
      * touches it). */
    def minimal(width: Int, height: Int, nFrames: Int,
        timescale: Int, duration: Long): Array[Byte] = {
      def box(typ: String, payload: Array[Byte]*): Array[Byte] = {
        val n = payload.map(_.length).sum
        val bb = java.nio.ByteBuffer.allocate(8 + n)
        bb.putInt(8 + n).put(typ.getBytes("US-ASCII"))
        payload.foreach(bb.put)
        bb.array()
      }
      def beInts(vs: Int*): Array[Byte] = {
        val bb = java.nio.ByteBuffer.allocate(4 * vs.length)
        vs.foreach(bb.putInt); bb.array()
      }
      val matrix = beInts(0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)
      val mvhd = box("mvhd", beInts(0, 0, 0, timescale, duration.toInt,
        0x00010000, 0x01000000), new Array[Byte](8), matrix,
        new Array[Byte](24), beInts(2))
      val tkhd = box("tkhd", beInts(3, 0, 0, 1, 0, duration.toInt),
        new Array[Byte](8), beInts(0, 0), matrix,
        beInts(width << 16, height << 16))
      val hdlr = box("hdlr", beInts(0, 0), "vide".getBytes("US-ASCII"),
        new Array[Byte](13))
      val stsz = box("stsz", beInts(0, 1, nFrames))
      val mdia = box("mdia", hdlr, box("minf", box("stbl", stsz)))
      val ftyp = box("ftyp", "isom".getBytes("US-ASCII"), beInts(0))
      ftyp ++ box("moov", mvhd, box("trak", tkhd, mdia))
    }
  }

  /** Kind-dispatching header decoder: image → [[ImageIoDecoder]],
    * audio → [[WavDecoder]], video → [[Mp4Decoder]], anything else →
    * the deterministic stub. The per-partition batch shape means ONE
    * dispatcher instance serves the whole partition regardless of kind
    * mix. */
  object HeaderDecoder {
    def decode(row: MediaRow): MediaFeatures = row.kind match {
      case "image" => ImageIoDecoder.decode(row)
      case "audio" => WavDecoder.decode(row)
      case "video" => Mp4Decoder.decode(row)
      case _       => FakeDecoder.decode(row)
    }
  }

  /** Batch feature extraction: mapPartitions so any real decoder can
    * amortize per-batch init (model load, codec context) exactly like
    * mapInPandas batches — one decoder instance per partition, streaming
    * through rows without materializing the partition. `decode` defaults
    * to the deterministic [[FakeDecoder]] (no codecs needed); pass
    * [[ImageIoDecoder.decode]] for real PNG/JPEG header extraction. */
  def extractFeatures(media: Dataset[MediaRow],
      decode: MediaRow => MediaFeatures = FakeDecoder.decode): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // real impl: init decoder/codec once here
      rows.map(decode)
    }
  }

  /** REAL file ingestion via Spark's built-in `binaryFile` source — the
    * 100 TB entry point for an image/audio corpus on object storage:
    * each file becomes one row of (path, modificationTime, length,
    * content) with the bytes read ONLY when the content column is
    * actually consumed (column pruning applies; a metadata-only query
    * never downloads payloads). media_id is the xxhash64 of the path
    * (stable across runs), kind derives from the extension, and the
    * path itself rides along as `source` for lineage. */
  def readBinaryFiles(spark: SparkSession, dir: String,
      glob: String = "*"): Dataset[MediaRow] = {
    import spark.implicits._
    val ext = lower(regexp_extract(col("path"), "\\.([A-Za-z0-9]+)$", 1))
    val kind = when(ext.isin("png", "jpg", "jpeg", "gif", "bmp", "webp"), "image")
      .when(ext.isin("mp4", "avi", "mkv", "webm"), "video")
      .when(ext.isin("wav", "mp3", "flac", "ogg"), "audio")
      .otherwise("binary")
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(dir)
      .select(xxhash64(col("path")).as("media_id"), kind.as("kind"),
        col("content").as("payload"), col("path").as("source"))
      .as[MediaRow]
  }

  /** Build a media table from any string column (test/demo helper):
    * payload = utf-8 bytes. At 100 TB the payload column stays in parquet
    * binary chunks; only projected metadata shuffles. */
  def fromText(df: DataFrame, idCol: String, textCol: String, kind: String)(
      implicit spark: SparkSession): Dataset[MediaRow] = {
    import spark.implicits._
    df.select(col(idCol).cast(LongType).as("media_id"), lit(kind).as("kind"),
        encode(col(textCol), "UTF-8").as("payload"),
        lit("synthetic").as("source"))
      .as[MediaRow]
  }
}
