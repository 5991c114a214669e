package graft.render

import graft.{ListingFixture, SparkSpec}
import graft.multimodal.Multimodal
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** EP2 rendering layer: deterministic PNG geometry verified by
  * decoding the produced bytes back through the engine's own
  * multimodal decoder and by direct pixel probes. */
class ChartsSpec extends SparkSpec {

  private def readPng(bytes: Array[Byte]): java.awt.image.BufferedImage =
    javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))

  private lazy val clean: DataFrame = ListingFixture.clean(spark)

  test("barsPng: proportional heights, axis frame, deterministic bytes") {
    val b1 = Charts.barsPng(Seq(1.0, 2.0, 4.0), width = 320, height = 200, margin = 20)
    val b2 = Charts.barsPng(Seq(1.0, 2.0, 4.0), width = 320, height = 200, margin = 20)
    assert(java.util.Arrays.equals(b1, b2), "same data must render identical bytes")
    val img = readPng(b1)
    assert(img.getWidth === 320 && img.getHeight === 200)
    // the max bar (slot 3) fills the plot height: probe just above the
    // x-axis and near the plot top inside its slot
    val slot = (320 - 40) / 3
    val x3 = 20 + 2 * slot + slot / 2
    assert(img.getRGB(x3, 200 - 20 - 2) === Charts.SeriesColor)
    assert(img.getRGB(x3, 20 + 2) === Charts.SeriesColor)
    // the value-1 bar reaches only a quarter of the plot: its top area is
    // background, its bottom is series
    val x1 = 20 + slot / 2
    assert(img.getRGB(x1, 200 - 20 - 2) === Charts.SeriesColor)
    assert(img.getRGB(x1, 20 + 2) === Charts.Background)
    // axis pixels
    assert(img.getRGB(19, 100) === Charts.AxisColor)
    assert(img.getRGB(160, 180) === Charts.AxisColor)
  }

  test("treemapRects reproduces the slice-and-dice layout semantics") {
    val r = Charts.treemapRects(Seq(1.0, 1.0, 2.0))
    assert(r.length === 3)
    val eps = 1e-9
    def close(a: (Double, Double, Double, Double),
        b: (Double, Double, Double, Double)): Boolean =
      math.abs(a._1 - b._1) < eps && math.abs(a._2 - b._2) < eps &&
        math.abs(a._3 - b._3) < eps && math.abs(a._4 - b._4) < eps
    assert(close(r(0), (0.0, 0.0, 0.25, 1.0)), r(0).toString)
    assert(close(r(1), (0.25, 0.0, 0.75, 1.0 / 3.0)), r(1).toString)
    assert(close(r(2), (0.25, 1.0 / 3.0, 0.75, 2.0 / 3.0)), r(2).toString)
    // slices tile the unit square: areas sum to 1
    assert(math.abs(r.map(t => t._3 * t._4).sum - 1.0) < eps)
  }

  test("sparklinePng: distributed per-group render decodes through the multimodal path") {
    import spark.implicits._
    val grouped = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .groupBy($"event_type")
      .agg(sort_array(collect_list(struct($"ts", $"event_id", $"value"))).as("evs"))
      .select($"event_type", transform($"evs", e => e("value")).as("vals"))
      .withColumn("png", Charts.sparklinePng(128, 32)($"vals"))
    val rows = grouped.select($"event_type", $"png").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val bytes = r.getAs[Array[Byte]]("png")
      val feat = Multimodal.ImageIoDecoder.decode(
        Multimodal.MediaRow(1L, "image", bytes, r.getString(0)))
      assert(feat.width === 128 && feat.height === 32,
        s"${r.getString(0)}: decoded ${feat.width}x${feat.height}")
    }
  }

  test("renderAll produces the four figures as valid PNGs at the declared geometry") {
    val out = tempDir("graft_charts").toString
    val files = Charts.renderAll(clean, out)
    assert(files.length === 4)
    files.foreach { f =>
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f))
      val feat = Multimodal.ImageIoDecoder.decode(
        Multimodal.MediaRow(1L, "image", bytes, f))
      assert(feat.width === 640 && feat.height === 360, s"$f: ${feat.width}x${feat.height}")
    }
  }
}
