package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MaintenanceSpec extends SparkSpec {
  import spark.implicits._

  test("compactParquet collapses a many-small-file dir with row parity") {
    val out = tempDir("graft_compact").toString
    spark.range(10000).select($"id", md5($"id".cast("string")).as("payload"))
      .repartition(40)
      .write.mode("overwrite").parquet(out)
    val before = spark.read.parquet(out)
    val expected = before.orderBy($"id").collect()

    val (nBefore, nAfter) = Maintenance.compactParquet(spark, out, targetFileBytes = 1L << 30)
    assert(nBefore == 40)
    assert(nAfter == 1, s"expected 1 compacted file, got $nAfter")
    val after = spark.read.parquet(out)
    assert(after.orderBy($"id").collect().sameElements(expected))
  }

  test("compactParquet is a no-op when the layout already meets the target") {
    val out = tempDir("graft_compact2").toString
    spark.range(100).repartition(2).write.mode("overwrite").parquet(out)
    val (b, a) = Maintenance.compactParquet(spark, out, targetFileBytes = 1L)
    assert(b == 2 && a == 2) // target smaller than files: nothing to gain
  }

  test("compactPartitioned compacts each leaf, preserving partition values") {
    val out = tempDir("graft_compact_part").toString
    spark.range(3000)
      .select($"id", ($"id" % 3).cast("string").as("part"), md5($"id".cast("string")).as("payload"))
      .repartition(8)
      .write.mode("overwrite").partitionBy("part").parquet(out)
    val expected = spark.read.parquet(out).orderBy($"id").collect()

    val (visited, rewritten) = Maintenance.compactPartitioned(spark, out, targetFileBytes = 1L << 30)
    assert(visited == 3 && rewritten == 3, s"visited=$visited rewritten=$rewritten")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    for (p <- Seq("0", "1", "2")) {
      val files = fs.listStatus(new org.apache.hadoop.fs.Path(s"$out/part=$p"))
        .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
      assert(files.length == 1, s"part=$p has ${files.length} files after compaction")
    }
    // rows AND partition-column values survive (partition value lives in
    // the directory name, which the swap preserves)
    assert(spark.read.parquet(out).orderBy($"id").collect().sameElements(expected))
    // helper state never lives INSIDE the root (readers would see it as
    // partitions) and the sibling scratch is cleaned up on success
    assert(spark.read.parquet(out).select($"part").distinct().count() == 3)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(out + "_compact_scratch")))
  }

  test("compactPartitioned recovers a leaf whose previous sweep died mid-swap") {
    val out = tempDir("graft_compact_crash").toString
    spark.range(600)
      .select($"id", ($"id" % 2).cast("string").as("part"))
      .repartition(4)
      .write.mode("overwrite").partitionBy("part").parquet(out)
    val expected = spark.read.parquet(out).orderBy($"id").collect()
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)

    // simulate the crash window: part=1 renamed out to its scratch area,
    // nothing (or partial junk) left at the leaf
    val rel = "part=1"
    val key = rel.getBytes("UTF-8").map(b => f"$b%02x").mkString
    val leafScratch = new org.apache.hadoop.fs.Path(s"${out}_compact_scratch/$key")
    fs.mkdirs(leafScratch)
    val m = fs.create(new org.apache.hadoop.fs.Path(leafScratch, "LEAF"), true)
    m.write(rel.getBytes("UTF-8")); m.close()
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$out/$rel"),
      new org.apache.hadoop.fs.Path(leafScratch, "swap_old")))
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$out/$rel")) // partial junk dir

    val (visited, _) = Maintenance.compactPartitioned(spark, out, targetFileBytes = 1L << 30)
    assert(visited == 2)
    assert(spark.read.parquet(out).orderBy($"id").collect().sameElements(expected),
      "recovered table does not match the original")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(out + "_compact_scratch")))
  }

  test("compactParquet deletes a stale backup left by a crash after the swap") {
    val out = tempDir("graft_compact_stale").toString
    spark.range(200).write.mode("overwrite").parquet(out)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    // simulate a run that committed its tmp->dir rename but died before
    // delete(bak): dir is already compact, bak is a full duplicate
    val bak = new org.apache.hadoop.fs.Path(out + "_compact_old")
    spark.range(200).write.mode("overwrite").parquet(bak.toString)
    assert(fs.exists(bak))

    val (b, a) = Maintenance.compactParquet(spark, out, targetFileBytes = 1L)
    assert(b == a) // already-compact early return still taken
    assert(!fs.exists(bak), "stale backup must be removed even on the early-return path")
    assert(spark.read.parquet(out).count() == 200)
  }

  test("compactPartitioned on a flat directory delegates to compactParquet") {
    val out = tempDir("graft_compact_flat").toString
    spark.range(500).repartition(6).write.mode("overwrite").parquet(out)
    val (visited, rewritten) = Maintenance.compactPartitioned(spark, out, targetFileBytes = 1L << 30)
    assert(visited == 1 && rewritten == 1)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(new org.apache.hadoop.fs.Path(out))
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
    assert(files.length == 1)
  }

  test("writeZOrdered clusters BOTH columns; a plain sort clusters only the first") {
    // two independent uniform columns: after z-ordering, a range slice on
    // EITHER column should overlap a minority of files' min/max spans —
    // that span selectivity is exactly what parquet row-group skipping
    // consumes at scale. The single-column-sort baseline proves the
    // assertion has teeth: its second column spans every file.
    val n = 20000
    val df = spark.range(n).select(
      $"id",
      (hash($"id") % 10000 + 10000).cast("double").as("x"),
      (hash($"id" * 7 + 3) % 10000 + 10000).cast("double").as("y"))
    def fileSpans(dir: String, c: String): Seq[(Double, Double)] = {
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(new org.apache.hadoop.fs.Path(dir))
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map { st =>
          val r = spark.read.parquet(st.getPath.toString)
            .agg(min(col(c)), max(col(c))).collect()(0)
          (r.getDouble(0), r.getDouble(1))
        }.toSeq
    }
    // fraction of files whose [min,max] span overlaps a fixed 1/8 slice
    def overlapFrac(spans: Seq[(Double, Double)]): Double = {
      val (lo, hi) = (11000.0, 13500.0)
      spans.count { case (mn, mx) => mx >= lo && mn <= hi }.toDouble / spans.size
    }
    val zdir = tempDir("graft_zorder").toString + "/t"
    val nFiles = Maintenance.writeZOrdered(spark, df, Seq("x", "y"), zdir,
      numFiles = 16, bits = 4)
    assert(nFiles >= 8, s"expected a multi-file layout, got $nFiles")
    assert(spark.read.parquet(zdir).count() === n, "row parity")
    val zx = overlapFrac(fileSpans(zdir, "x"))
    val zy = overlapFrac(fileSpans(zdir, "y"))
    // file boundaries come from RangePartitioner's SAMPLED range bounds,
    // so the exact overlap fraction jitters run to run — 0.75 keeps the
    // claim sharp against the >= 0.9 unclustered baseline below without
    // flaking on boundary placement
    assert(zx <= 0.75, s"x not clustered under z-order: $zx of files overlap a 1/8 slice")
    assert(zy <= 0.75, s"y not clustered under z-order: $zy of files overlap a 1/8 slice")
    // baseline: range-partition + sort on x alone — y spans everything
    val sdir = tempDir("graft_sorted").toString + "/t"
    df.repartitionByRange(16, $"x").sortWithinPartitions($"x")
      .write.mode("overwrite").parquet(sdir)
    val sy = overlapFrac(fileSpans(sdir, "y"))
    assert(sy >= 0.9, s"baseline sanity: single-sort leaves y unclustered, got $sy")
    // z-ordering one column must be rejected
    intercept[IllegalArgumentException] {
      Maintenance.writeZOrdered(spark, df, Seq("x"), zdir, numFiles = 4)
    }
  }

  test("readEvolved unions evolved schemas, padding old files with null") {
    val out = tempDir("graft_evolve").toString
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$out/f1")
    Seq((2L, "b", 9.5)).toDF("id", "v", "score").write.parquet(s"$out/f2")
    val df = Maintenance.readEvolved(spark, s"$out/f*")
    assert(df.columns.sorted.toSeq == Seq("id", "score", "v"))
    val rows = df.orderBy($"id").collect()
    assert(rows(0).isNullAt(rows(0).fieldIndex("score")))
    assert(rows(1).getDouble(rows(1).fieldIndex("score")) == 9.5)
  }
}
