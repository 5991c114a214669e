package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The df-cap in the blocked pair generators: a blocking key shared by a
  * large fraction of the corpus (boilerplate) must not explode into f²
  * candidates, while genuinely rare shared content must still pair up.
  *
  * Fixture: 50 exact-duplicate boilerplate docs (every blocking key they
  * produce has df = 50), 10 unique filler docs, one planted NEAR-dup
  * pair (ids 100/101 — 12 shared tokens, one extra in 101) and one
  * planted EXACT-dup pair (ids 200/201, unique content). With a cap of
  * 20, all boilerplate-derived keys vanish; the planted pairs' keys
  * (df = 2) survive.
  */
class DedupSkewSpec extends SparkSpec {

  private val boiler = "alpha beta gamma delta epsilon zeta eta theta iota kappa"

  private lazy val corpus: DataFrame = {
    import spark.implicits._
    val rows =
      (1L to 50L).map(i => (i, boiler)) ++
      (61L to 70L).map(i => (i, s"filler$i one$i two$i three$i four$i five$i six$i seven$i")) ++
      Seq(
        (100L, "quick brown fox jumps over the lazy dog near riverbank at dawn"),
        (101L, "quick brown fox jumps over the lazy dog near riverbank at dawn extra"),
        (200L, "entirely separate planted duplicate content block for sketch tests"),
        (201L, "entirely separate planted duplicate content block for sketch tests"))
    rows.toDF("doc_id", "text")
  }

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def boilerPair(p: (Long, Long)): Boolean = p._1 <= 50 && p._2 <= 50

  test("dropHotKeys removes exactly the keys above the cap; 0 disables") {
    import spark.implicits._
    val keyed = Seq.tabulate(30)(i => (i.toLong, "hot")) ++
      Seq((1L, "warm"), (2L, "warm"), (3L, "cold"))
    val df = keyed.toDF("id", "k")
    val kept = Dedup.dropHotKeys(df, Seq("k"), maxDf = 2)
      .select("k").collect().map(_.getString(0))
    assert(kept.sorted.toSeq === Seq("cold", "warm", "warm"))
    assert(Dedup.dropHotKeys(df, Seq("k"), maxDf = 0).count() === 33)
  }

  test("winnow: boilerplate fingerprints capped, rare shared runs survive") {
    val uncapped = pairs(Dedup.winnowPairs(corpus, "doc_id", "text",
      k = 3, w = 4, minShared = 1, maxDf = 0))
    assert(uncapped.size >= 50 * 49 / 2,
      s"uncapped skew fixture should blow up: ${uncapped.size}")
    val capped = pairs(Dedup.winnowPairs(corpus, "doc_id", "text",
      k = 3, w = 4, minShared = 1, maxDf = 20))
    assert(!capped.exists(boilerPair), s"hot fingerprints survived the cap: $capped")
    assert(capped.contains((100L, 101L)), s"planted near-dup lost: $capped")
    assert(capped.contains((200L, 201L)), s"planted exact-dup lost: $capped")
    assert(capped.size <= 10, s"capped candidate set not bounded: ${capped.size}")
  }

  test("jaccard: stop-shingle removal kills boilerplate pairs, keeps planted") {
    val uncapped = pairs(Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
      k = 3, minJaccard = 0.5, maxDf = 0))
    assert(uncapped.size >= 50 * 49 / 2)
    val capped = Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
      k = 3, minJaccard = 0.5, maxDf = 20)
    val cp = pairs(capped)
    assert(!cp.exists(boilerPair))
    assert(cp.contains((100L, 101L)) && cp.contains((200L, 201L)))
    // the planted near-dup's jaccard is computed over the CAPPED space
    val j = capped.filter(col("id_a") === 100L).select("inter", "uni")
      .collect().map(r => r.getLong(0).toDouble / r.getLong(1)).head
    assert(j > 0.8, s"planted near-dup jaccard $j")
  }

  test("minhash LSH: over-full band buckets capped, planted pairs survive") {
    def lsh(maxBucket: Int) = pairs(Dedup.lshCandidates(
      Dedup.minhashSignatures(corpus, "doc_id", "text", k = 3, numHashes = 32),
      bands = 8, rowsPerBand = 4, maxBucket = maxBucket))
    val uncapped = lsh(maxBucket = 0)
    assert(uncapped.size >= 50 * 49 / 2,
      s"identical docs must collide in every band: ${uncapped.size}")
    val capped = lsh(maxBucket = 20)
    assert(!capped.exists(boilerPair), s"hot buckets survived: $capped")
    assert(capped.contains((200L, 201L)), s"planted exact-dup lost: $capped")
  }

  test("connected components assemble pair chains into clusters (both paths)") {
    import spark.implicits._
    // a 5-chain (diameter 4 → several propagation rounds) + a 2-clique
    val pairChain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (7L, 8L))
      .toDF("id_a", "id_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      7L -> 7L, 8L -> 7L)
    // default: small graph takes the driver union-find fast path
    val comp = Dedup.connectedComponents(pairChain)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(comp === expected)
    // a driver-loop bound of 0 forces the distributed star rounds —
    // both paths must produce identical labels
    val loop = DriverLoop.withMaxRows(0L) {
      Dedup.connectedComponents(pairChain)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    }
    assert(loop === expected)
    // an under-provisioned maxIter fails LOUDLY on the star path —
    // unconverged labels would split one real cluster into several,
    // silently keeping dups (the driver path needs no iteration bound)
    val e = intercept[IllegalStateException] {
      DriverLoop.withMaxRows(0L) {
        Dedup.connectedComponents(pairChain, maxIter = 1).collect()
      }
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("embedding dup pairs: degenerate bucket capped, planted pairs survive") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def unit(v: Array[Double]): Seq[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n).toSeq
    }
    // 10 planted near-dup pairs + 20% degenerate all-zero embeddings
    // (every zero vector lands in the all-ones LSH bucket: dot >= 0)
    val planted = Seq.fill(10)(Array.fill(64)(rnd.nextGaussian()))
      .zipWithIndex.flatMap { case (b, i) =>
        Seq((i.toLong * 2, unit(b)), (i.toLong * 2 + 1, unit(b.map(_ + rnd.nextGaussian() * 0.02))))
      }
    val zeros = (1000L until 1005L).map(i => (i, Seq.fill(64)(0.0)))
    val df = (planted ++ zeros).toDF("vec_id", "embedding")
    // threshold 0.0 makes the zero-zero candidates VISIBLE (their cosine
    // is defined as 0.0): the uncapped run must surface all C(5,2) of
    // them, the capped run none — the observable bound on candidates
    def run(maxBucket: Int): Set[(Long, Long)] =
      Similarity.embeddingDupPairs(df, "vec_id", "embedding",
          threshold = 0.0, nPlanes = 3, probeRadius = 0, maxBucket = maxBucket)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def zeroPair(p: (Long, Long)): Boolean = p._1 >= 1000L && p._2 >= 1000L
    val uncapped = run(0)
    assert(uncapped.count(zeroPair) === 10, "all-zero docs must collide uncapped")
    val capped = run(4) // 5 zero docs > cap → their bucket is dropped
    assert(capped.count(zeroPair) === 0, s"hot bucket survived the cap: $capped")
    assert(capped.subsetOf(uncapped))
    // planted pairs outside the dropped bucket still pair up
    val plantedFound = capped.count(p => p._1 < 1000L && p._2 == p._1 + 1)
    assert(plantedFound >= 5, s"capped run lost too many planted pairs: $capped")
  }

  test("connected components: durable checkpoint() path matches localCheckpoint") {
    import spark.implicits._
    val pairChain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (7L, 8L))
      .toDF("id_a", "id_b")
    val local = DriverLoop.withMaxRows(0L) {
      Dedup.connectedComponents(pairChain)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    }
    val dir = tempDir("graft_cc_ckpt").toString
    try {
      val durable = DriverLoop.withMaxRows(0L) {
        Dedup.connectedComponents(pairChain, checkpointDir = Some(dir))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      }
      assert(durable === local)
      // the durable path wrote RDD checkpoints AND reclaimed every
      // superseded generation: only the final labels' generation may
      // remain (edges + per-round star checkpoints are deleted as the
      // rounds advance — Spark itself never cleans reliable checkpoints)
      def count(prefix: String): Long =
        java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
          .filter(p => p.getFileName.toString.startsWith(prefix)).count()
      assert(count("rdd-") === 1,
        "expected exactly the final generation's rdd checkpoint to survive")
      assert(count("gen-") === 1,
        "superseded checkpoint generations were not reclaimed")
      // the DRIVER fast path materializes into local rows — with a
      // checkpoint dir it must reclaim even the edge checkpoint
      val dir2 = tempDir("graft_cc_ckpt_drv")
      val viaDriver = Dedup.connectedComponents(pairChain,
          checkpointDir = Some(dir2.toString))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(viaDriver === local)
      val leftover = java.nio.file.Files.walk(dir2)
        .filter(p => p.getFileName.toString.startsWith("rdd-")).count()
      assert(leftover === 0, "driver path left checkpoint state behind")
      org.apache.commons.io.FileUtils.deleteDirectory(dir2.toFile)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("connected components: integral ids normalize to long on BOTH paths") {
    import spark.implicits._
    val intPairs = Seq((1, 2), (2, 3)).toDF("id_a", "id_b") // IntegerType in
    val driver = Dedup.connectedComponents(intPairs)
    val loop = DriverLoop.withMaxRows(0L)(Dedup.connectedComponents(intPairs))
    // output schema is (id long, label long) regardless of path
    assert(driver.schema.map(_.dataType).forall(_ ===
      org.apache.spark.sql.types.LongType))
    assert(driver.schema.map(_.dataType) === loop.schema.map(_.dataType))
    assert(driver.collect().map(r => (r.getLong(0), r.getLong(1))).toMap ===
      loop.collect().map(r => (r.getLong(0), r.getLong(1))).toMap)
    // non-integral id columns are rejected loudly, not silently nulled
    val bad = Seq(("a", "b")).toDF("id_a", "id_b")
    val e = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(bad)
    }
    assert(e.getMessage.contains("integral id type"))
  }

  test("connected components: a null id fails on both paths") {
    import spark.implicits._
    val withNull = Seq((Some(1L), Some(2L)), (None, Some(2L)), (Some(3L), Some(4L)))
      .toDF("id_a", "id_b")
    for (gate <- Seq(DriverLoop.MaxRows, 0L)) {
      val e = intercept[Exception] {
        DriverLoop.withMaxRows(gate)(Dedup.connectedComponents(withNull).collect())
      }
      assert(e.getMessage.contains("null id in pair list"), s"gate $gate: ${e.getMessage}")
    }
  }

  test("simhash: hot chunk buckets capped, planted exact-dup survives") {
    val uncapped = pairs(Dedup.simhashPairs(corpus, "doc_id", "text",
      maxHamming = 3, maxBucket = 0))
    assert(uncapped.size >= 50 * 49 / 2)
    val capped = pairs(Dedup.simhashPairs(corpus, "doc_id", "text",
      maxHamming = 3, maxBucket = 20))
    assert(!capped.exists(boilerPair))
    assert(capped.contains((200L, 201L)))
  }
}
