package graft.expressions

import graft.{SparkSpec, Tables}
import graft.functions.TextAnalysis
import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** The native text-hash kernels must be bit-identical to the declarative
  * HOF formulations they replace (same xxhash64 bytes/seed). */
class TextHashSpec extends SparkSpec {

  private def docs = Tables.documents(spark, "/root/testdata/sf0.001")

  test("ShingleHashes64 equals declarative shingleHashes as a set") {
    val rows = docs.select(
        sort_array(TextHashExprs.shingleHashes64(
          TextAnalysis.tokens(col("text")), 3)).as("native"),
        sort_array(array_distinct(
          TextAnalysis.shingleHashes(col("text"), 3))).as("decl"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[Long](0) === r.getSeq[Long](1))
    }
  }

  test("ShingleHashes64 short-text fallback: n < k joins all tokens") {
    import spark.implicits._
    val df = Seq("one two", "", "single").toDF("text")
    val rows = df.select(
        TextHashExprs.shingleHashes64(TextAnalysis.tokens(col("text")), 3).as("native"),
        array_distinct(TextAnalysis.shingleHashes(col("text"), 3)).as("decl"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0).sorted === r.getSeq[Long](1).sorted)
      assert(r.getSeq[Long](0).length === 1)
    }
  }

  test("PositionalShingleHashes64 equals the declarative per-window hash, in order") {
    val k = 3
    val ts = TextAnalysis.tokens(col("text"))
    val n = size(ts)
    // declarative mirror: hash of the space-joined window at each start
    val decl = when(n < k, array(xxhash64(concat_ws(" ", ts))))
      .otherwise(transform(sequence(lit(0), n - k),
        i => xxhash64(concat_ws(" ", slice(ts, i + 1, lit(k))))))
    val rows = docs.select(
        TextHashExprs.positionalShingleHashes64(ts, k).as("native"),
        decl.as("decl"), n.as("n"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[Long](0) === r.getSeq[Long](1)) // order-sensitive
      assert(r.getSeq[Long](0).length === math.max(r.getInt(2) - k + 1, 1))
    }
  }

  test("MinHashSignature equals the declarative per-seed array_min") {
    val numHashes = 8
    val base = docs.select(col("doc_id"),
      TextHashExprs.shingleHashes64(TextAnalysis.tokens(col("text")), 3).as("sh"))
    val rows = base.select(
        TextHashExprs.minhashSignature(col("sh"), numHashes).as("native"),
        array((0 until numHashes).map { seed =>
          array_min(transform(col("sh"), h => xxhash64(h, lit(seed))))
        }: _*).as("decl"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0) === r.getSeq[Long](1))
    }
  }

  test("SimHashChunks equals the declarative vote fold") {
    val rows = docs.select(
        TextHashExprs.simhashChunks(TextAnalysis.tokens(col("text"))).as("native"),
        Dedup.simhashChunksDeclarative(col("text")).as("decl"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0) === r.getSeq[Long](1))
    }
  }

  test("winnowing picks a subset of the shingle-hash set, never empty") {
    val rows = docs.select(
        TextHashExprs.winnowFingerprints(TextAnalysis.tokens(col("text")), 3, 4).as("fp"),
        TextHashExprs.shingleHashes64(TextAnalysis.tokens(col("text")), 3).as("sh"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val fp = r.getSeq[Long](0)
      val sh = r.getSeq[Long](1).toSet
      assert(fp.nonEmpty)
      assert(fp.size < sh.size || sh.size <= 4) // thinning unless tiny doc
      fp.foreach(h => assert(sh.contains(h)))
    }
  }

  test("winnowing window-coverage guarantee: every w-window contributes") {
    import spark.implicits._
    // identical long prefix of >= w+k-1 tokens must produce a shared
    // fingerprint between the two docs (the winnowing guarantee)
    val common = (1 to 20).map(i => s"tok$i").mkString(" ")
    val df = Seq(common + " tailone xyz", common + " other ending words")
      .toDF("text")
    val fps = df.select(
        TextHashExprs.winnowFingerprints(TextAnalysis.tokens(col("text")), 3, 4).as("fp"))
      .collect().map(_.getSeq[Long](0).toSet)
    assert(fps(0).intersect(fps(1)).nonEmpty)
  }

  test("PORTABLE kernels match a hand-rolled reference fold (DuckDB-mirror arithmetic)") {
    import spark.implicits._
    val P = 1000000007L
    // the independent reference: fold over CHARACTERS, exactly what the
    // oracle SQL runs as list_reduce over ord(c) — tokens are ASCII so
    // chars == bytes == DuckDB codepoints
    def poly(s: String, base: Long): Long =
      s.foldLeft(0L)((a, ch) => (a * base + ch.toLong) % P)
    val df = Seq("alpha beta gamma delta").toDF("text")
    val want = Seq("alpha beta gamma", "beta gamma delta")
      .map(poly(_, 31L)).distinct.sorted
    val got = df.select(TextHashExprs.shingleHashes64(
        TextAnalysis.tokens(col("text")), 3, portable = true))
      .collect()(0).getSeq[Long](0)
    assert(got === want)
    // minhash slots: ((48271 + 2j)·h + j) mod P over the shingle set
    val sig = df.select(TextHashExprs.minhashSignature(
        TextHashExprs.shingleHashes64(TextAnalysis.tokens(col("text")), 3, portable = true),
        4, portable = true))
      .collect()(0).getSeq[Long](0)
    val wantSig = (0 until 4).map(j => want.map(h => ((48271L + 2 * j) * h + j) % P).min)
    assert(sig === wantSig)
    // winnow: distinct window minima over POSITIONAL hashes
    val toks = "alpha beta gamma delta epsilon zeta".split(" ").toSeq
    val pos = toks.sliding(3).map(_.mkString(" ")).map(poly(_, 31L)).toArray
    val wantFp = pos.sliding(2).map(_.min).toSeq.distinct.sorted
    val gotFp = Seq(toks.mkString(" ")).toDF("text")
      .select(TextHashExprs.winnowFingerprints(
        TextAnalysis.tokens(col("text")), 3, 2, portable = true))
      .collect()(0).getSeq[Long](0)
    assert(gotFp === wantFp)
    // simhash on a ONE-token doc: sketch bits == token-hash bits, so the
    // chunk fold pins both the h31 | h131<<32 packing and the MSB-first
    // chunk layout
    val sk = Seq("ab").toDF("text")
      .select(Dedup.simhashChunks(col("text")))
      .collect()(0).getSeq[Long](0)
    val h64 = poly("ab", 31L) | (poly("ab", 131L) << 32)
    val wantChunks = (0 until 4).map { c =>
      (0 until 16).foldLeft(0L)((acc, b) => acc * 2 + ((h64 >>> (c * 16 + b)) & 1L))
    }
    assert(sk === wantChunks)
  }

  test("kernels survive whole-stage codegen (larger-than-one-row batch)") {
    // exercise the doGenCode path explicitly: a projection over many rows
    // inside one stage, grouped after — would throw on bad generated Java
    val n = docs.select(
        TextHashExprs.shingleHashes64(TextAnalysis.tokens(col("text")), 3).as("sh"))
      .select(explode(col("sh")).as("h")).groupBy().count().collect()(0).getLong(0)
    assert(n > 0)
  }
}
