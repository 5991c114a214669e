package graft.analytics

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Property coverage for the corpus-report queries beyond the DuckDB
  * hash gate: invariants the oracle comparison can't see (split
  * stability under growth, covariance math vs a direct computation,
  * histogram/partition consistency). */
class CorpusReportsSpec extends SparkSpec {

  private val Dir = "/root/testdata/sf0.01"

  test("q_approx_quantiles: sketch estimates stay within 5% of exact") {
    // the query's hash-oracled surface is exact values + in_bound flags;
    // this spec pins BOTH the flags and the raw estimate accuracy the
    // flags summarize (computed directly, same plan shape)
    val r = graft.SparkEntry.queries("q_approx_quantiles")(spark, Dir).head()
    Seq("p50_in_bound", "p90_in_bound", "p99_in_bound").foreach { c =>
      assert(r.getBoolean(r.fieldIndex(c)), s"$c must certify true")
    }
    import spark.implicits._
    val raw = graft.Tables.events(spark, Dir)
      .agg(
        percentile_approx($"value", typedLit(Seq(0.5, 0.9, 0.99)), lit(1000)).as("a"),
        graft.expressions.ExactQuantiles.quantiles($"value", Seq(0.5, 0.9, 0.99)).as("e"))
      .head()
    val a = raw.getSeq[Double](0); val e = raw.getSeq[Double](1)
    (0 until 3).foreach { i =>
      val err = math.abs(a(i) - e(i)) / math.max(math.abs(e(i)), 1e-9)
      assert(err < 0.05, s"quantile $i rel_err $err out of bound")
    }
  }

  test("q_approx_distinct and q_hll_rollup: bound flags certify true") {
    val d = graft.SparkEntry.queries("q_approx_distinct")(spark, Dir).head()
    assert(d.getBoolean(d.fieldIndex("users_in_bound")))
    assert(d.getBoolean(d.fieldIndex("events_in_bound")))
    val rows = graft.SparkEntry.queries("q_hll_rollup")(spark, Dir).collect()
    assert(rows.length === 6) // 5 event types + ALL
    rows.foreach(r => assert(r.getBoolean(r.fieldIndex("in_bound")),
      s"HLL out of bound for ${r.getString(0)}"))
  }

  test("q_cms_counts: sketch estimate dominates the exact count (CMS guarantee)") {
    val rows = graft.SparkEntry.queries("q_cms_counts")(spark, Dir).collect()
    assert(rows.length === 30)
    rows.foreach { r =>
      val exact = r.getLong(r.fieldIndex("exact_n"))
      val over = r.getLong(r.fieldIndex("overcount"))
      assert(over >= 0L, s"CMS estimate under exact for ${r.getString(0)}")
      assert(exact > 0L)
    }
    // at w=16 on this 31-token vocab, collisions must actually occur —
    // a zero-overcount-everywhere result would mean the sketch is
    // vacuously oversized for the demo
    assert(rows.exists(_.getLong(3) > 0L), "expected visible collisions at w=16")
  }

  test("q_bpe_merges: pair weight never exceeds total weighted pair positions") {
    val rows = graft.SparkEntry.queries("q_bpe_merges")(spark, Dir).collect()
    assert(rows.length === 20)
    // every pair is two [a-z0-9] chars by construction of the tokenizer
    rows.foreach { r =>
      assert(r.getString(0).matches("[a-z0-9]{2}"), s"bad pair ${r.getString(0)}")
      assert(r.getLong(1) >= r.getLong(2), "weighted count below position count")
    }
  }

  test("q_split_assign partitions the corpus and shares sum to 1 per source") {
    val df = PipelineQueries.qSplitAssign.run(spark, Dir).cache()
    val total = df.agg(sum("n_docs")).first().getLong(0)
    val corpus = graft.Tables.documents(spark, Dir).count()
    assert(total === corpus, "every doc lands in exactly one split")
    val badShare = df.groupBy("source")
      .agg(sum("share").as("s"))
      .filter(abs(col("s") - 1.0) > 1e-4)
      .count()
    assert(badShare === 0, "per-source shares sum to 1")
    // global mix near 80/10/10 (hash uniformity; wide tolerance for sf0.01's 500 docs)
    val bySplit = df.groupBy("split").agg(sum("n_docs").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySplit("train").toDouble / total > 0.7 && bySplit("train").toDouble / total < 0.9)
    df.unpersist()
  }

  test("q_split_assign is stable under corpus growth: assignment is a pure function of doc_id") {
    // the same doc_id must land in the same split whether it arrives in a
    // 100-doc corpus or a 10x one — the property randomSplit lacks
    import spark.implicits._
    def assign(ids: Seq[Long]): Map[Long, String] = {
      val h = pmod(pmod($"doc_id", lit(2147483647L)) * lit(48271L),
        lit(2147483647L)) % 1000000L
      ids.toDF("doc_id")
        .select($"doc_id",
          when(h < 800000L, "train").when(h < 900000L, "val").otherwise("test").as("split"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    }
    val small = assign(1L to 100L)
    val grown = assign(1L to 1000L)
    (1L to 100L).foreach(id => assert(small(id) === grown(id)))
  }

  test("sharedSpans: a planted shared passage aligns at the right offsets and length") {
    import spark.implicits._
    // doc 1 and doc 2 share an exact 15-token passage at offsets 3 and 0;
    // doc 3 is unrelated filler. The aligned-diagonal islands must report
    // exactly one (1,2) span: start_a=3, start_b=0, 15 tokens.
    val passage = (1 to 15).map(i => s"shared$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta gamma $passage tail1 tail2"),
      (2L, s"$passage other words here"),
      (3L, "completely unrelated filler text with nothing repeated at all " +
        "padding padding2 padding3 padding4 padding5 padding6 padding7")
    ).toDF("doc_id", "text")
    val tmp = tempDir("spans").toString
    docs.withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = graft.SparkEntry.queries("q_shared_spans")(spark, tmp).collect()
    assert(rows.length === 1, s"expected one span, got ${rows.toSeq}")
    val r = rows.head
    assert(r.getLong(0) === 1L && r.getLong(1) === 2L)
    assert(r.getLong(2) === 3L, s"start_a ${r.getLong(2)}")
    assert(r.getLong(3) === 0L, s"start_b ${r.getLong(3)}")
    assert(r.getLong(4) === 15L, s"span_tokens ${r.getLong(4)}")
  }

  test("q_mix_allocation: weights ~sum to 1e6 ppm, epochs capped at 4, allocation feasible") {
    val rows = graft.SparkEntry.queries("q_mix_allocation")(spark, Dir).collect()
    assert(rows.nonEmpty)
    val ppm = rows.map(_.getLong(rows.head.fieldIndex("weight_ppm"))).sum
    // each source floors its ppm, so the sum undershoots by < 1 ppm/source
    assert(ppm <= 1000000L && ppm > 1000000L - rows.length,
      s"weight ppm sum $ppm out of range")
    rows.foreach { r =>
      val n = r.getLong(r.fieldIndex("n_tokens"))
      val alloc = r.getLong(r.fieldIndex("alloc_tokens"))
      val target = r.getLong(r.fieldIndex("target_tokens"))
      val short = r.getLong(r.fieldIndex("shortfall_tokens"))
      assert(alloc <= 4L * n, "allocation cannot exceed the 4-epoch cap")
      assert(alloc + short === target, "shortfall must close the target")
      assert(short >= 0L && alloc >= 0L)
      assert((r.getInt(r.fieldIndex("capped")) == 1) == (target > 4L * n))
    }
    // the budget is 2x corpus: total allocation stays within it
    val totTarget = rows.map(_.getLong(rows.head.fieldIndex("target_tokens"))).sum
    val totTokens = rows.map(_.getLong(rows.head.fieldIndex("n_tokens"))).sum
    assert(totTarget <= 2L * totTokens, "targets cannot exceed the budget")
  }

  test("q_quality_logreg: the distilled filter beats the majority base rate held-out") {
    val r = graft.SparkEntry.queries("q_quality_logreg")(spark, Dir).head()
    val valAcc = r.getLong(r.fieldIndex("val_acc_ppm"))
    val trainAcc = r.getLong(r.fieldIndex("train_acc_ppm"))
    // majority base rate of the Gopher keep label on the validation fifth
    val keep = graft.SparkEntry.queries("q_gopher_filter")(spark, Dir)
      .filter("doc_id % 5 = 0").selectExpr(
        "sum(keep) * 1000000 div count(1) as base").head().getLong(0)
    val base = math.max(keep, 1000000L - keep)
    assert(valAcc > base + 50000L,
      s"held-out acc $valAcc must beat majority base $base by > 5 points " +
        "(otherwise the trainer converged to the constant classifier)")
    assert(trainAcc > base, s"train acc $trainAcc under base $base")
    assert(valAcc <= 1000000L && trainAcc <= 1000000L)
  }

  test("q_embed_covariance matches a direct per-cell computation and has non-negative variance") {
    import spark.implicits._
    val out = WarehouseQueries.qEmbedCovariance.run(spark, Dir).cache()
    assert(out.count() === 64L * 65 / 2)
    assert(out.filter($"i" === $"j" && $"cov" < -1e-12).count() === 0,
      "diagonal of a covariance matrix is non-negative")
    // spot-check cell (1,1) and (2,5) against a direct quantized computation
    val vecs = graft.Tables.embeddings(spark, Dir)
      .select($"embedding".cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)
    def cell(i: Int, j: Int): Double = {
      val n = vecs.length
      val sq = vecs.map(v => math.floor(v(i - 1) * v(j - 1) * 1e6 + 0.5).toLong).sum
      val m2 = math.floor(sq.toDouble / n + 0.5) / 1e6
      def mean(k: Int): Double = {
        val s = vecs.map(v => math.floor(v(k - 1) * 1e6 + 0.5).toLong).sum
        math.floor(s.toDouble / n + 0.5) / 1e6
      }
      math.floor((m2 - mean(i) * mean(j)) * 1e6 + 0.5) / 1e6
    }
    Seq((1, 1), (2, 5)).foreach { case (i, j) =>
      val got = out.filter($"i" === i && $"j" === j).select($"cov").first().getDouble(0)
      assert(got === cell(i, j), s"cell ($i,$j)")
    }
    out.unpersist()
  }

  test("sourceOverlap ranks a mirrored source pair above unrelated ones") {
    import spark.implicits._
    // srcA and srcB share 8 of 10 docs (mirrors); srcC is disjoint content
    val mirrored = (1 to 8).map(i => (i.toLong, s"alpha beta gamma delta epsilon zeta $i eta theta"))
    val docs = (
      mirrored.map { case (id, t) => (id, t, "srcA") } ++
        mirrored.map { case (id, t) => (id + 100, t, "srcB") } ++
        (1 to 2).map(i => (200L + i, s"unique alpha content number $i for a", "srcA")) ++
        (1 to 2).map(i => (300L + i, s"unique beta content number $i for b", "srcB")) ++
        (1 to 10).map(i => (400L + i, s"totally different words entirely $i here now", "srcC"))
      ).toDF("doc_id", "text", "source")
    val ov = graft.operators.Dedup.sourceOverlap(docs, "doc_id", "text", "source", k = 3, maxDf = 100)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(5)).toMap
    val ab = ov(("srcA", "srcB"))
    assert(ab > 0.5, s"mirrored pair should overlap heavily, got $ab")
    ov.filterKeys(_ != ("srcA", "srcB")).values.foreach(j =>
      assert(j < ab, "unrelated pairs rank below the mirrored pair"))
  }

  test("sourceOverlap: corpus-wide boilerplate is df-capped out of the overlap") {
    import spark.implicits._
    // every doc carries the same boilerplate shingle run; two sources
    // share NOTHING else. With the cap the boilerplate must not count —
    // uncapped it would make every source pair look near-identical AND
    // put all docs in one join bucket (the O(N²)-at-skew shape).
    val boiler = "all rights reserved unauthorized reproduction strictly " +
      "prohibited terms of service apply everywhere"
    val docs = (
      (1 to 30).map(i => (i.toLong, s"$boiler a$i", "srcA")) ++
        (1 to 30).map(i => (100L + i, s"$boiler b$i", "srcB"))
      ).toDF("doc_id", "text", "source")
    val capped = graft.operators.Dedup.sourceOverlap(
      docs, "doc_id", "text", "source", k = 3, maxDf = 20).collect()
    val uncapped = graft.operators.Dedup.sourceOverlap(
      docs, "doc_id", "text", "source", k = 3, maxDf = 0).collect()
    assert(uncapped.nonEmpty && uncapped.head.getDouble(5) > 0.1,
      "sanity: without the cap the boilerplate dominates the overlap")
    val cappedJ = capped.headOption.map(_.getDouble(5)).getOrElse(0.0)
    assert(cappedJ < 0.05,
      s"boilerplate shingles must be capped out, got jaccard $cappedJ")
  }

  test("minhashPairsFromSignatures over a persisted index equals the direct pair generator") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, Dir)
    val direct = graft.operators.Dedup.minhashDedupPairs(docs, "doc_id", "text",
        k = 3, numHashes = 32, bands = 8, threshold = 0.5, maxBucket = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // round-trip the signatures through parquet (the index path) first
    val tmp = tempDir("graft_sig_idx").toString
    graft.operators.Dedup.minhashSignatures(docs, "doc_id", "text",
      k = 3, numHashes = 32).write.mode("overwrite").parquet(tmp)
    val viaIndex = graft.operators.Dedup.minhashPairsFromSignatures(
        spark.read.parquet(tmp), numHashes = 32, bands = 8,
        threshold = 0.5, maxBucket = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaIndex === direct, "the persisted-index path must be a pure refactor")
  }

  test("q_dup_cluster_sizes is consistent with the component relation") {
    import spark.implicits._
    val hist = WarehouseQueries.qDupClusterSizes.run(spark, Dir).cache()
    assert(hist.filter($"cluster_size" < 2).count() === 0,
      "components come from a pair graph — no singletons")
    val docsFromHist = hist.agg(sum("n_docs")).first().getLong(0)
    val comp = DocQueries.qDedupComponents.run(spark, Dir)
    assert(docsFromHist === comp.count(), "histogram covers every clustered doc")
    hist.unpersist()
  }
}
