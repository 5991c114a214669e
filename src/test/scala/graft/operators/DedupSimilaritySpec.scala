package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Cross-validation of the sketch-based operators against their exact
  * counterparts on the sf0.001 corpus (which contains planted near-dups
  * with Jaccard ≈ 0.99). */
class DedupSimilaritySpec extends SparkSpec {

  private val Dir = "/root/testdata/sf0.001"
  private lazy val docs = Tables.documents(spark, Dir).cache()
  private lazy val emb = Tables.embeddings(spark, Dir)
    .withColumn("embedding", col("embedding").cast("array<double>")).cache()

  test("PORTABLE minhash family recovers the high-Jaccard pairs too") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 3, minJaccard = 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    val mh = Dedup.minhashDedupPairs(docs, "doc_id", "text",
        k = 3, numHashes = 32, bands = 8, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(mh.contains).toDouble / exact.size
    assert(recall >= 0.9, s"portable minhash recall $recall over ${exact.size} exact pairs")
  }

  test("q_minhash_precision: estimates track exact Jaccard on emitted pairs") {
    val rows = graft.SparkEntry.queries("q_minhash_precision")(
      spark, "/root/testdata/sf0.01").collect()
    assert(rows.nonEmpty, "precision audit should see the planted near-dups")
    val errs = rows.map(r => r.getDouble(r.fieldIndex("abs_err")))
    // 32-slot signatures: per-pair sd ≈ sqrt(J(1-J)/32) ≤ 0.09 — mean
    // abs err across pairs stays well under 0.15, individual under 0.35
    assert(errs.sum / errs.length <= 0.15,
      s"mean |est - exact| = ${errs.sum / errs.length}")
    assert(errs.max <= 0.35, s"worst pair error ${errs.max}")
  }

  test("PORTABLE winnow family keeps the planted near-dups pairable") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 3, minJaccard = 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val wp = Dedup.winnowPairs(docs, "doc_id", "text", k = 3, w = 4,
        minShared = 2)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(wp.contains).toDouble / exact.size
    assert(recall >= 0.9, s"portable winnow recall $recall over ${exact.size} exact pairs")
  }

  test("PORTABLE simhash family finds near-dup pairs (4 structural-zero bits)") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 3, minJaccard = 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sh = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 6)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty && sh.nonEmpty)
    val recall = exact.count(sh.contains).toDouble / exact.size
    assert(recall >= 0.7, s"portable simhash recall $recall over ${exact.size} exact pairs")
  }

  test("exact groups account for every doc exactly once") {
    val groups = Dedup.exactGroups(docs, "doc_id", "text")
    assert(groups.agg(sum("n_docs")).collect()(0).getLong(0) === docs.count())
  }

  test("ANN top-k has high overlap with brute-force top-k") {
    val q = emb.orderBy("vec_id").limit(1).select("embedding")
      .collect()(0).getSeq[Double](0)
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 20)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val ann = Similarity.annTopK(emb, "vec_id", "embedding", q, k = 20,
        nPlanes = 3, probeRadius = 1)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // random gaussian embeddings have near-orthogonal neighbors, so LSH
    // recall ≈ probed fraction of the space (4/8 buckets here); real
    // clustered embeddings do far better
    val overlap = brute.count(ann.contains).toDouble / brute.size
    assert(overlap >= 0.35, s"ann overlap $overlap")
    assert(ann.size === 20)
    // the self-certifying recall column reports exactly this overlap
    val rec = Similarity.withRecall(
        Similarity.annTopK(emb, "vec_id", "embedding", q, k = 20,
          nPlanes = 3, probeRadius = 1),
        Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 20),
        "vec_id", 20)
      .select("recall_at_k").distinct().collect()
    assert(rec.length === 1, "recall_at_k must be constant over the result")
    assert(math.abs(rec(0).getDouble(0) - overlap) < 1e-6,
      s"recall column ${rec(0).getDouble(0)} != measured overlap $overlap")
  }

  test("IVF search beats plain LSH recall on the same budget") {
    val q = emb.orderBy("vec_id").limit(1).select("embedding")
      .collect()(0).getSeq[Double](0)
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 20)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val model = IvfIndex.fit(emb, "embedding", k = 8)
    assert(model.centroids.length === 8)
    val ivf = IvfIndex.search(emb, "vec_id", "embedding", model, q, k = 20, nProbe = 3)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = brute.count(ivf.contains).toDouble / brute.size
    assert(recall >= 0.3, s"ivf recall $recall") // random embeddings: ≈ probed share
    // every probed result is a true cosine (exact within cells)
    assert(ivf.size === 20)
  }

  test("multi-probe embedding dup pairs find planted near-dups (recall vs brute force)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    // 30 planted near-dup pairs: base + σ=0.02 gaussian noise → cosine
    // ≈ 0.987; random 64-dim bases are near-orthogonal to each other
    val rows = Seq.fill(30)(unit(Array.fill(64)(rnd.nextGaussian())))
      .zipWithIndex.flatMap { case (b, i) =>
        val noisy = unit(b.map(_ + rnd.nextGaussian() * 0.02))
        Seq((i.toLong * 2, b.toSeq), (i.toLong * 2 + 1, noisy.toSeq))
      }
    val df = rows.toDF("vec_id", "embedding")
    val truth = df.as("a").join(df.as("b"),
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("ia"), col("b.vec_id").as("ib"),
        Similarity.cosineNative(col("a.embedding"), col("b.embedding")).as("c"))
      .filter(col("c") >= 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.size === 30, s"fixture: expected 30 planted pairs, got ${truth.size}")
    def found(radius: Int): Set[(Long, Long)] =
      Similarity.embeddingDupPairs(df, "vec_id", "embedding",
          threshold = 0.95, nPlanes = 3, probeRadius = radius)
        .collect().map { r =>
          assert(r.getLong(0) < r.getLong(1)); assert(r.getDouble(2) >= 0.95)
          (r.getLong(0), r.getLong(1))
        }.toSet
    val probed = found(1)
    val recall = truth.count(probed.contains).toDouble / truth.size
    assert(recall >= 0.9, s"multi-probe recall $recall over ${truth.size} planted pairs")
    // multi-probe must dominate exact-bucket blocking
    assert(found(0).subsetOf(probed))
    // the PORTABLE quantized-Rademacher planes (the oracle-able scheme)
    // must find the planted pairs just as well
    val portable = Similarity.embeddingDupPairs(df, "vec_id", "embedding",
        threshold = 0.95, nPlanes = 3, probeRadius = 1, portablePlanes = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pRecall = truth.count(portable.contains).toDouble / truth.size
    assert(pRecall >= 0.9, s"portable-plane recall $pRecall over ${truth.size} planted pairs")
  }

  test("multi-table LSH restores recall lost to a high plane count") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    // same planted-pair fixture shape, but blocked at a HIGH plane count
    // (p = 10, the adaptive regime of a large corpus) where a single
    // table's per-pair collision probability has decayed badly
    val rows = Seq.fill(40)(unit(Array.fill(64)(rnd.nextGaussian())))
      .zipWithIndex.flatMap { case (b, i) =>
        val noisy = unit(b.map(_ + rnd.nextGaussian() * 0.05))
        Seq((i.toLong * 2, b.toSeq), (i.toLong * 2 + 1, noisy.toSeq))
      }
    val df = rows.toDF("vec_id", "embedding")
    val truth = (0 until 40).map(i => (i.toLong * 2, i.toLong * 2 + 1)).toSet
    def pairsOf(res: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      res.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val single = pairsOf(Similarity.embeddingDupPairs(df, "vec_id", "embedding",
      threshold = 0.9, nPlanes = 10, probeRadius = 1, portablePlanes = true))
    val multi = pairsOf(Similarity.embeddingDupPairsTables(df, "vec_id", "embedding",
      threshold = 0.9, nPlanes = 10, tables = 3, probeRadius = 1))
    // table 0 of the multi-table operator IS the single-table blocking,
    // so the union can only add pairs — and on this fixture it must
    // actually add some (the whole point of the variant)
    assert(single.subsetOf(multi),
      "multi-table candidates must be a superset of table 0's")
    val rs = truth.count(single.contains).toDouble / truth.size
    val rm = truth.count(multi.contains).toDouble / truth.size
    assert(rm > rs,
      s"3 tables must beat 1 at p=10 on planted pairs: single=$rs multi=$rm")
    assert(rm >= 0.6, s"multi-table recall $rm too low at p=10, L=3")
    // every emitted pair is verified: no false positives vs the threshold
    multi.foreach { case (a, b) => assert(a < b) }
  }

  test("hr table ladder holds >= 0.9 recall on cosine-0.95 pairs at high plane counts") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    // planted pairs AT the ladder's design point: σ = 0.04 over 64 dims
    // puts cosine ≈ 0.953 ± 0.008, so the surviving (≥ 0.95) pairs sit
    // just above the cosine the lshTablesFor ladder is calibrated for —
    // the worst case its ≥ 0.9 floor must cover
    val rows = Seq.fill(300)(unit(Array.fill(64)(rnd.nextGaussian())))
      .zipWithIndex.flatMap { case (b, i) =>
        val noisy = unit(b.map(_ + rnd.nextGaussian() * 0.04))
        Seq((i.toLong * 2, b.toSeq), (i.toLong * 2 + 1, noisy.toSeq))
      }
    val df = rows.toDF("vec_id", "embedding")
    val truth = df.as("a").join(df.as("b"),
        col("a.vec_id") + 1 === col("b.vec_id") && col("a.vec_id") % 2 === 0)
      .select(col("a.vec_id").as("ia"), col("b.vec_id").as("ib"),
        Similarity.cosineNative(col("a.embedding"), col("b.embedding")).as("c"))
      .filter(col("c") >= 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.size >= 120,
      s"fixture: need a meaningful design-point pair count, got ${truth.size}")
    // (p_hr, L) pairs straight from the q_embed_dup_hr ladder — the
    // adaptive regimes of ~40k and ~160k corpora, plus the p = 18 rung
    // of the UNCAPPED plane ladder (N ≈ 2.6 M, past the old p = 16 cap)
    for ((pHr, l) <- Seq((12, 8), (14, 10), (18, 15))) {
      val found = Similarity.embeddingDupPairsTables(df, "vec_id", "embedding",
          threshold = 0.95, nPlanes = pHr, tables = l, probeRadius = 0)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = truth.count(found.contains).toDouble / truth.size
      assert(recall >= 0.9,
        s"hr ladder p=$pHr L=$l recall $recall over ${truth.size} design-point pairs")
    }
  }

  test("fused portable LSH bucket kernel equals the declarative fold") {
    val native = emb.select(col("vec_id"),
      Similarity.portableBucketNative(col("embedding"), 5, 64).as("b"))
    val decl = emb.select(col("vec_id"),
      Similarity.portableBucket(Similarity.quantize(col("embedding")),
        Similarity.rademacherPlanes(64, 5)).as("b"))
    val n = native.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val d = decl.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(n === d)
    assert(n.values.toSet.size > 1, "buckets should spread")
  }

  test("fused JL projection kernel equals the declarative fold") {
    val jl = org.apache.spark.sql.graftshim.ColumnShim.column(
      graft.expressions.JlProject(
        org.apache.spark.sql.graftshim.ColumnShim.expression(col("embedding")), 16, 64))
    val native = emb.select(col("vec_id"), jl.as("jl"))
      .select(col("vec_id"), col("jl.proj").as("proj"), col("jl.q2").as("q2"),
        col("jl.p2").as("p2"))
      .collect().map(r => r.getLong(0) ->
        ((r.getSeq[Long](1), r.getLong(2), r.getDouble(3)))).toMap
    val planes = Similarity.rademacherPlanes(dim = 64, nPlanes = 16)
    val qv = Similarity.quantize(col("embedding"))
    val projDecl = array(planes.map(p =>
      aggregate(zip_with(qv, typedLit(p), (x, sgn) => x * sgn),
        lit(0L), (acc, v) => acc + v)): _*)
    val decl = emb.select(col("vec_id"), projDecl.as("proj"),
        aggregate(qv, lit(0L), (a, x) => a + x * x).as("q2"))
      .withColumn("p2",
        aggregate(col("proj"), lit(0.0), (a, x) => a + x.cast("double") * x))
      .collect().map(r => r.getLong(0) ->
        ((r.getSeq[Long](1), r.getLong(2), r.getDouble(3)))).toMap
    assert(native === decl)
    // projections must actually vary across vectors
    assert(native.values.map(_._1).toSet.size > 1)
  }

  test("cosine of a vector with itself is 1") {
    val one = emb.limit(5)
      .select(round(Similarity.cosine(col("embedding"), col("embedding")), 9).as("c"))
      .collect().map(_.getDouble(0))
    assert(one.forall(math.abs(_) > 0.999999))
  }

  test("containment catches an included doc that symmetric Jaccard misses") {
    import spark.implicits._
    val big = (1 to 300).map(i => s"w$i").mkString(" ") // 298 3-shingles
    val small = (1 to 30).map(i => s"w$i").mkString(" ") // fully contained
    val other = (1000 to 1300).map(i => s"x$i").mkString(" ")
    val docs = Seq((1L, big), (2L, small), (3L, other)).toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(docs, "doc_id", "text",
        k = 3, minContainment = 0.8, maxDf = 0)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cont === Set((1L, 2L)), s"inclusion pair must surface: $cont")
    val jac = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        k = 3, minJaccard = 0.5, maxDf = 0)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!jac.contains((1L, 2L)),
      "symmetric Jaccard must miss the inclusion (that asymmetry is the point)")
  }

  test("semanticDedup: survivors = corpus minus higher-id near-dup members") {
    // self-consistency on the real corpus: the survivor set must be
    // exactly the anti-join of the single-table pair generator's id_b
    // side, under the SAME parameters (one portable table blocks
    // identically)
    val pairs = Similarity.embeddingDupPairs(emb, "vec_id", "embedding",
      threshold = 0.4, nPlanes = 5, dim = 64, probeRadius = 1, portablePlanes = true)
    val dropped = pairs.select(col("id_b")).distinct()
      .collect().map(_.getLong(0)).toSet
    val survivors = Similarity.semanticDedupTables(emb, "vec_id", "embedding",
        threshold = 0.4, nPlanes = 5, tables = 1, dim = 64, probeRadius = 1)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val allIds = emb.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(survivors === allIds -- dropped)
    assert(survivors.nonEmpty && survivors.size < allIds.size,
      "threshold 0.4 should drop at least one planted/near pair member")
  }

  test("semanticDedup greedy chain semantics: adjacent-only chain drops b AND c") {
    // a–b and b–c are near-dups, a–c is not: greedy lower-id pruning
    // drops BOTH b and c (c's witness b is itself dropped) — documented
    // over-pruning vs connected-component collapse. probeRadius = nPlanes
    // makes the blocking exhaustive so the semantics, not LSH recall,
    // are under test. cos θ = 0.95 ≥ 0.9; cos 2θ ≈ 0.805 < 0.9.
    val theta = math.acos(0.95)
    def vec(ang: Double): Seq[Double] =
      Seq(math.cos(ang), math.sin(ang)) ++ Seq.fill(62)(0.0)
    val rows = Seq((0L, vec(0)), (1L, vec(theta)), (2L, vec(2 * theta)))
    val df = spark.createDataFrame(rows).toDF("vec_id", "embedding")
    val survivors = Similarity.semanticDedupTables(df, "vec_id", "embedding",
        threshold = 0.9, nPlanes = 2, tables = 1, probeRadius = 2)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(survivors === Set(0L),
      s"greedy pruning keeps only the chain head, got $survivors")
    // component collapse over the same pairs keeps the same head here
    // (one component) — the semantics differ on SURVIVOR COUNT only for
    // multi-component chains; this pins the greedy behavior
  }

  test("q_blocking_recall detects df-cap recall loss on a boilerplate-swamped pair") {
    // 150 carrier docs push the shared boilerplate's shingle df past the
    // cap (100); the planted pair (9001, 9002) is boilerplate + tiny
    // unique tails — a TRUE near-dup (uncapped Jaccard ≈ 0.9) whose
    // capped shingle sets are disjoint, so the cap must LOSE it. The
    // clean pair (9003, 9004) shares unique content only and must stay
    // found. The instrument's job is to see both.
    import spark.implicits._
    val boiler = (1 to 100).map(i => s"b$i").mkString(" ")
    val carriers = (1 to 150).map { c =>
      (c.toLong, boiler + " " + (1 to 120).map(j => s"u${c}x$j").mkString(" "))
    }
    val planted = Seq(
      (9001L, boiler + " xtail1 xtail2 xtail3"),
      (9002L, boiler + " ytail1 ytail2 ytail3"))
    val cleanBody = (1 to 100).map(i => s"c$i").mkString(" ")
    val clean = Seq(
      (9003L, cleanBody + " ptail1 ptail2"),
      (9004L, cleanBody + " qtail1 qtail2"))
    val dir = tempDir("graft_brecall").toString
    try {
      (carriers ++ planted ++ clean).toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("spec"))
        .withColumn("n_chars", length($"text").cast("long"))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val out = graft.analytics.DocQueries.qBlockingRecall.run(spark, dir)
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(4))).toMap
      val (nTrue, nBlocked, nFound) = out("all")
      // carriers are NOT near-dups of each other (Jaccard ≈ 0.29 < 0.5):
      // exactly the two planted pairs are true
      assert(nTrue === 2L, s"expected the 2 planted true pairs, got $nTrue")
      assert(nBlocked === 1L && nFound === 1L,
        s"cap must lose the boilerplate pair and keep the clean one " +
          s"(blocked=$nBlocked found=$nFound)")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("tiledBruteForcePairs equals the plain quadratic self-join (recall 1.0)") {
    import spark.implicits._
    def naive(lo: Double, hi: Double): Set[(Long, Long)] = {
      val a = emb.select($"vec_id".as("ia"), $"embedding".as("va"))
      val b = emb.select($"vec_id".as("ib"), $"embedding".as("vb"))
      a.crossJoin(b).filter($"ia" < $"ib")
        .withColumn("cs", round(Similarity.cosineNative($"va", $"vb"), 6))
        .filter($"cs" >= lo && $"cs" < hi)
        .select("ia", "ib").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val expected = naive(0.3, 0.8)
    assert(expected.nonEmpty, "band should be populated on this corpus")
    // several block sizes, including one forcing many tiles (500 ids / 64
    // per block = 8 blocks, 36 tiles) and one collapsing to a single tile
    for (rpb <- Seq(64, 200, 100000)) {
      val got = Similarity.tiledBruteForcePairs(emb, "vec_id", "embedding",
          0.3, 0.8, rowsPerBlock = rpb)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === expected,
        s"rowsPerBlock=$rpb: tiled=${got.size} naive=${expected.size} " +
          s"missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
      graft.operators.Caches.unpersistAll()
    }
  }

  test("deltaSemanticDroppedIds: history matches drop regardless of id order; batch keeps first") {
    import spark.implicits._
    def v(x: Double, y: Double) = Seq(x, y) ++ Seq.fill(62)(0.0)
    // history ids are LARGER than the batch ids on purpose: against
    // immutable history the id order must be irrelevant
    val history = Seq((100L, v(1.0, 0.0))).toDF("id", "vec")
    val batch = Seq(
      (1L, v(1.0, 0.001)),   // ≈ history 100 → drops despite 1 < 100
      (2L, v(0.0, 1.0)),     // orthogonal to everything prior → keeps
      (3L, v(0.0, 1.0001)),  // ≈ batch 2 (earlier) → drops (keep-first)
      (4L, v(-1.0, 0.0))     // anti-parallel to history → keeps
    ).toDF("id", "vec")
    val dropped = Similarity.deltaSemanticDroppedIds(history, batch,
        "id", "vec", threshold = 0.8, nPlanes = 4, tables = 4)
      .collect().map(_.getLong(0)).toSet
    assert(dropped === Set(1L, 3L),
      s"expected {1 (history match), 3 (earlier-batch match)}, got $dropped")
    graft.operators.Caches.unpersistAll()
  }

  test("deltaSemantic reuses the persisted history bucket index: zero history-side recompute") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
    import spark.implicits._
    // range-backed (non-local) relations so bucket kernels stay in the
    // plan instead of constant-folding into LocalTableScan
    def corpus(lo: Long, hi: Long) = spark.range(lo, hi).toDF("id")
      .withColumn("vec", expr(
        "transform(sequence(0, 63), d -> (cast((id*7 + d) % 19 as double) - 9.0) / 9.0)"))
    val history = corpus(100, 140)
    val tables = 4
    val idx = Similarity.semanticBucketIndex(history, "id", "vec", 4, tables)
    idx.buckets.count() // materialize the index once, as a production session would
    // a geometry mismatch must be rejected loudly, never a silent zero
    val mismatch = intercept[IllegalArgumentException] {
      Similarity.deltaSemanticDroppedIds(history, corpus(0, 10),
        "id", "vec", threshold = 0.8, nPlanes = 5, tables = tables,
        historyIndex = Some(idx))
    }
    assert(mismatch.getMessage.contains("rebuild the index"), mismatch.getMessage)
    // SECOND batch against the same persisted index (the first was the count)
    val dropped = Similarity.deltaSemanticDroppedIds(history, corpus(0, 10),
      "id", "vec", threshold = 0.8, nPlanes = 4, tables = tables,
      historyIndex = Some(idx))
    // the df-capped union relation is the one place history buckets could
    // be recomputed; it is the Caches-registered IMR carrying `src`
    val keptImr = dropped.queryExecution.optimizedPlan.collect {
      case m: InMemoryRelation if m.output.exists(_.name == "src") => m
    }.headOption.getOrElse(fail("df-capped union relation not cached"))
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other                    => other
    }
    // walk only the subtree that EXECUTES: stop at cached leaves
    def live(p: SparkPlan): Seq[SparkPlan] = unwrap(p) match {
      case s: InMemoryTableScanExec => Seq(s)
      case o                        => o +: o.children.flatMap(live)
    }
    val nodes = live(keptImr.cachedPlan)
    def hasBucketKernel(p: SparkPlan) = p.expressions.exists(_.collect {
      case b: graft.expressions.PortableLshBucket => b
    }.nonEmpty)
    val bucketNodes = nodes.filter(hasBucketKernel)
    // the batch side must still bucket live (it arrives unindexed) …
    assert(bucketNodes.nonEmpty, "batch side lost its live bucket kernels")
    // … but NO live bucket kernel may sit over history rows: every
    // executing Range leaf under a bucket-computing node is the batch's
    // range(0, 10) — history enters only through the persisted index's
    // InMemoryTableScan (the walk stops at cached leaves, so an index
    // rebuild would surface here as a range(100, 140) leaf)
    val historyLeaves = bucketNodes.flatMap(live).collect {
      case r: org.apache.spark.sql.execution.RangeExec
          if r.range.start >= 100L => r
    }
    assert(historyLeaves.isEmpty,
      s"history rows re-bucketed live: ${historyLeaves.headOption}")
    val idxScans = nodes.collect {
      case s: InMemoryTableScanExec
          if s.output.exists(_.name == "bucket") && !s.output.exists(_.name == "src") => s
    }
    assert(idxScans.nonEmpty, "history side does not read the persisted index cache")
    graft.operators.Caches.unpersistAll()
  }

  test("SemanticIndex.absorb: sequential 2-batch ingestion equals the one-shot union dedup") {
    import spark.implicits._
    // the batch-split ASSOCIATIVITY property that makes the incremental
    // index trustworthy: absorbing batch 1's buckets (ALL of them — see
    // absorb's scaladoc for why survivors-only would break this) and
    // then deduping batch 2 against the grown index must reproduce the
    // one-shot dedup of batch1 ∪ batch2 against the original history,
    // drop for drop. The (id*7 + d) % 19 corpus is dup-rich by
    // construction (ids 19 apart are exact duplicates), so all three
    // drop classes occur: vs history, vs batch 1, vs earlier batch 2.
    def corpus(lo: Long, hi: Long) = spark.range(lo, hi).toDF("id")
      .withColumn("vec", expr(
        "transform(sequence(0, 63), d -> (cast((id*7 + d) % 19 as double) - 9.0) / 9.0)"))
    val history = corpus(100, 140)
    val b1 = corpus(0, 10)
    val b2 = corpus(10, 25)
    val t = 4
    val idx0 = Similarity.semanticBucketIndex(history, "id", "vec", 4, t)
    val d1 = Similarity.deltaSemanticDroppedIds(history, b1, "id", "vec",
        threshold = 0.8, nPlanes = 4, tables = t, historyIndex = Some(idx0))
      .collect().map(_.getLong(0)).toSet
    val idx1 = idx0.absorb(b1, "id", "vec")
    // absorb must preserve the geometry contract, loudly
    val mismatch = intercept[IllegalArgumentException] {
      Similarity.deltaSemanticDroppedIds(history.unionByName(b1), b2,
        "id", "vec", threshold = 0.8, nPlanes = 5, tables = t,
        historyIndex = Some(idx1))
    }
    assert(mismatch.getMessage.contains("rebuild the index"))
    val d2 = Similarity.deltaSemanticDroppedIds(history.unionByName(b1), b2,
        "id", "vec", threshold = 0.8, nPlanes = 4, tables = t,
        historyIndex = Some(idx1))
      .collect().map(_.getLong(0)).toSet
    val oneShot = Similarity.deltaSemanticDroppedIds(history, corpus(0, 25),
        "id", "vec", threshold = 0.8, nPlanes = 4, tables = t)
      .collect().map(_.getLong(0)).toSet
    assert(d1.nonEmpty && d2.nonEmpty, s"degenerate split: d1=$d1 d2=$d2")
    assert((d1 ++ d2) === oneShot,
      s"sequential ${(d1 ++ d2).toSeq.sorted} != one-shot ${oneShot.toSeq.sorted}")
    graft.operators.Caches.unpersistAll()
  }

  test("SemanticIndex.absorb: id-INTERLEAVED waves are ingestion-order keep-first, not id keep-first") {
    import spark.implicits._
    // the stated limit of the one-shot equivalence (absorb's scaladoc,
    // point 1): when a later wave carries a SMALLER id than an absorbed
    // near-duplicate, the sequential flow drops the later-INGESTED doc
    // (batch-vs-absorbed is id-order-free) while the one-shot union
    // dedup drops the larger ID. Same one-survivor-per-group guarantee,
    // different survivor — pinned here so the monotone-id precondition
    // stays a documented contract, not an unstated assumption.
    def doc(id: Long) = Seq(id).toDF("id")
      .withColumn("vec", expr(
        "transform(sequence(0, 63), d -> (cast((d % 19) as double) - 9.0) / 9.0)"))
    val history = spark.range(100, 110).toDF("id")
      .withColumn("vec", expr(
        "transform(sequence(0, 63), d -> (cast((id*7 + d) % 19 as double) - 9.0) / 9.0)"))
    val w1 = doc(50) // ingested first
    val w2 = doc(30) // its exact duplicate, SMALLER id, ingested second
    val t = 4
    val idx0 = Similarity.semanticBucketIndex(history, "id", "vec", 4, t)
    val d1 = Similarity.deltaSemanticDroppedIds(history, w1, "id", "vec",
        threshold = 0.8, nPlanes = 4, tables = t, historyIndex = Some(idx0))
      .collect().map(_.getLong(0)).toSet
    val d2 = Similarity.deltaSemanticDroppedIds(history.unionByName(w1), w2,
        "id", "vec", threshold = 0.8, nPlanes = 4, tables = t,
        historyIndex = Some(idx0.absorb(w1, "id", "vec")))
      .collect().map(_.getLong(0)).toSet
    val oneShot = Similarity.deltaSemanticDroppedIds(history,
        w1.unionByName(w2), "id", "vec", threshold = 0.8, nPlanes = 4,
        tables = t)
      .collect().map(_.getLong(0)).toSet
    // sequential: 50 survives (wave 1, no match), 30 drops against it
    assert(d1 === Set.empty[Long] && d2 === Set(30L),
      s"sequential semantics moved: d1=$d1 d2=$d2")
    // one-shot: id order inside the union keeps 30, drops 50
    assert(oneShot === Set(50L), s"one-shot semantics moved: $oneShot")
    graft.operators.Caches.unpersistAll()
  }

  test("q_delta_semantic: the clone batch drops against history at the ladder's recall") {
    val rows = graft.SparkEntry.queries("q_delta_semantic")(spark, Dir).collect()
    assert(rows.nonEmpty)
    val nBatch = rows.length.toLong
    val nDropped = rows.count(_.getAs[Long]("kept") == 0L).toLong
    // batch = the planted clones; every one has a cosine-0.95+ source in
    // history, so the drop rate IS the hr ladder's design-point recall
    assert(nDropped * 1000000L / nBatch >= 900000L,
      s"dropped $nDropped of $nBatch — below the ladder's recall floor")
  }

  test("q_midband_slice: slice pairs are a subset of the full midband mine, slice bounded") {
    import spark.implicits._
    val full = graft.SparkEntry.queries("q_midband_pairs")(spark, Dir)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rows = graft.SparkEntry.queries("q_midband_slice")(spark, Dir).collect()
    assert(rows.nonEmpty)
    val got = rows.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(got.subsetOf(full), s"slice emitted non-midband pairs: ${(got -- full).take(3)}")
    val nSlice = rows.head.getAs[Long]("n_slice")
    val stride = rows.head.getAs[Long]("stride")
    // at sf0.001 the corpus is under the 1200-doc slice target: stride=1,
    // the slice IS the corpus, and the slice mine equals the full mine —
    // the degenerate end of the contract
    if (stride == 1L) assert(got === full)
    // the O(slice²) bound the operator exists for
    assert(nSlice <= 5000L, s"slice too large: $nSlice")

    // a corpus ABOVE the slice target: stride > 1 must engage and keep
    // the slice (and so the quadratic term) bounded by construction
    val big = (0L until 6000L).map { i =>
      (i, (0 until 64).map(d =>
        (((i * 31 + d * 17 + 7) % 200) - 100) / 100.0))
    }.toDF("vec_id", "embedding")
    val n = big.count()
    val strideBig = (n + 1199L) / 1200L
    val planes = graft.analytics.DocQueries.recallSamplerPlanesFor(strideBig)
    val slice = big.select($"vec_id",
        Similarity.portableBucketNative($"embedding".cast("array<double>"),
          planes, 64, 4096).as("cell"))
      .filter($"cell" % strideBig === 0)
    val m = slice.count()
    assert(strideBig === 5L)
    assert(m > 0L && m < n / 2L,
      s"cell sampling must thin the corpus: kept $m of $n at stride $strideBig")
  }

  test("q_embed_dup_hr planted recall: the ladder holds >= 0.9 in its design band") {
    val rows = graft.SparkEntry.queries("q_embed_dup_hr")(spark, Dir).collect()
    assert(rows.nonEmpty, "planted clones must produce design-band pairs")
    val recallPpm = rows.head.getLong(rows.head.fieldIndex("recall_planted_ppm"))
    assert(recallPpm >= 900000L,
      s"hr ladder recall ${recallPpm / 1e6} below the 0.9 design floor")
    // every emitted pair sits in the calibrated regime — the threshold
    // and the ladder's design point now agree (round-11 verdict item 1)
    val minCos = rows.map(r => r.getDouble(r.fieldIndex("cos_sim"))).min
    assert(minCos >= 0.8, s"pair below the design-regime threshold: $minCos")
    graft.operators.Caches.unpersistAll()
  }
}
