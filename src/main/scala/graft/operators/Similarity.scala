package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Similarity search over embedding columns (Array[Float]):
  * brute-force cosine top-k as the exact baseline, and a random-hyperplane
  * LSH-bucketed variant as the scale path.
  *
  * The LSH family runs on ±1 (Rademacher) planes from an integer hash
  * ([[rademacherPlanes]]) over micro-quantized vectors
  * ([[portableBucket]]), so every bucket id is integer arithmetic a SQL
  * oracle replays bit-for-bit. Only [[embeddingDupPairs]] still defaults
  * to seeded gaussian planes ([[hyperplanes]]); its registered caller
  * passes `portablePlanes = true`.
  *
  * Vector math is `zip_with`/`aggregate` over array columns — codegen'd,
  * sequential left-to-right summation (deterministic, engine-comparable).
  * At 100 TB the LSH path turns the O(N) per-query scan into an O(N/2^p)
  * bucket scan after one map-only bucketing pass.
  */
object Similarity {

  /** Sequential dot product in double precision. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Declarative cosine (portable; three array passes + allocations). */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Native codegen'd cosine (graft.expressions.CosineSimilarity): one
    * fused loop, no allocation — measured ~11x faster than [[cosine]] on
    * 64-dim pairs. The hot-path default for the pair operators below.
    * NOTE: treats null elements as 0 and zero-norm vectors as 0 sim
    * (identical to [[cosine]] on well-formed inputs). */
  def cosineNative(a: Column, b: Column): Column =
    org.apache.spark.sql.graftshim.ColumnShim.column(
      graft.expressions.CosineSimilarity(
        org.apache.spark.sql.graftshim.ColumnShim.expression(a.cast("array<double>")),
        org.apache.spark.sql.graftshim.ColumnShim.expression(b.cast("array<double>"))))

  /** Native codegen'd dot product — for pair pipelines with PRECOMPUTED
    * row norms, where cosine's per-pair norm recomputation is 2/3 of the
    * inner-loop work. */
  def dotNative(a: Column, b: Column): Column =
    org.apache.spark.sql.graftshim.ColumnShim.column(
      graft.expressions.DotProduct(
        org.apache.spark.sql.graftshim.ColumnShim.expression(a.cast("array<double>")),
        org.apache.spark.sql.graftshim.ColumnShim.expression(b.cast("array<double>"))))

  /** Exact top-k by cosine against one literal query vector — the
    * brute-force baseline. Map-only scoring + TakeOrderedAndProject. */
  def bruteForceTopK(
      df: DataFrame, idCol: String, vecCol: String,
      query: Seq[Double], k: Int): DataFrame = {
    val q = typedLit(query)
    df.select(col(idCol),
        round(cosineNative(col(vecCol), q), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** Deterministic random hyperplanes (driver-side PRNG, broadcast as
    * literals — dim×planes doubles, trivially small). */
  def hyperplanes(dim: Int, nPlanes: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-bit bucket id from the hyperplanes (map-only). */
  def lshBucket(vecCol: Column, planes: Seq[Seq[Double]]): Column =
    planes.foldLeft(lit(0L)) { (acc, p) =>
      acc * 2 + when(dot(vecCol, typedLit(p)) >= 0, 1L).otherwise(0L)
    }

  /** PORTABLE ±1 (Rademacher) hyperplanes from a stir-SQUARE-stir integer
    * hash — Knuth multiplicative stir, a QUADRATIC step x → x² mod p that
    * breaks the linearity, one Lehmer smear, threshold at 2³⁰. The earlier
    * all-linear double-Lehmer chain left the planes of DIFFERENT index
    * ranges correlated (linear maps preserve the index lattice), which
    * made multi-table LSH tables redundant: measured union recall of 8
    * tables at p = 12 on cosine-0.95 pairs was 0.73 where independent
    * tables give 0.97 — the same pairs collided, or missed, in every
    * table. With the quadratic step the measured unions sit at 0.94-0.96
    * across the whole [[graft.analytics.DocQueries]] ladder, matching the
    * independence model. Integer-only, so any SQL engine generates the
    * IDENTICAL planes; sign-random-projection with Rademacher directions
    * is the standard sparse variant of gaussian LSH (Achlioptas '01). */
  def rademacherPlanes(dim: Int, nPlanes: Int, planeOffset: Int = 0): Seq[Seq[Long]] =
    Seq.tabulate(nPlanes)(p => Seq.tabulate(dim) { d =>
      val x1 = (((planeOffset.toLong + p) * dim + d + 1) * 2654435761L) % 2147483647L
      val x2 = (x1 * x1) % 2147483647L
      if ((48271L * x2) % 2147483647L < 1073741824L) 1L else -1L
    })

  /** Micro-quantization: floor(x·10⁶) as long, map-only. The double
    * multiply and floor are IEEE-exact and engine-independent — unlike
    * float SUMMATION order, which no two engines promise to share. The
    * 1e-6 resolution is far below embedding noise. */
  def quantize(vecCol: Column): Column =
    transform(vecCol, x => floor(x * lit(1000000.0)).cast("long"))

  /** Sign-bit bucket over a QUANTIZED vector and ±1 planes: pure integer
    * dot products (|dot| < dims·10⁸ ≪ 2⁶³), so the bucket id — and hence
    * the whole LSH blocking decision — is bit-identical across engines.
    * This is what lets the LSH pair/probe queries carry a DuckDB oracle. */
  def portableBucket(qvecCol: Column, planes: Seq[Seq[Long]]): Column =
    planes.foldLeft(lit(0L)) { (acc, p) =>
      val d = aggregate(zip_with(qvecCol, typedLit(p), (x, s) => x * s),
        lit(0L), (a, v) => a + v)
      acc * 2 + when(d >= 0, 1L).otherwise(0L)
    }

  /** Fused-kernel portable bucket (graft.expressions.PortableLshBucket):
    * quantization + all plane dots in one primitive pass, bit-identical
    * to [[portableBucket]] over [[quantize]]+[[rademacherPlanes]] on
    * WELL-FORMED input — vectors of length exactly `dim` with no null
    * elements (spec cross-checked). On malformed input the kernel is
    * authoritative (truncate + null-as-0) while the declarative fold's
    * zip_with null-pads and poisons the sum. The HOF formulation also
    * re-ran the quantize transform inside every plane's interpreted
    * aggregate — nPlanes × dim re-evaluations per row. */
  def portableBucketNative(vecCol: Column, nPlanes: Int, dim: Int,
      planeOffset: Int = 0): Column =
    org.apache.spark.sql.graftshim.ColumnShim.column(
      graft.expressions.PortableLshBucket(
        org.apache.spark.sql.graftshim.ColumnShim.expression(vecCol.cast("array<double>")),
        nPlanes, dim, planeOffset))

  private def portableQueryBucket(query: Seq[Double], planes: Seq[Seq[Long]]): Long = {
    val qq = query.map(x => math.floor(x * 1000000.0).toLong)
    planes.foldLeft(0L) { (acc, p) =>
      acc * 2 + (if (p.zip(qq).map { case (s, x) => s * x }.sum >= 0) 1L else 0L)
    }
  }

  /** ANN top-k with multi-probe: score only the docs in the query's bucket
    * plus all buckets within `probeRadius` bit flips (exact cosine within).
    * Recall/cost is tuned by nPlanes (bucket granularity) and probeRadius
    * (fraction of the space scanned) — at scale the bucket column is
    * precomputed/partitioned so a probe set is a partition-pruned scan. */
  def annTopK(
      df: DataFrame, idCol: String, vecCol: String,
      query: Seq[Double], k: Int, nPlanes: Int = 4,
      probeRadius: Int = 1): DataFrame = {
    val dim = query.length
    val qBucket = portableQueryBucket(query, rademacherPlanes(dim, nPlanes))
    val probes = (0L until (1L << nPlanes))
      .filter(b => java.lang.Long.bitCount(b ^ qBucket) <= probeRadius)
    df.withColumn("_bucket", portableBucketNative(col(vecCol), nPlanes, dim))
      .filter(col("_bucket").isin(probes: _*))
      .select(col(idCol), round(cosineNative(col(vecCol), typedLit(query)), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** Broadcast bound for the verify re-attach: at or under this many
    * vectors the (id, vec, norm) relation BROADCASTS into the pair
    * verify, making both attaches map-side hash joins — the candidate
    * stream flows once, unsorted, never spilled. Above it, shuffled
    * joins take over: on a real cluster the pair stream spreads across
    * executor disks, while a corpus-sized vector table fits no
    * broadcast. The sf10 decade probe measured exactly this wall on a
    * single box: 200k vectors × 34M candidates through the shuffled
    * sort-merge attach spilled past the machine's disk (the candidate
    * stream is sorted TWICE at ~550 B/row), where the broadcast attach
    * streams it map-side. AQE cannot make this call itself because the
    * cached relation's 100+ MB estimate exceeds the session's
    * conservative autoBroadcastJoinThreshold.
    *
    * The bound is DERIVED from this JVM's heap, not guessed: the two
    * attach sides are independent broadcast variables (the a-side and
    * b-side relations differ by column aliases, so they do not share a
    * broadcast id), which costs ~2 × 1.6 kB/vector of heap — ~540 B of
    * serialized row ~3× expanded in the executor hash relation — on the
    * driver AND every executor. The pair is capped at ~10% of max heap,
    * and never above 2M vectors (~3.2 GB peak; the largest size with a
    * measured-safe margin on the 128 GiB probe host — only 200k was
    * exercised, so the ceiling stays well under the theoretical
    * broadcast limits). */
  private val BroadcastAttachMaxVectors: Long =
    math.min(2000000L, (Runtime.getRuntime.maxMemory() * 0.10).toLong / 3200L)

  /** The cached (id, vec, norm) relation + count the pair verify
    * attaches to — built once per distinct vector set; multi-generation
    * flows (q_delta_semantic_2b) build it once over the union of all
    * generations and hand it to every [[deltaSemanticDroppedIds]] call. */
  def verifyVectorRelation(df: DataFrame, idCol: String,
      vecCol: String): (DataFrame, Long) = {
    val v = Caches.register(df.select(col(idCol).as("id"),
      col(vecCol).as("vec"),
      sqrt(dotNative(col(vecCol), col(vecCol))).as("_n")))
    (v, v.count())
  }

  /** The one shared verify: re-attach vectors+norms to the narrow
    * (id_a, id_b) candidate stream — broadcast under
    * [[BroadcastAttachMaxVectors]], shuffled beyond — and keep pairs
    * with fused-dot cosine ≥ threshold. */
  private def attachAndVerify(
      cand: DataFrame, vn: DataFrame, nVec: Long, threshold: Double): DataFrame = {
    val hint: DataFrame => DataFrame =
      if (nVec <= BroadcastAttachMaxVectors) broadcast(_) else identity
    val va = hint(vn.select(col("id").as("id_a"), col("vec").as("_va"), col("_n").as("_na")))
    val vb = hint(vn.select(col("id").as("id_b"), col("vec").as("_vb"), col("_n").as("_nb")))
    val denom = col("_na") * col("_nb")
    cand.join(va, "id_a").join(vb, "id_b")
      .select(col("id_a"), col("id_b"),
        round(when(denom === 0.0, 0.0)
          .otherwise(dotNative(col("_va"), col("_vb")) / denom), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** All-pairs near-duplicates by embedding cosine ≥ threshold, LSH-blocked
    * with multi-probe: a pair forms when the two bucket ids differ in at
    * most `probeRadius` sign bits. With exact-bucket blocking alone
    * (probeRadius = 0) a true pair is silently missed whenever any
    * hyperplane separates it — at nPlanes = 3 that loses ~27% of
    * 0.95-cosine pairs; radius 1 cuts the miss rate to ~3% for a
    * (nPlanes+1)× larger probe side.
    *
    * BAND CONTRACT: recall holds only in the near-dup regime the plane
    * count is sized for — single-plane collision probability is
    * 1 − θ/π, so moderate-similarity pairs (cosine 0.4–0.8) are found
    * with rapidly decaying probability as planes grow with the corpus
    * (measured per-band in q_lsh_recall / SCALING.md: 0.05–0.35 at
    * cosine 0.4–0.6). Exhaustive moderate-band mining is
    * [[tiledBruteForcePairs]] — recall 1.0 at Θ(N²) cost.
    *
    * One side explodes to its XOR-neighborhood (masks with ≤ radius bits
    * set), the other keeps its exact bucket; for a qualifying pair
    * exactly one mask matches (mask = bucketA ^ bucketB) and the id_a <
    * id_b guard keeps one orientation, so no distinct is needed.
    *
    * Buckets holding more than `maxBucket` docs are dropped BEFORE the
    * self-join ([[Dedup.dropHotKeys]], same cap as every blocked pair
    * generator in [[Dedup]]): a bucket of f docs emits O(f²) candidate
    * rows on one reducer, and a degenerate bucket (zero vectors, a
    * boilerplate embedding cluster, too few planes) is exactly where f
    * explodes. The cap is the safety net, not the sizing mechanism —
    * pick nPlanes ≈ log₂(corpus / targetBucketSize) so the EXPECTED
    * bucket is small (e.g. 1B docs, 4k-doc target buckets → p ≈ 18);
    * `maxBucket <= 0` disables the cap. */
  def embeddingDupPairs(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nPlanes: Int = 4, seed: Long = 42L,
      dim: Int = 64, probeRadius: Int = 1,
      maxBucket: Int = Dedup.DefaultMaxDf,
      portablePlanes: Boolean = false): DataFrame = {
    require(probeRadius >= 0 && probeRadius <= nPlanes,
      s"probeRadius=$probeRadius must be in [0, nPlanes=$nPlanes]")
    // portablePlanes switches gaussian hyperplanes for the deterministic
    // quantized-Rademacher scheme ([[portableBucket]]) — identical join
    // topology, but the blocking decision becomes integer arithmetic a
    // SQL oracle can reproduce bit-for-bit
    val bucketExpr =
      if (portablePlanes) portableBucketNative(col(vecCol), nPlanes, dim)
      else lshBucket(col(vecCol), hyperplanes(dim, nPlanes, seed))
    // cached: bucket assignment + PRECOMPUTED norm feed the df-cap pass,
    // the candidate join and the verify re-attach, so the per-pair verify
    // is just the fused dot kernel and a divide (cosine would redo both
    // norms on every candidate pair)
    val raw = Caches.register(df.select(col(idCol).as("id"), col(vecCol).as("vec"),
      bucketExpr.as("bucket"),
      sqrt(dotNative(col(vecCol), col(vecCol))).as("_n")))
    val b = Caches.register(Dedup.dropHotKeys(raw, Seq("bucket"), maxBucket))
    val masks = (0L until (1L << nPlanes))
      .filter(m => java.lang.Long.bitCount(m) <= probeRadius)
    // NARROW candidate join, then re-attach vectors by id: the bucket
    // self-join flows (id, bucket) rows only — measured 2× on the verify
    // stage at 22M candidates vs joining the 64-double vectors through
    // (candidate-row assembly of two ~520 B arrays dominated the fused
    // dot kernel). The two id-joins are keyed re-attaches against the
    // cached relation; candidates never expand beyond the bucket join.
    val slim = b.select(col("id"), col("bucket"))
    val probed = slim.withColumn("_mask", explode(typedLit(masks)))
      .withColumn("_pbucket", col("bucket").bitwiseXOR(col("_mask")))
    val cand = probed.as("a").join(slim.as("b"),
        col("a._pbucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    attachAndVerify(cand, b.select(col("id"), col("vec"), col("_n")),
      b.count(), threshold)
  }

  /** MULTI-TABLE variant of [[embeddingDupPairs]]: `tables` independent
    * plane tables (table l draws planes l·p .. l·p+p−1 from the same
    * portable Lehmer stream), candidates = the UNION of every table's
    * bucket-join candidates, deduplicated BEFORE the one shared verify.
    * This is the standard LSH recall restoration: single-table recall
    * for a true pair at angle θ decays as (1−θ/π)^p when the adaptive
    * plane count p grows with the corpus ([[graft.analytics.DocQueries]]
    * lshPlanesFor); L independent tables lift it to 1−(1−r₁)^L at L×
    * blocking cost — candidates stay ∝ N·L·(p+1), never ∝ N².
    * Portable-planes only (the whole point is an oracle-replayable
    * blocking decision); same df-cap per (table, bucket) and the same
    * narrow-candidate-join topology as the single-table operator. */
  def embeddingDupPairsTables(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nPlanes: Int, tables: Int,
      dim: Int = 64, probeRadius: Int = 1,
      maxBucket: Int = Dedup.DefaultMaxDf): DataFrame = {
    require(tables >= 1, s"tables=$tables must be >= 1")
    require(probeRadius >= 0 && probeRadius <= nPlanes,
      s"probeRadius=$probeRadius must be in [0, nPlanes=$nPlanes]")
    // one narrow (id, tbl, bucket) relation per table, unioned; the map
    // pass over the corpus runs once per table (bucket exprs differ by
    // the literal plane offset), vectors are never carried
    val slim = Caches.register((0 until tables).map { l =>
      df.select(col(idCol).as("id"),
        lit(l).as("tbl"),
        portableBucketNative(col(vecCol), nPlanes, dim, l * nPlanes).as("bucket"))
    }.reduce(_ union _))
    val kept = Caches.register(Dedup.dropHotKeys(slim, Seq("tbl", "bucket"), maxBucket))
    val masks = (0L until (1L << nPlanes))
      .filter(m => java.lang.Long.bitCount(m) <= probeRadius)
    val probed = kept.withColumn("_mask", explode(typedLit(masks)))
      .withColumn("_pbucket", col("bucket").bitwiseXOR(col("_mask")))
    // a pair found by several tables (or several masks) verifies ONCE
    val cand = probed.as("a").join(kept.as("b"),
        col("a.tbl") === col("b.tbl") &&
        col("a._pbucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val vn = Caches.register(df.select(col(idCol).as("id"), col(vecCol).as("vec"),
      sqrt(dotNative(col(vecCol), col(vecCol))).as("_n")))
    attachAndVerify(cand, vn, vn.count(), threshold)
  }

  /** SemDeDup-style semantic deduplication: drop every document that has
    * an embedding-cosine near-duplicate with a SMALLER id, keep the rest.
    * Candidate pairs come from the MULTI-TABLE pair generator
    * ([[embeddingDupPairsTables]]: LSH-blocked, multi-probed, df-capped;
    * `tables = 1` is the single-table blocking), so the whole operator is
    * one blocked self-join plus one anti-join — never O(N²).
    *
    * SEMANTICS — greedy ε-net pruning, not component collapse: a doc
    * survives iff no lower-id doc sits within the cosine threshold. On a
    * chain a–b–c where only ADJACENT pairs are near-dups, b and c are
    * both dropped (c's witness b was itself dropped) — the survivor set
    * is a maximal subset in doc order with pairwise distance > ε among
    * DETECTED pairs, which over-prunes chains relative to keep-one-per-
    * connected-component. That is the standard SemDeDup trade: the
    * anti-join closes in ONE pass, while component collapse needs a
    * closure ([[Dedup.connectedComponents]]) — compose that with
    * [[embeddingDupPairsTables]] instead when chain-preserving semantics
    * matter more than a single-pass plan.
    *
    * The greedy smaller-id pruning is only as good as the pair surface
    * under it: at a corpus-adaptive plane count the recall-restoring
    * L-table union is what keeps a design-point pair (cosine ≥ ~0.95 for
    * the q_embed_dup_hr ladder) detected with ≥ 90% probability.
    *
    * Scale: the pair list is a post-blocking artifact (orders of
    * magnitude smaller than the corpus) and the dropped-id relation is
    * smaller still, so the anti-join broadcasts at any realistic dup
    * rate; the corpus itself is scanned once and never shuffled. */
  def semanticDedupTables(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nPlanes: Int, tables: Int,
      dim: Int = 64, probeRadius: Int = 0,
      maxBucket: Int = Dedup.DefaultMaxDf): DataFrame = {
    val pairs = embeddingDupPairsTables(df, idCol, vecCol, threshold,
      nPlanes, tables, dim, probeRadius, maxBucket)
    val dropped = pairs.select(col("id_b")).distinct()
    df.join(broadcast(dropped), df(idCol) === dropped("id_b"), "left_anti")
  }

  /** A persisted semantic-dedup bucket index: the narrow (id, tbl,
    * bucket) relation PLUS the LSH geometry it was built under. The
    * geometry rides along because an index built with one
    * (nPlanes, tables, dim) is silently USELESS under another — the
    * planes (and their offsets) differ, so index and batch buckets
    * would simply never collide: zero history candidates, the batch
    * sails through dedup, and recall against history collapses to 0
    * with no error anywhere. [[deltaSemanticDroppedIds]] therefore
    * validates the geometry loudly instead of trusting the caller. */
  final case class SemanticIndex(
      buckets: DataFrame, nPlanes: Int, tables: Int, dim: Int) {

    /** CONTINUOUS-INGESTION merge: the index after absorbing a batch —
      * the bucket relation is union-composable by construction (same
      * planes, same offsets, same geometry: the batch's buckets are
      * computed HERE with this index's own parameters, so a mismatch
      * cannot be constructed), and the result serves the NEXT batch's
      * [[deltaSemanticDroppedIds]] call without ever re-bucketing the
      * rows already ingested.
      *
      * The WHOLE batch is absorbed, not just its dedup survivors —
      * deliberately: the drop rule pairs a batch doc against ANY
      * earlier doc (dropped or not), so survivor-only absorption would
      * make the drop set depend on batch boundaries (a doc whose only
      * near-match was itself dropped would sail through), while
      * full-batch absorption makes sequential ingestion reproduce the
      * one-shot union dedup — batch-split associativity, the property
      * that makes an incremental index trustworthy (the
      * DedupSimilaritySpec associativity test pins it).
      *
      * TWO stated limits on that equivalence. (1) Id order: the
      * batch-vs-absorbed drop rule is INGESTION-ORDER keep-first (a
      * batch doc drops against any absorbed near-match, regardless of
      * id), while batch-INTERNAL pairs keep the smaller id — so the
      * one-shot equivalence holds exactly when wave id-ranges are
      * monotone (every later wave's ids exceed the earlier waves'),
      * the natural contract where ids are assigned at arrival. Feed
      * id-interleaved waves and the survivor SET still has one doc per
      * duplicate group, but it is the first-INGESTED one, not the
      * smallest-id one (also spec-pinned). (2) The df-cap is per-run
      * by design — see [[semanticBucketIndex]] — so a bucket crossing
      * the hot threshold BETWEEN generations can shift the candidate
      * surface where the one-shot run caps once. Absorbed rows are
      * dominated by the batch size; the relation is Caches-registered
      * like the one [[semanticBucketIndex]] built. */
    def absorb(batch: DataFrame, idCol: String, vecCol: String): SemanticIndex =
      SemanticIndex(
        Caches.register(buckets.unionByName(
          rawBucketRelation(batch, idCol, vecCol, nPlanes, tables, dim))),
        nPlanes, tables, dim)
  }

  /** The per-table bucket projection union — uncached; the building
    * block of both the persisted index and the one-shot delta path. */
  private def rawBucketRelation(df: DataFrame, idCol: String,
      vecCol: String, nPlanes: Int, tables: Int, dim: Int): DataFrame =
    (0 until tables).map { l =>
      df.select(col(idCol).as("id"), lit(l).as("tbl"),
        portableBucketNative(col(vecCol), nPlanes, dim, l * nPlanes).as("bucket"))
    }.reduce(_ union _)

  /** The persisted-index half of the incremental dedup flow: built
    * (and Caches-registered) ONCE per immutable history snapshot, then
    * passed to every [[deltaSemanticDroppedIds]] call that dedups a
    * batch against that history, so continuous ingestion re-buckets
    * only each arriving batch, never the history. The relation is
    * PRE-df-cap by design: bucket hotness is a property of index +
    * batch TOGETHER, so the cap is applied per run inside the delta
    * query, never baked into the index (a bucket cold in the index can
    * go hot once a batch piles onto it). */
  def semanticBucketIndex(df: DataFrame, idCol: String, vecCol: String,
      nPlanes: Int, tables: Int, dim: Int = 64): SemanticIndex = {
    require(tables >= 1, s"tables=$tables must be >= 1")
    SemanticIndex(
      Caches.register(rawBucketRelation(df, idCol, vecCol, nPlanes, tables, dim)),
      nPlanes, tables, dim)
  }

  /** INCREMENTAL semantic dedup: batch ids DROPPED against an immutable
    * already-ingested history — the embedding analogue of the minhash
    * delta flow (q_delta_neardup) and the production shape of continuous
    * corpus ingestion: history contributes its narrow (id, table,
    * bucket) relation — pass the [[semanticBucketIndex]] built once per
    * history snapshot via `historyIndex` and history is NOT re-bucketed
    * (left empty, the index is built in place: same values, one extra
    * history scan); history vectors are only touched for candidate
    * verifies either way. The batch computes its own buckets, and
    * banding runs over index + batch together. A batch doc drops when
    * it cosine-matches ANY history doc (history is immutable — id order
    * is irrelevant against it) or an EARLIER batch doc (keep-first
    * within the batch, the repo-wide convention).
    *
    * Same hr-ladder blocking as [[semanticDedupTables]] (L tables ×
    * nPlanes portable planes, exact-bucket match, shared df-cap across
    * index + batch so a hot bucket is dropped consistently on both
    * sides), one shared verify. Scale: candidates ∝ |batch|·L·occ —
    * the history enters through the narrow index relation and
    * only its candidate vectors are joined for the verify. */
  def deltaSemanticDroppedIds(
      history: DataFrame, batch: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nPlanes: Int, tables: Int,
      dim: Int = 64, maxBucket: Int = Dedup.DefaultMaxDf,
      historyIndex: Option[SemanticIndex] = None,
      verifyVectors: Option[(DataFrame, Long)] = None): DataFrame = {
    require(tables >= 1, s"tables=$tables must be >= 1")
    // a geometry mismatch is not a degraded mode, it is a silent-zero
    // one (see SemanticIndex) — reject it loudly
    historyIndex.foreach { ix =>
      require(ix.nPlanes == nPlanes && ix.tables == tables && ix.dim == dim,
        s"deltaSemanticDroppedIds: history index was built with " +
          s"(nPlanes=${ix.nPlanes}, tables=${ix.tables}, dim=${ix.dim}) but " +
          s"this call uses (nPlanes=$nPlanes, tables=$tables, dim=$dim) — " +
          "rebuild the index; mismatched planes never collide")
    }
    // no index → build the narrow relation in place, UNCACHED: it is
    // consumed exactly once (the df-capped union below is what caches),
    // so persisting it would be pure memory pressure
    val hIdx = historyIndex.map(_.buckets)
      .getOrElse(rawBucketRelation(history, idCol, vecCol, nPlanes, tables, dim))
      .select(col("id"), lit(0).as("src"), col("tbl"), col("bucket"))
    val bIdx = (0 until tables).map { l =>
      batch.select(col(idCol).as("id"), lit(1).as("src"),
        lit(l).as("tbl"),
        portableBucketNative(col(vecCol), nPlanes, dim, l * nPlanes).as("bucket"))
    }.reduce(_ union _)
    val kept = Caches.register(Dedup.dropHotKeys(
      hIdx.union(bIdx), Seq("tbl", "bucket"), maxBucket))
    val cand = kept.filter(col("src") === 1).as("a")
      .join(kept.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
          (col("b.src") === 0 ||
            (col("b.src") === 1 && col("b.id") < col("a.id"))))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    // `verifyVectors` short-circuits the per-call norm pass: a MULTI-
    // GENERATION caller (q_delta_semantic_2b) passes one cached
    // (id, vec, _n) relation + count covering every generation's rows —
    // the verify attaches by id equality, so a superset relation yields
    // the identical output (candidates only ever reference this
    // generation's ids) while the norm scan, its cache, and its count
    // job run once per query instead of once per generation (r16). The
    // count rides along because it feeds the broadcast-vs-shuffle attach
    // decision; a superset count can only make that choice more
    // conservative, never change a result.
    val (vn, nVec) = verifyVectors.getOrElse(
      verifyVectorRelation(history.unionByName(batch), idCol, vecCol))
    // verify drops the batch side (id_a): against history OR an earlier
    // batch doc, the batch doc is always the one that goes
    attachAndVerify(cand, vn, nVec, threshold)
      .select(col("id_a").as("id")).distinct()
  }

  /** EXACT all-pairs cosine mining in the band [lo, hi) — the
    * moderate-similarity operator the LSH family's band contract points
    * to. LSH recall at cosine 0.4–0.8 decays with the corpus-adaptive
    * plane count (measured 0.05–0.35 in q_lsh_recall's 0.40–0.60 band at
    * sf1) and no affordable table count restores it — single-plane
    * collision probability at cosine 0.4 is ~0.63, needing L ≈ 144
    * tables for 90% recall at p = 9. Exhaustive mining in that regime is
    * information-theoretically quadratic, so this operator embraces it
    * and makes the Θ(N²) honest: a block-tiled self-join.
    *
    * Shape: rows land in blocks of ~`rowsPerBlock` by id; each unordered
    * block pair (i ≤ j) is one join key, so every vector pair meets
    * EXACTLY once (diagonal tiles keep id_a < id_b; cross tiles pair
    * each row of block i with each row of block j). Per-task memory is
    * bounded by the two blocks' vectors (~2 × rowsPerBlock × 540 B),
    * per-tile work by rowsPerBlock² fused-dot kernels, and the Θ(N²/
    * rowsPerBlock) row replication spreads evenly over the cluster —
    * against the single-node cartesian this trades driver-side blowup
    * for a uniform shuffle. Validity bound: ~10⁶ vectors ≈ 5·10¹¹ dots
    * is a large-cluster job; beyond that either accept LSH recall or
    * pre-reduce with [[graft.operators.Pca]]/coarse quantization. */
  def tiledBruteForcePairs(
      df: DataFrame, idCol: String, vecCol: String,
      lo: Double, hi: Double, rowsPerBlock: Int = 2048): DataFrame = {
    require(lo <= hi, s"lo=$lo must be <= hi=$hi")
    val vn = Caches.register(df.select(col(idCol).as("id"),
      col(vecCol).as("vec"),
      sqrt(dotNative(col(vecCol), col(vecCol))).as("_n")))
    // parallelism floor: below 16 blocks the tile count B(B+1)/2 drops
    // under the core count and the quadratic work serializes onto a few
    // tasks (measured 4.9 s for 2M pairs in ONE tile vs sub-second
    // spread); 16 blocks = 136 tiles keeps every slot busy at any n,
    // and blocks smaller than rowsPerBlock only cheapen the per-task
    // memory bound
    val nBlocks = math.max(16L, (vn.count() + rowsPerBlock - 1) / rowsPerBlock)
    val aSide = vn.select(col("id").as("ia"), col("vec").as("va"), col("_n").as("na"))
      .withColumn("_bi", pmod(col("ia"), lit(nBlocks)))
      .withColumn("_bj", explode(sequence(col("_bi"), lit(nBlocks - 1))))
    val bSide = vn.select(col("id").as("ib"), col("vec").as("vb"), col("_n").as("nb"))
      .withColumn("_cj", pmod(col("ib"), lit(nBlocks)))
      .withColumn("_ci", explode(sequence(lit(0L), col("_cj"))))
    val denom = col("na") * col("nb")
    aSide.join(bSide, col("_bi") === col("_ci") && col("_bj") === col("_cj") &&
        (col("_bi") =!= col("_bj") || col("ia") < col("ib")))
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"),
        round(when(denom === 0.0, 0.0)
          .otherwise(dotNative(col("va"), col("vb")) / denom), 6).as("cos_sim"))
      .filter(col("cos_sim") >= lo && col("cos_sim") < hi)
  }

  /** Attach a SELF-CERTIFYING `recall_at_k` column to an approximate
    * top-k result: the fraction of `exact`'s ids that `approx` found,
    * computed IN THE SAME PLAN (semi-join + 1-row aggregate broadcast
    * back over the k result rows — no second action, no driver math).
    * Makes the correctness of an ANN result visible in the result itself:
    * a rows-only harness check now also gates on recall. */
  def withRecall(approx: DataFrame, exact: DataFrame, idCol: String, k: Int): DataFrame = {
    val hits = approx.join(exact.select(col(idCol)), Seq(idCol), "left_semi")
      .agg(round(count(lit(1)).cast(DoubleType) / k, 6).as("recall_at_k"))
    approx.crossJoin(hits)
  }
}
